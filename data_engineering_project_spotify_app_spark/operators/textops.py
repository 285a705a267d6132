"""Text-analysis operators over the ``documents`` table.

LLM-training-data primitives (BASELINE.json north star): token counting,
language ID, quality scoring, document fingerprinting. Everything is
built-in expressions — the whole module is UDF-free, so at 100 TB the
text path stays inside WholeStageCodegen with zero Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spotify_app_spark.functions.text import (
    NORMALIZE_SQL,
    TOKENS_SQL,
    adjacent_pairs,
    bigram_str,
    bigram_struct,
    normalize,
    tokens,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table, table_parallel

_TOK = TOKENS_SQL.format(col="text")

# Stopword vote sets for the n-gram language heuristic. Tie-break order is
# the CASE order (en > es > de > fr > zh) — identical in both engines.
_LANGS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "les", "et", "du"),
}


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           n_chars
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token + char counts per document (whitespace tokenizer)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        "n_chars",
    )


def _lang_hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({_TOK}, x -> x IN ({inlist}))) AS BIGINT)"


@query(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_hits_sql(_LANGS['en'])} AS en_hits,
             {_lang_hits_sql(_LANGS['es'])} AS es_hits,
             {_lang_hits_sql(_LANGS['de'])} AS de_hits,
             {_lang_hits_sql(_LANGS['fr'])} AS fr_hits
      FROM documents
    )
    SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
             WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
             WHEN de_hits >= fr_hits THEN 'de'
             ELSE 'fr'
           END AS pred_lang
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-vote heuristic (n-gram language model lite).

    Counts hits against per-language stopword lists and picks the argmax
    with a fixed tie-break. Pure array expressions — no UDF.
    """
    d = table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))

    def hits(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(tok, lambda x: x.isin(*words))).cast("bigint")

    scored = d.select(
        "doc_id",
        "lang",
        hits(_LANGS["en"]).alias("en_hits"),
        hits(_LANGS["es"]).alias("es_hits"),
        hits(_LANGS["de"]).alias("de_hits"),
        hits(_LANGS["fr"]).alias("fr_hits"),
    )
    en, es, de, fr = (F.col(c) for c in ("en_hits", "es_hits", "de_hits", "fr_hits"))
    return scored.withColumn(
        "pred_lang",
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             {_lang_hits_sql(('the', 'a', 'of', 'and'))} AS sw_hits
      FROM documents
    )
    SELECT doc_id, n_tokens,
           round(n_chars / (n_tokens + 1.0), 4) AS avg_token_len,
           round(sw_hits / (n_tokens + 1.0), 4) AS stopword_ratio,
           round(least(n_tokens / 50.0, 1.0) * 0.6
                 + least(sw_hits / (n_tokens + 1.0) * 5.0, 1.0) * 0.4, 4) AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length signal + stopword-density signal.

    The standard cheap pre-filter in training-data pipelines (length
    ratios and stopword density à la C4/Gopher rules), as one
    whole-stage-codegen projection.
    """
    d = table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    sw = ("the", "a", "of", "and")
    t = d.select(
        "doc_id",
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.filter(tok, lambda x: x.isin(*sw))).cast("bigint").alias("sw_hits"),
    )
    n_tok = F.col("n_tokens")
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_chars") / (n_tok + 1.0), 4).alias("avg_token_len"),
        F.round(F.col("sw_hits") / (n_tok + 1.0), 4).alias("stopword_ratio"),
        F.round(
            F.least(n_tok / 50.0, F.lit(1.0)) * 0.6
            + F.least(F.col("sw_hits") / (n_tok + 1.0) * 5.0, F.lit(1.0)) * 0.4,
            4,
        ).alias("quality"),
    )


@query(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({NORMALIZE_SQL.format(col='text')}) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-text fingerprint: md5 over normalized text.

    Normalization (lower, strip punct, collapse whitespace) makes the
    fingerprint robust to formatting-only edits — the exact-dedup key for
    q_dedup_exact's normalized variant.
    """
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(normalize(F.col("text"))).alias("fingerprint"))


# PII patterns, valid with identical semantics in Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround, unambiguous quantifiers
# (Java's leftmost-first and RE2's leftmost-longest agree on these).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9 -]{7,}[0-9]"


@query(
    "q_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_hash
    FROM documents
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and mask emails / IPv4s / phone numbers.

    The mandatory hygiene step before text lands in a training corpus.
    Pure regexp_replace — stays in codegen at 100 TB; the scrubbed text
    is emitted as a hash here so the oracle can value-check the exact
    redaction output without hauling full text through the compare.
    """
    d = table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


_BIGRAMS_REP = (
    "CASE WHEN len({tok}) >= 2 THEN "
    "[{tok}[i] || ' ' || {tok}[i+1] for i in generate_series(1, len({tok}) - 1)] "
    "ELSE [] END"
)


@query(
    "q_repetition_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
    ),
    grams AS (
      SELECT doc_id, tok, {_BIGRAMS_REP.format(tok="tok")} AS bg FROM toks
    ),
    base AS (
      SELECT doc_id,
             CAST(len(tok) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tok) > 0
               THEN 1.0 - len(list_distinct(tok)) * 1.0 / len(tok)
               ELSE 0.0 END, 4) AS dup_token_ratio,
             round(CASE WHEN len(bg) > 0
               THEN 1.0 - len(list_distinct(bg)) * 1.0 / len(bg)
               ELSE 0.0 END, 4) AS dup_bigram_ratio
      FROM grams
    ),
    freq AS (
      SELECT doc_id, max(c) AS top_cnt FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(tok) AS t FROM toks)
        GROUP BY doc_id, t
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.dup_token_ratio, b.dup_bigram_ratio,
           round(coalesce(f.top_cnt * 1.0 / nullif(b.n_tokens, 0), 0.0), 4)
             AS top_token_ratio
    FROM base b LEFT JOIN freq f ON f.doc_id = b.doc_id
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    duplicate-token ratio, duplicate-bigram ratio, and the fraction of
    the doc taken by its single most frequent token.

    High repetition is the classic boilerplate/spam fingerprint — these
    three ratios are the standard cheap filters applied before any model
    ever sees the text.

    Scale: the two dup ratios are pure array expressions (no shuffle at
    all); top_token_ratio is one (doc_id, token) aggregation with
    map-side combine, joined back per doc — the only shuffle, and it is
    keyed by doc so it rides the same partitioning as every other
    per-doc op.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("tok"))
    n = F.size("tok")
    bg = F.when(n >= 2, adjacent_pairs("tok", bigram_str)).otherwise(
        F.array().cast("array<string>")
    )
    base = toks.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(
            F.when(
                n > 0, 1.0 - F.size(F.array_distinct("tok")) / n.cast("double")
            ).otherwise(0.0),
            4,
        ).alias("dup_token_ratio"),
        F.round(
            F.when(
                F.size(bg) > 0,
                1.0 - F.size(F.array_distinct(bg)) / F.size(bg).cast("double"),
            ).otherwise(0.0),
            4,
        ).alias("dup_bigram_ratio"),
    )
    freq = (
        toks.select("doc_id", F.explode("tok").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return base.join(freq, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_ratio",
        "dup_bigram_ratio",
        F.round(
            F.coalesce(
                F.col("top_cnt")
                / F.nullif(F.col("n_tokens"), F.lit(0)).cast("double"),
                F.lit(0.0),
            ),
            4,
        ).alias("top_token_ratio"),
    )


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT sum(CAST(len({_TOK}) AS BIGINT)) AS n FROM documents
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(CAST(v.c AS DOUBLE) / tot.n)), 4) AS avg_logprob
    FROM tok t
    JOIN vocab v ON v.tok = t.tok
    CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM score per document — the CCNet-style quality
    proxy: average ln P(token) under the corpus's own unigram model.
    Documents full of rare/garbled tokens score far below the mean;
    boilerplate scores above it. The standard cheap signal for
    perplexity-bucketing a pretraining corpus when no external LM is
    available.

    The token multiset counts duplicates (a doc repeating one common
    word is NOT penalized as rare — repetition_ratio catches that
    instead). The corpus total is summed from per-doc token counts on a
    second cheap scan of documents — NOT from the vocab aggregate,
    whose second consumer would recompute the explode+count.

    Scale: vocab is a hash aggregation on the token (map-side combined,
    Zipf head collapses early); the score join shuffles tokens by word
    — at 100 TB both sides are token-partitioned so the join is
    co-located; no broadcast assumption on the (huge) vocab.
    """
    d = table_parallel(spark, sf_dir, "documents")
    # toks feeds the vocab build AND the score join; vocab feeds the
    # corpus total AND the join. Lazy checkpoints make the tokenize run
    # ONCE (it ran three times: vocab, join side, and a dedicated
    # total-scan that existed only because vocab used to be re-executed
    # per consumer — guide §2.4). total = Σc is an exact integer
    # identity on the checkpointed vocab.
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=False)
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)
    total = vocab.agg(F.sum("c").alias("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 4
            ).alias("avg_logprob"),
        )
    )


@query(
    "q_bigram_logprob",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ex AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) AS pos
      FROM t0
    ),
    bg AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM ex
      ) WHERE w2 IS NOT NULL
    ),
    bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
    uc AS (SELECT tok, count(*) AS cu FROM ex GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vsz FROM ex)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((bc.cb + 1.0) / (uc.cu + v.vsz))), 4) AS avg_logprob
    FROM bg b
    JOIN bc USING (w1, w2)
    JOIN uc ON uc.tok = b.w1
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM score per document, add-one smoothed — the next
    rung above q_unigram_logprob on the CCNet-style quality ladder:
    avg ln P(w2|w1) with P = (c(w1 w2) + 1) / (c(w1) + V). Word-salad
    documents (plausible tokens, implausible transitions) score low
    where the unigram model cannot tell them apart from prose.

    Docs with fewer than 2 tokens have no bigrams and drop out — in
    both engines identically.

    Scale: consecutive pairs come from adjacent_pairs (constant
    references — no per-element re-evaluation) exploded once; bigram
    counts and context counts are hash aggregations on (w1, w2) / w1
    (map-side combined, Zipf head collapses early); both score joins
    are token-partitioned and co-located at 100 TB; only the vocab-size
    SCALAR is broadcast — no broadcast assumption on the (huge) bigram
    table.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_struct)
    # bg feeds the bigram counts AND the score join; uc feeds the
    # context join AND the vocab-size scalar (an exact row count of the
    # unigram table). Lazy checkpoints cut the corpus tokenize from
    # four executions to two (guide §2.4).
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    ).localCheckpoint(eager=False)
    ex = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uc = ex.groupBy("tok").agg(
        F.count("*").alias("cu")
    ).localCheckpoint(eager=False)
    v = uc.agg(F.count("*").alias("vsz"))
    return (
        bg.join(bc, ["w1", "w2"])
        .join(uc, F.col("tok") == F.col("w1"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("cb") + F.lit(1.0))
                        / (F.col("cu") + F.col("vsz"))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )


# Eval-set slice for LM-based decontamination (a deterministic stand-in
# for a held-out benchmark corpus) and the flagging threshold on the
# ROUNDED avg bigram log-prob — comparisons happen after round(…, 4) in
# both engines so the boolean can never straddle a float ulp.
_EVAL_SOURCES = ("src0", "src1")
_DECONTAM_LP = -3.5


@query(
    "q_lm_decontaminate",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, source, {_TOK} AS t FROM documents
    ),
    evbg AS (
      SELECT unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1]
                for i in generate_series(1, len(t) - 1)]
             ELSE [] END) AS bg
      FROM t0 WHERE source IN {_EVAL_SOURCES!r}
    ),
    evtok AS (
      SELECT unnest(t) AS tok FROM t0 WHERE source IN {_EVAL_SOURCES!r}
    ),
    bc AS (SELECT bg, count(*) AS cb FROM evbg GROUP BY 1),
    uc AS (SELECT tok, count(*) AS cu FROM evtok GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vsz FROM evtok),
    cand AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1]
                for i in generate_series(1, len(t) - 1)]
             ELSE [] END) AS bg
      FROM t0 WHERE source NOT IN {_EVAL_SOURCES!r}
    ),
    scored AS (
      SELECT c.doc_id,
             count(*) AS n_bigrams,
             round(avg(ln((coalesce(bc.cb, 0) + 1.0)
                          / (coalesce(uc.cu, 0) + v.vsz))), 4)
               AS avg_logprob
      FROM cand c
      LEFT JOIN bc USING (bg)
      LEFT JOIN uc ON uc.tok = string_split(c.bg, ' ')[1]
      CROSS JOIN v
      GROUP BY c.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, avg_logprob,
           avg_logprob >= {_DECONTAM_LP} AS flagged
    FROM scored
    """,
)
def q_lm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity decontamination — the GPT-3/Gopher-style complement
    to q_decontaminate's exact 13-gram overlap: train an add-one-smoothed
    bigram LM on the held-out eval slice (here the deterministic
    source ∈ {src0, src1} stand-in), score every TRAINING candidate's
    avg ln P(w2|w1) under that eval LM, and flag docs whose likelihood
    is suspiciously high — text the eval model predicts easily is text
    that overlaps or paraphrases the eval distribution, which shingle
    overlap misses once a few tokens are rewritten.

    OOV discipline: bigrams/contexts unseen in the eval LM contribute
    ln(1 / (0 + V)) via LEFT joins + coalesce(0) — every candidate
    bigram scores, so n_bigrams equals the doc's bigram count exactly.
    The flag compares the ROUNDED score so both engines agree bit-wise.

    Scale: the LM tables are hash aggregations over the (small) eval
    slice; candidate bigrams join on bigram/context key — at 100 TB the
    eval LM is the broadcast-sized side (benchmarks are ~MBs; AQE
    broadcasts it) while candidates stream through map-side — no
    all-pairs stage, no global window, same join ladder as
    q_bigram_logprob but with the frequency tables decoupled from the
    scored corpus.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_struct)
    is_eval = F.col("source").isin(*_EVAL_SOURCES)
    ev_bg = (
        toks.filter(is_eval)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    ev_tok = toks.filter(is_eval).select(F.explode("t").alias("tok"))
    bc = ev_bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    # Measured-and-rejected (r14): pinning uc and folding |V| from its
    # row count saved one eval-slice tokenize pass on paper but ran
    # SLOWER (0.68 → 0.93 s min-of-4, same-session A/B at sf0.1) —
    # uc/v both build inside broadcast jobs whose stages run
    # concurrently; a checkpoint serializes them. The eval slice is
    # small by definition, so the redundant pass is cheap at any scale.
    uc = ev_tok.groupBy("tok").agg(F.count("*").alias("cu"))
    v = ev_tok.agg(F.count_distinct("tok").alias("vsz"))
    cand = (
        toks.filter(~is_eval)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    scored = (
        cand.join(bc, ["w1", "w2"], "left")
        .join(uc, F.col("tok") == F.col("w1"), "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                        / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("vsz"))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        (F.col("avg_logprob") >= _DECONTAM_LP).alias("flagged"),
    )


MIN_DOC_TOKENS = 20
MIN_QUALITY = 0.5


@query(
    "q_corpus_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, md5(text) AS h,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             {_lang_hits_sql(('the', 'a', 'of', 'and'))} AS sw_hits
      FROM documents
    ),
    q AS (
      SELECT doc_id, h, n_tokens,
             least(n_tokens / 50.0, 1.0) * 0.6
               + least(sw_hits / (n_tokens + 1.0) * 5.0, 1.0) * 0.4
               AS quality
      FROM t
    ),
    k AS (SELECT h, min(doc_id) AS keep_id FROM t GROUP BY h)
    SELECT q.doc_id, q.n_tokens, round(q.quality, 4) AS quality,
           CASE
             WHEN q.doc_id <> k.keep_id THEN 'duplicate'
             WHEN q.n_tokens < {MIN_DOC_TOKENS} THEN 'too_short'
             WHEN q.quality < {MIN_QUALITY} THEN 'low_quality'
             ELSE 'ok'
           END AS reason,
           (q.doc_id = k.keep_id AND q.n_tokens >= {MIN_DOC_TOKENS}
             AND q.quality >= {MIN_QUALITY}) AS keep
    FROM q JOIN k USING (h)
    """,
)
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style curation funnel as ONE query: every document gets a
    keep/drop decision with its FIRST failing rule as the reason —
    exact-duplicate (not the min-doc_id keeper of its content hash) →
    too_short (< 20 tokens) → low_quality (the q_quality_score formula
    below 0.5) → ok. The per-reason counts are the funnel report every
    corpus curation run starts from.

    Scale: one codegen projection computes hash + signals; duplicate
    detection is the same min-aggregate + co-partitioned join as
    q_dedup_lines (map-side combinable, AQE-skew-splittable — never a
    digest-partitioned window); thresholds are per-document constants,
    so the decision needs no second corpus pass.
    """
    d = table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    sw = ("the", "a", "of", "and")
    t = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.size(F.filter(tok, lambda x: x.isin(*sw)))
        .cast("bigint")
        .alias("sw_hits"),
    )
    n_tok = F.col("n_tokens")
    q = t.select(
        "doc_id",
        "h",
        "n_tokens",
        (
            F.least(n_tok / 50.0, F.lit(1.0)) * 0.6
            + F.least(F.col("sw_hits") / (n_tok + 1.0) * 5.0, F.lit(1.0))
            * 0.4
        ).alias("quality"),
    )
    k = t.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    ok = (
        (F.col("doc_id") == F.col("keep_id"))
        & (n_tok >= MIN_DOC_TOKENS)
        & (F.col("quality") >= MIN_QUALITY)
    )
    return q.join(k, "h").select(
        "doc_id",
        "n_tokens",
        F.round("quality", 4).alias("quality"),
        F.when(F.col("doc_id") != F.col("keep_id"), "duplicate")
        .when(n_tok < MIN_DOC_TOKENS, "too_short")
        .when(F.col("quality") < MIN_QUALITY, "low_quality")
        .otherwise("ok")
        .alias("reason"),
        ok.alias("keep"),
    )


@query(
    "q_ccnet_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT sum(CAST(len({_TOK}) AS BIGINT)) AS n FROM documents
    ),
    lp AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             round(avg(ln(CAST(v.c AS DOUBLE) / tot.n)), 4) AS lp4
      FROM tok t
      JOIN vocab v ON v.tok = t.tok
      CROSS JOIN tot
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_tokens, lp4,
             row_number() OVER (ORDER BY lp4 DESC, doc_id) AS rn,
             count(*) OVER () AS n
      FROM lp
    )
    SELECT CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(lp4), 4) AS avg_logprob
    FROM ranked GROUP BY 1
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020, §4.3):
    rank every document by its corpus-unigram LM score and cut the
    corpus into thirds — head (best-scoring, cleanest), middle, tail
    (likely boilerplate/garbage) — reporting per-bucket document and
    token budgets. The standard first decision of a pretraining data
    run: which tercile(s) to train on.

    Scale: the global ranking does NOT use a global-order window (one
    task holding the corpus). Same two-phase trick as q_pack_shards:
    range-partition by the (already tiny) per-doc score frame's sort
    key, count per range (one row per partition), broadcast the
    running offsets back, and add them to each range's LOCAL
    row_number. The score frame itself is the q_unigram_logprob
    pipeline: token-partitioned co-located join, no broadcast of the
    vocab. Ranks are tie-free ((lp4, doc_id) is a total order), so the
    bucket cut is deterministic in both engines.
    """
    d = table_parallel(spark, sf_dir, "documents")
    # same shared-frame checkpoints as q_unigram_logprob (guide §2.4):
    # one tokenize pass, total = Σc off the checkpointed vocab
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=False)
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=False)
    total = vocab.agg(F.sum("c").alias("n"))
    lp = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 4
            ).alias("lp4"),
        )
    )
    # two-phase exact global rank over (lp4 DESC, doc_id) — shared
    # range-partition + broadcast-offset form (rankutil.py)
    from data_engineering_project_spotify_app_spark.operators.rankutil import two_phase_global_rank

    ranked = two_phase_global_rank(
        lp,
        [F.col("lp4").desc(), F.col("doc_id")],
        max(8, spark.sparkContext.defaultParallelism),
    ).select("n_tokens", "lp4", "rn", "n")
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return ranked.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("lp4"), 4).alias("avg_logprob"),
    )


# C4-style blocklist (Raffel et al. 2020 filter the "List of Dirty,
# Naughty, Obscene..." words; the PRINCIPLE is a fixed token blocklist).
# Deterministic placeholder list drawn from the synthetic vocabulary so
# the filter exercises real hit/miss paths at every SF.
BADWORDS: tuple[str, ...] = ("slow", "dup", "skew")


@query(
    "q_badwords_filter",
    oracle=f"""
    SELECT doc_id,
           {_lang_hits_sql(BADWORDS)} AS n_bad,
           len({_TOK}) > 0
             AND {_lang_hits_sql(BADWORDS)} = 0 AS keep
    FROM documents
    """,
)
def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 badwords/blocklist filter: drop any document containing a
    blocklisted token (C4 §2.2 drops the whole page on one hit — the
    blunt-but-standard hygiene pass before quality scoring); empty
    documents are dropped too. Emits the hit count so downstream audits
    can distinguish near-misses from saturated spam.

    Scale: one codegen projection per document — the blocklist rides
    inside the expression (a real deployment broadcasts a larger list
    or maps it through a Bloom filter, q_bloom_prune's machinery); no
    shuffle, no UDF, filter pushdown unaffected.
    """
    d = table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    t = d.select(
        "doc_id",
        F.size(F.filter(tok, lambda x: x.isin(*BADWORDS)))
        .cast("bigint")
        .alias("n_bad"),
        F.size(tok).alias("_nt"),
    )
    return t.select(
        "doc_id",
        "n_bad",
        ((F.col("_nt") > 0) & (F.col("n_bad") == 0)).alias("keep"),
    )


# Gopher-rule thresholds (Rae et al. 2021, table A1 subset that is
# meaningful on single-line documents; the duplicate-n-gram char-mass
# rules live in q_repetition_ratio). MIN_TOKENS deliberately sits inside
# the synthetic corpus's length distribution so the filter discriminates.
_GOPHER_MIN_TOKENS = 30
_GOPHER_MAX_TOKENS = 100_000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MIN_ALPHA = 0.8
_GOPHER_MIN_SW = 2
_GOPHER_MAX_SYM = 0.1
_GOPHER_SW = ("the", "a", "of", "and", "to", "be")


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             round(CAST(list_sum([length(x) for x in {_TOK}]) AS DOUBLE)
                   / len({_TOK}), 4) AS mean_word_len,
             round(CAST(len(list_filter({_TOK},
                     x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                   / len({_TOK}), 4) AS frac_alpha,
             {_lang_hits_sql(_GOPHER_SW)} AS sw_hits,
             round((CAST(length(text) - length(replace(text, '#', ''))
                    AS DOUBLE)
                    + (length(text) - length(replace(text, '...', '')))
                      / 3.0)
                   / len({_TOK}), 4) AS sym_ratio
      FROM documents
      WHERE len({_TOK}) > 0
    )
    SELECT doc_id, n_tokens, mean_word_len, frac_alpha, sw_hits,
           sym_ratio,
           CASE
             WHEN n_tokens < {_GOPHER_MIN_TOKENS} THEN 'too_short'
             WHEN n_tokens > {_GOPHER_MAX_TOKENS} THEN 'too_long'
             WHEN mean_word_len < {_GOPHER_MIN_MWL}
               OR mean_word_len > {_GOPHER_MAX_MWL} THEN 'word_len'
             WHEN frac_alpha < {_GOPHER_MIN_ALPHA} THEN 'non_alpha'
             WHEN sw_hits < {_GOPHER_MIN_SW} THEN 'no_stopwords'
             WHEN sym_ratio > {_GOPHER_MAX_SYM} THEN 'symbol_heavy'
             ELSE 'ok'
           END AS reason,
           (n_tokens BETWEEN {_GOPHER_MIN_TOKENS} AND {_GOPHER_MAX_TOKENS}
            AND mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
            AND frac_alpha >= {_GOPHER_MIN_ALPHA}
            AND sw_hits >= {_GOPHER_MIN_SW}
            AND sym_ratio <= {_GOPHER_MAX_SYM}) AS keep
    FROM sig
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, appendix A1) — the
    reference heuristic battery every pretraining corpus passes through
    before model-based filtering: token-count bounds, mean word length
    3–10, ≥80% of words containing an alphabetic character, ≥2 stop
    words, and a symbol-to-word ratio cap (# and … per word). Single
    composite projection with a first-failing-rule reason ladder (same
    ladder style as q_corpus_filter); the duplicate-n-gram char-mass
    rules from the same table are covered by q_repetition_ratio.

    All signals are array expressions over one tokenization — a single
    whole-stage-codegen projection: no shuffle, no join, no window; at
    100 TB this is a pure map over the scan with predicate-pushdown
    intact. Empty docs (no tokens) are excluded up front in both
    engines (division semantics would differ: Spark yields null,
    DuckDB errors on /0 only inside round()).

    The ellipsis symbol counts as ONE symbol per occurrence (the /3.0
    on the length delta); comparisons happen on round(…, 4) values so
    the keep/reason booleans agree bit-wise across engines.
    """
    d = table_parallel(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    toks = d.select("doc_id", "text", tok.alias("t")).filter(
        F.size("t") > 0
    )
    n = F.size("t").cast("bigint")
    mwl = F.round(
        F.aggregate(
            F.transform("t", lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n,
        4,
    )
    frac_alpha = F.round(
        F.size(F.filter("t", lambda x: x.rlike("[a-zA-Z]"))).cast("double")
        / n,
        4,
    )
    sw_hits = F.size(
        F.filter("t", lambda x: x.isin(*_GOPHER_SW))
    ).cast("bigint")
    sym_ratio = F.round(
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            .cast("double")
            + (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))
            )
            / F.lit(3.0)
        )
        / n,
        4,
    )
    sig = toks.select(
        "doc_id",
        n.alias("n_tokens"),
        mwl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha"),
        sw_hits.alias("sw_hits"),
        sym_ratio.alias("sym_ratio"),
    )
    reason = (
        F.when(F.col("n_tokens") < _GOPHER_MIN_TOKENS, "too_short")
        .when(F.col("n_tokens") > _GOPHER_MAX_TOKENS, "too_long")
        .when(
            (F.col("mean_word_len") < _GOPHER_MIN_MWL)
            | (F.col("mean_word_len") > _GOPHER_MAX_MWL),
            "word_len",
        )
        .when(F.col("frac_alpha") < _GOPHER_MIN_ALPHA, "non_alpha")
        .when(F.col("sw_hits") < _GOPHER_MIN_SW, "no_stopwords")
        .when(F.col("sym_ratio") > _GOPHER_MAX_SYM, "symbol_heavy")
        .otherwise("ok")
    )
    keep = (
        F.col("n_tokens").between(_GOPHER_MIN_TOKENS, _GOPHER_MAX_TOKENS)
        & F.col("mean_word_len").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
        & (F.col("frac_alpha") >= _GOPHER_MIN_ALPHA)
        & (F.col("sw_hits") >= _GOPHER_MIN_SW)
        & (F.col("sym_ratio") <= _GOPHER_MAX_SYM)
    )
    return sig.select("*", reason.alias("reason"), keep.alias("keep"))


# Hashing-trick dimensionality and the deterministic stand-in weight
# formula (Knuth multiplicative hash spread over [-1, 1)). A real
# deployment loads trained weights from a table; the JOIN SHAPE is
# what this operator pins down.
_QC_DIM = 1024
_QC_BIAS = 0.1

# DuckDB twin of Spark's conv(substring(md5(x),1,8),16,10): fold the
# first 8 hex chars of column ``d`` into a BIGINT (same macro as the
# KMV sketch family — shared hash space across engines).
_QC_HEX2INT = (
    "("
    + " + ".join(
        f"CAST(instr('0123456789abcdef', substr(d, {1 + k}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (7 - k)}"
        for k in range(8)
    )
    + ")"
)


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH w AS (
      SELECT i AS bucket,
             (CAST((i * 2654435761) % 2048 AS DOUBLE) / 1024.0) - 1.0
               AS wt
      FROM generate_series(0, {_QC_DIM - 1}) t(i)
    ),
    tok AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             {_QC_HEX2INT} % {_QC_DIM} AS bucket
      FROM (SELECT doc_id, md5(tok) AS d FROM tok)
    ),
    scored AS (
      SELECT h.doc_id,
             count(*) AS n_tokens,
             avg(w.wt) AS mean_wt
      FROM hashed h JOIN w USING (bucket)
      GROUP BY h.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-({_QC_BIAS} + mean_wt))), 4) AS score,
           round(1.0 / (1.0 + exp(-({_QC_BIAS} + mean_wt))), 4) >= 0.5
             AS keep
    FROM scored
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter via the hashing trick — the
    fastText/DCLM-style rung above the heuristic batteries: each token
    hashes into one of D=1024 buckets, the document's mean bucket
    weight plus a bias passes through a sigmoid, and docs scoring ≥ 0.5
    keep. The weight VECTOR here is a deterministic formula of the
    bucket index (so both engines derive identical weights and the
    result is fully hash-checked); a production model swaps the
    formula-built frame for a trained-weights table — the plan shape
    (broadcast model join) is identical, which is exactly what this
    operator pins.

    Scale: tokens explode map-side and join the D-row weight table —
    explicitly broadcast (a model vector is KBs; never let a stats-less
    estimate shuffle 100 TB of tokens by bucket). The only shuffle is
    the per-doc partial-aggregated mean. The md5-derived bucket is the
    same shared hash space as the KMV/MinHash family, so the oracle
    reproduces it bit-for-bit.

    Both engines round the final sigmoid to 4 decimals and ``keep``
    compares the ROUNDED score, so the boolean can't straddle an ulp.
    """
    w = (
        spark.range(_QC_DIM)
        .select(
            F.col("id").alias("bucket"),
            (
                ((F.col("id") * F.lit(2654435761)) % F.lit(2048)).cast(
                    "double"
                )
                / F.lit(1024.0)
                - F.lit(1.0)
            ).alias("wt"),
        )
    )
    d = table_parallel(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        (
            F.expr(
                "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
            )
            % _QC_DIM
        ).alias("bucket"),
    )
    scored = (
        hashed.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.avg("wt").alias("mean_wt"),
        )
    )
    score = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.lit(_QC_BIAS) + F.col("mean_wt")))),
        4,
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )


# DSIR hashed-feature space (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): word-bigram features
# hashed into D buckets; per-bucket Laplace-smoothed probabilities under
# the target (eval-slice) and raw distributions; a document's score is
# its mean per-feature log importance ratio.
_DSIR_DIM = 8192


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, source, {_TOK} AS t FROM documents
    ),
    feats AS (
      SELECT doc_id, source IN {_EVAL_SOURCES!r} AS is_target,
             {_QC_HEX2INT} % {_DSIR_DIM} AS bucket
      FROM (
        SELECT doc_id, source,
               md5(unnest(CASE WHEN len(t) >= 2 THEN
                 [t[i] || ' ' || t[i+1]
                  for i in generate_series(1, len(t) - 1)]
               ELSE [] END)) AS d
        FROM t0
      )
    ),
    tc AS (
      SELECT bucket, count(*) AS c FROM feats WHERE is_target GROUP BY 1
    ),
    rc AS (
      SELECT bucket, count(*) AS c FROM feats WHERE NOT is_target GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT count(*) FROM feats WHERE is_target) AS nt,
             (SELECT count(*) FROM feats WHERE NOT is_target) AS nr
    ),
    ratio AS (
      SELECT i AS bucket,
             ln((coalesce(tc.c, 0) + 1.0) / (tot.nt + {_DSIR_DIM}))
               - ln((coalesce(rc.c, 0) + 1.0) / (tot.nr + {_DSIR_DIM}))
               AS lr
      FROM generate_series(0, {_DSIR_DIM - 1}) s(i)
      LEFT JOIN tc ON tc.bucket = i
      LEFT JOIN rc ON rc.bucket = i
      CROSS JOIN tot
    )
    SELECT f.doc_id,
           count(*) AS n_feats,
           round(avg(r.lr), 4) AS avg_logratio
    FROM feats f JOIN ratio r USING (bucket)
    WHERE NOT f.is_target
    GROUP BY f.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every raw
    document by how much more likely its hashed word-bigram features are
    under the TARGET (eval-slice) distribution than under the RAW
    corpus distribution — the importance-resampling rung of the data-
    selection ladder, above heuristics (q_gopher_rules), model scores
    (q_quality_classifier), and single-LM likelihood
    (q_lm_decontaminate). Sampling proportionally to exp(weight) then
    yields a target-like training subset; the weight computation is the
    whole distributed cost and is what this operator pins.

    Hashed n-gram features (md5 → D=8192 buckets, the paper's hashing
    trick) bound the ratio table at D rows regardless of vocabulary:
    both distributions Laplace-smooth over the SAME full bucket spine
    (range-join LEFT of the spine onto the counts), so unseen buckets
    contribute a finite, identical log-ratio in both engines. The score
    is the MEAN per-feature log ratio (same ranking as the paper's sum,
    friendlier cross-engine float behavior under round(…, 4)).

    Scale: feature counts are map-side-combined hash aggregations; the
    ratio table is exactly D=8192 rows — broadcast to the candidate
    features (explicit: never shuffle 100 TB of exploded bigrams by
    bucket); the only candidate-side shuffle is the per-doc mean.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_str)
    feats = (
        toks.select(
            "doc_id",
            F.col("source").isin(*_EVAL_SOURCES).alias("is_target"),
            F.explode(pairs).alias("bg"),
        )
        .select(
            "doc_id",
            "is_target",
            (
                F.expr(
                    "CAST(conv(substring(md5(bg), 1, 8), 16, 10) AS BIGINT)"
                )
                % _DSIR_DIM
            ).alias("bucket"),
        )
    )
    # Measured-and-rejected (r14): fusing tc/rc/tot into one pinned
    # conditional-count aggregation looked like "3 corpus passes → 1"
    # but ran SLOWER (1.37 → 1.93 s min-of-4, same-session A/B at
    # sf0.1) — the three subtrees below all build inside the ratio
    # BROADCAST job, whose independent stages Spark schedules
    # CONCURRENTLY across the cores, while a lazy checkpoint serializes
    # its materialization ahead of the broadcast. Parallel redundant
    # stages beat a serialized shared stage here; kept as-is.
    tc = feats.filter("is_target").groupBy("bucket").agg(
        F.count("*").alias("ct")
    )
    rc = feats.filter("NOT is_target").groupBy("bucket").agg(
        F.count("*").alias("cr")
    )
    tot = feats.agg(
        F.sum(F.col("is_target").cast("long")).alias("nt"),
        F.sum((~F.col("is_target")).cast("long")).alias("nr"),
    )
    spine = spark.range(_DSIR_DIM).select(F.col("id").alias("bucket"))
    ratio = (
        spine.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(_DSIR_DIM))
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nr") + F.lit(_DSIR_DIM))
                )
            ).alias("lr"),
        )
    )
    return (
        feats.filter("NOT is_target")
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.avg("lr"), 4).alias("avg_logratio"),
        )
    )


_VOCAB_V = 24  # top-V vocabulary cap (corpus vocab is ~31 tokens,
#  so the cut leaves a real OOV tail at every SF)


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
    vocab AS (
      SELECT tok FROM counts ORDER BY c DESC, tok LIMIT {_VOCAB_V}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(CAST(count(*) FILTER (v.tok IS NULL) AS DOUBLE)
                 / count(*), 4) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + OOV audit — the tokenizer-prep step:
    build the top-V corpus vocabulary (frequency-ranked, token-string
    tie-break so the cut is deterministic cross-engine) and report each
    document's out-of-vocabulary token rate. High-OOV documents are
    what blows up a subword tokenizer's byte-fallback length — this is
    the audit run before freezing a vocab.

    Scale: token counts are a map-side-combined hash aggregation; the
    top-V cut is TakeOrderedAndProject over the VOCABULARY (not the
    corpus — vocabularies are millions of rows at 100 TB, fine for a
    per-partition top-V + k-merge); the vocab is explicitly broadcast
    back onto the token stream (V rows — never shuffle the corpus by
    token for a dictionary lookup); per-doc rates are one partial-
    aggregated shuffle on doc_id.
    """
    d = table_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_V)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                4,
            ).alias("oov_rate"),
        )
    )


_JM_LAMBDA = 0.75  # bigram weight in the Jelinek-Mercer interpolation


@query(
    "q_lm_backoff_score",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ex AS (SELECT doc_id, unnest(t) AS tok FROM t0),
    bg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1]
                for i in generate_series(1, len(t) - 1)]
             ELSE [] END) AS b
      FROM t0
    ),
    bc AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1),
    uc AS (SELECT tok, count(*) AS cu FROM ex GROUP BY 1),
    tot AS (
      SELECT count(*) AS n, count(DISTINCT tok) AS vsz FROM ex
    )
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(
             {_JM_LAMBDA} * (CAST(bc.cb AS DOUBLE)
                             / uc.cu)
             + {1 - _JM_LAMBDA} * ((uc2.cu + 1.0) / (tot.n + tot.vsz))
           )), 4) AS avg_logprob
    FROM bg g
    JOIN bc ON bc.b = g.b
    JOIN uc ON uc.tok = string_split(g.b, ' ')[1]
    JOIN uc uc2 ON uc2.tok = string_split(g.b, ' ')[2]
    CROSS JOIN tot
    GROUP BY g.doc_id
    """,
)
def q_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram-unigram LM score — the
    smoothing the add-one bigram rung (q_bigram_logprob) lacks:
    P(w2|w1) = λ·P_ML(w2|w1) + (1-λ)·P_laplace(w2), λ=0.75. Add-one on
    bigrams drags every doc toward the (huge) bigram-space floor;
    interpolation lets seen bigrams keep their ML mass and backs off to
    the unigram for the rest — the standard n-gram LM ladder step
    (Chen & Goodman 1999) before Kneser-Ney.

    Every bigram scored here is by construction present in the corpus
    LM (the model is the corpus's own), so P_ML > 0 and the log is
    finite in both engines; the unigram backoff term is Laplace-
    smoothed for the same reason as q_unigram_logprob's denominator.

    Scale: identical join ladder to q_bigram_logprob (token-partitioned
    co-located joins, scalar totals broadcast) — one extra unigram
    join for the w2 backoff term; no window, no all-pairs stage.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_struct)
    # bg feeds the count build AND the score join; uc feeds BOTH unigram
    # join sides (w1 backoff denominator, w2 backoff numerator). Lazy
    # checkpoints stop each consumer re-running the tokenize→explode→
    # aggregate lineage (r14 plan audit: 22 Exchanges / 10 corpus scans
    # without them — guide §2.4). tot derives from the checkpointed
    # unigram counts instead of a THIRD corpus pass — n = Σcu and vsz =
    # |uc| are exact integer identities.
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    ).localCheckpoint(eager=False)
    ex = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uc = ex.groupBy("tok").agg(
        F.count("*").alias("cu")
    ).localCheckpoint(eager=False)
    tot = uc.agg(
        F.sum("cu").cast("bigint").alias("n"),
        F.count("*").alias("vsz"),
    )
    uc1 = uc.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1"))
    uc2 = uc.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    p = F.lit(_JM_LAMBDA) * (
        F.col("cb").cast("double") / F.col("cu1")
    ) + F.lit(1 - _JM_LAMBDA) * (
        (F.col("cu2") + F.lit(1.0)) / (F.col("n") + F.col("vsz"))
    )
    return (
        bg.join(bc, ["w1", "w2"])
        .join(uc1, "w1")
        .join(uc2, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
    )


@query(
    "q_source_quality_report",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, source,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             round(CAST(list_sum([length(x) for x in {_TOK}]) AS DOUBLE)
                   / len({_TOK}), 4) AS mean_word_len,
             round(CAST(len(list_filter({_TOK},
                     x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                   / len({_TOK}), 4) AS frac_alpha,
             {_lang_hits_sql(_GOPHER_SW)} AS sw_hits,
             round((CAST(length(text) - length(replace(text, '#', ''))
                    AS DOUBLE)
                    + (length(text) - length(replace(text, '...', '')))
                      / 3.0)
                   / len({_TOK}), 4) AS sym_ratio
      FROM documents
      WHERE len({_TOK}) > 0
    ),
    gopher AS (
      SELECT doc_id, source,
             (n_tokens BETWEEN {_GOPHER_MIN_TOKENS} AND {_GOPHER_MAX_TOKENS}
              AND mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
              AND frac_alpha >= {_GOPHER_MIN_ALPHA}
              AND sw_hits >= {_GOPHER_MIN_SW}
              AND sym_ratio <= {_GOPHER_MAX_SYM}) AS keep
      FROM sig
    ),
    w AS (
      SELECT i AS bucket,
             (CAST((i * 2654435761) % 2048 AS DOUBLE) / 1024.0) - 1.0 AS wt
      FROM generate_series(0, {_QC_DIM - 1}) t(i)
    ),
    hashed AS (
      SELECT doc_id, {_QC_HEX2INT} % {_QC_DIM} AS bucket
      FROM (
        SELECT doc_id, md5(unnest({_TOK})) AS d FROM documents
      )
    ),
    clf AS (
      SELECT h.doc_id,
             round(1.0 / (1.0 + exp(-({_QC_BIAS} + avg(w.wt)))), 4)
               AS score
      FROM hashed h JOIN w USING (bucket)
      GROUP BY h.doc_id
    )
    SELECT g.source,
           count(*) AS n_docs,
           round(avg(CASE WHEN g.keep THEN 1.0 ELSE 0.0 END), 4)
             AS gopher_keep_rate,
           round(avg(clf.score), 4) AS mean_clf_score
    FROM gopher g JOIN clf USING (doc_id)
    GROUP BY g.source
    """,
)
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality mixture report — the table a data-mixture
    decision actually reads: for every source, its Gopher-rule survival
    rate and its mean model-based quality score, side by side. A source
    with a low keep rate gets down-weighted (or re-cleaned) BEFORE
    mixture weights (q_source_weights) are computed; composing the two
    registered scorers per source is exactly how the DoReMi/DCLM-style
    mixture loops consume them.

    Built by CALLING the registered operators (q_gopher_rules,
    q_quality_classifier) and aggregating their outputs per source —
    zero logic duplication Spark-side; the oracle restates both
    formulas from the shared module constants.

    Scale: adds one (doc_id → source) join and a sources-bounded
    aggregation on top of the scorers' own plans — the report output is
    O(sources) regardless of corpus size.
    """
    gopher = q_gopher_rules(spark, sf_dir).select("doc_id", "keep")
    clf = q_quality_classifier(spark, sf_dir).select("doc_id", "score")
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        gopher.join(clf, "doc_id")
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.avg(F.when(F.col("keep"), 1.0).otherwise(0.0)), 4
            ).alias("gopher_keep_rate"),
            F.round(F.avg("score"), 4).alias("mean_clf_score"),
        )
    )


_KN_D = 0.75  # absolute-discount mass


@query(
    "q_lm_kneser_ney",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1]
                for i in generate_series(1, len(t) - 1)]
             ELSE [] END) AS b
      FROM t0
    ),
    bc AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1),
    bsplit AS (
      SELECT string_split(b, ' ')[1] AS w1,
             string_split(b, ' ')[2] AS w2, cb
      FROM bc
    ),
    ctx AS (
      SELECT w1, CAST(sum(cb) AS BIGINT) AS ctot,
             count(*) AS n1l
      FROM bsplit GROUP BY 1
    ),
    cont AS (SELECT w2, count(*) AS n1r FROM bsplit GROUP BY 1),
    tot AS (SELECT count(*) AS npairs FROM bsplit)
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(
             (bs.cb - {_KN_D}) / ctx.ctot
             + {_KN_D} * ctx.n1l / ctx.ctot
               * cont.n1r / tot.npairs
           )), 4) AS avg_logprob
    FROM bg g
    JOIN bsplit bs ON bs.w1 = string_split(g.b, ' ')[1]
                  AND bs.w2 = string_split(g.b, ' ')[2]
    JOIN ctx  ON ctx.w1 = bs.w1
    JOIN cont ON cont.w2 = bs.w2
    CROSS JOIN tot
    GROUP BY g.doc_id
    """,
)
def q_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score — the top of the n-gram
    smoothing ladder (Chen & Goodman 1999) above add-one
    (q_bigram_logprob) and Jelinek-Mercer (q_lm_backoff_score):
    P(w2|w1) = (c(w1w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · Pcont(w2),
    with the CONTINUATION probability Pcont(w2) = N1+(·w2)/N1+(··) —
    "how many contexts does w2 complete", the correction that stops
    high-frequency-but-context-bound words (think "Francisco") from
    leaking probability into novel contexts. d = 0.75.

    Scored bigrams are corpus-own, so c(w1w2) ≥ 1 > d and every factor
    is positive — the log is finite in both engines with no clamping.

    Scale: everything derives from the ONE bigram-count frame (ctx and
    continuation counts are re-aggregations of bc, not corpus rescans);
    joins are token-partitioned and co-located; the single scalar
    (distinct-bigram total) is broadcast. Same no-window posture as the
    rest of the LM family.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_struct)
    # bg feeds the count build AND the score join; bc feeds FOUR
    # consumers (ctx, cont, tot, the score join). Lazy checkpoints stop
    # each consumer re-running the tokenize→explode→aggregate lineage
    # (r14 plan audit: 26 Exchanges / 10 corpus scans without them —
    # guide §2.4). bc is bigram-type-sized (vocab², tiny); bg is the
    # corpus bigram-instance frame.
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    ).localCheckpoint(eager=False)
    bc = bg.groupBy("w1", "w2").agg(
        F.count("*").alias("cb")
    ).localCheckpoint(eager=False)
    ctx = bc.groupBy("w1").agg(
        F.sum("cb").cast("bigint").alias("ctot"),
        F.count("*").alias("n1l"),
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1r"))
    tot = bc.agg(F.count("*").alias("npairs"))
    p = (F.col("cb") - F.lit(_KN_D)) / F.col("ctot") + F.lit(_KN_D) * F.col(
        "n1l"
    ) / F.col("ctot") * F.col("n1r") / F.col("npairs")
    return (
        bg.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
    )


@query(
    "q_trigram_logprob",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    tg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                for i in generate_series(1, len(t) - 2)]
             ELSE [] END) AS g
      FROM t0
    ),
    bgm AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1]
                for i in generate_series(1, len(t) - 1)]
             ELSE [] END) AS b
      FROM t0
    ),
    tc AS (SELECT g, count(*) AS ct FROM tg GROUP BY 1),
    bc AS (SELECT b, count(*) AS cb FROM bgm GROUP BY 1),
    v AS (SELECT count(DISTINCT unnest.tok) AS vsz FROM (
            SELECT unnest(t) AS tok FROM t0) unnest)
    SELECT tg.doc_id,
           count(*) AS n_trigrams,
           round(avg(ln((tc.ct + 1.0) / (bc.cb + v.vsz))), 4)
             AS avg_logprob
    FROM tg
    JOIN tc USING (g)
    JOIN bc ON bc.b = string_split(tg.g, ' ')[1] || ' '
                      || string_split(tg.g, ' ')[2]
    CROSS JOIN v
    GROUP BY tg.doc_id
    """,
)
def q_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trigram LM score, add-one smoothed — the n=3 rung of the
    LM ladder (unigram → bigram → JM → KN → trigram): avg ln P(w3|w1w2)
    with P = (c(w1w2w3)+1)/(c(w1w2)+V). Longer contexts sharpen the
    word-salad signal further: coherent prose has predictable
    3-token continuations where shuffled text does not. Docs with
    fewer than 3 tokens drop out — identically in both engines.

    Scale: trigram and context-bigram counts are hash aggregations over
    arrays built from three constant-reference slices (the zip_with
    discipline of functions/text.py — never transform(sequence)); both
    score joins are n-gram-partitioned and co-located at 100 TB; only
    the vocab-size scalar broadcasts.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    m3 = F.greatest(n - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("t", 1, m3),
            F.slice("t", 2, m3),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice("t", 3, m3),
        lambda xy, z: F.struct(
            xy.alias("ctx"), F.concat_ws(" ", xy, z).alias("g")
        ),
    )
    bg = adjacent_pairs("t", bigram_str)
    # toks (the tokenized arrays) feeds THREE consumers (trigram
    # explode, bigram-context counts, vocab size) and tg feeds two (the
    # count build and the score join) — lazy checkpoints make the
    # corpus tokenize run once instead of three times (guide §2.4).
    toks = toks.localCheckpoint(eager=False)
    tg = toks.select("doc_id", F.explode(tri).alias("p")).select(
        "doc_id", "p.ctx", "p.g"
    ).localCheckpoint(eager=False)
    tc = tg.groupBy("g").agg(F.count("*").alias("ct"))
    bc = (
        toks.select(F.explode(bg).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cb"))
    )
    v = toks.select(F.explode("t").alias("tok")).agg(
        F.count_distinct("tok").alias("vsz")
    )
    return (
        tg.join(tc, "g")
        .join(bc, F.col("b") == F.col("ctx"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("ct") + F.lit(1.0))
                        / (F.col("cb") + F.col("vsz"))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )


_DRIFT_NEW_SQL = "doc_id % 10 < 2"  # same delta slice as incremental dedup


@query(
    "q_corpus_drift",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    nc AS (
      SELECT tok, count(*) AS c FROM t0 WHERE {_DRIFT_NEW_SQL} GROUP BY 1
    ),
    oc AS (
      SELECT tok, count(*) AS c FROM t0 WHERE NOT ({_DRIFT_NEW_SQL}) GROUP BY 1
    ),
    u AS (
      SELECT coalesce(nc.tok, oc.tok) AS tok,
             coalesce(nc.c, 0) AS cn, coalesce(oc.c, 0) AS co
      FROM nc FULL OUTER JOIN oc ON nc.tok = oc.tok
    ),
    tot AS (
      SELECT sum(cn) AS nn, sum(co) AS no, count(*) AS vsz FROM u
    ),
    p AS (
      SELECT (cn + 1.0) / (tot.nn + tot.vsz) AS pn,
             (co + 1.0) / (tot.no + tot.vsz) AS po
      FROM u CROSS JOIN tot
    )
    SELECT round(sum(pn * ln(pn / po)), 4) AS kl_new_old,
           round(sum(po * ln(po / pn)), 4) AS kl_old_new,
           (SELECT CAST(vsz AS BIGINT) FROM tot) AS n_vocab
    FROM p
    """,
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: Laplace-smoothed KL divergence (both
    directions) between the token distributions of the newest ingest
    slice and the standing corpus — the snapshot-over-snapshot health
    check that catches a crawl source going off-distribution (spam
    bursts, language shifts, template floods) BEFORE the slice is
    mixed in. Smoothing over the union vocabulary makes both KLs
    finite even for tokens present on only one side — those are
    exactly the drift signal.

    Scale: two map-side-combined token counts, one vocab-sized full
    outer join, one scalar aggregate — the output is a single row, the
    heaviest frame is the vocabulary. The same delta predicate as
    q_incremental_dedup, so the two run off one scan in a combined
    nightly audit.
    """
    d = table_parallel(spark, sf_dir, "documents")
    tok = d.select(
        (F.pmod(F.col("doc_id"), F.lit(10)) < 2).alias("is_new"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    # ONE conditional-count aggregation replaces the two filtered
    # corpus passes AND their vocab full-outer join: every token lands
    # in one row with both side counts (a zero count is exactly what
    # the old outer-join NULL coalesced to). The vocab-sized result is
    # lazily pinned because the totals aggregate and the KL pass both
    # consume it (guide §2.3/§2.4 — the DSIR/LM-ladder treatment).
    u = (
        tok.groupBy("tok")
        .agg(
            F.sum(F.col("is_new").cast("long")).alias("cn"),
            F.sum((~F.col("is_new")).cast("long")).alias("co"),
        )
        .select("cn", "co")
        .localCheckpoint(eager=False)
    )
    tot = u.agg(
        F.sum("cn").alias("nn"),
        F.sum("co").alias("no"),
        F.count("*").alias("vsz"),
    )
    p = u.crossJoin(F.broadcast(tot)).select(
        ((F.col("cn") + 1.0) / (F.col("nn") + F.col("vsz"))).alias("pn"),
        ((F.col("co") + 1.0) / (F.col("no") + F.col("vsz"))).alias("po"),
        "vsz",
    )
    return p.agg(
        F.round(F.sum(F.col("pn") * F.log(F.col("pn") / F.col("po"))), 4)
        .alias("kl_new_old"),
        F.round(F.sum(F.col("po") * F.log(F.col("po") / F.col("pn"))), 4)
        .alias("kl_old_new"),
        F.max("vsz").cast("bigint").alias("n_vocab"),
    )


_KEYWORDS_TOPK = 3


@query(
    "q_source_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK}) AS tok FROM documents
    ),
    sc AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    st AS (SELECT source, count(*) AS ns FROM tok GROUP BY 1),
    wc AS (SELECT tok, count(*) AS cw FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n, count(DISTINCT tok) AS vsz FROM tok),
    scored AS (
      SELECT sc.source, sc.tok,
             round(ln((sc.c + 1.0) / (st.ns + tot.vsz))
                   - ln((wc.cw - sc.c + 1.0)
                        / (tot.n - st.ns + tot.vsz)), 4) AS score
      FROM sc
      JOIN st USING (source)
      JOIN wc USING (tok)
      CROSS JOIN tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY score DESC, tok
             ) AS rn
      FROM scored
    )
    SELECT source, tok, score, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_KEYWORDS_TOPK}
    """,
)
def q_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source — smoothed log-odds of a token
    inside the source vs in the REST of the corpus (the
    Monroe-et-al-style contrastive score, Laplace-smoothed), top-3 per
    source with a deterministic token tie-break. The per-source
    vocabulary fingerprint that explains WHAT drifted when
    q_corpus_drift fires, and the seed list for source-targeted
    blocklists.

    Scale: per-(source, token) counts are one map-side-combined
    aggregation; the rest-of-corpus count comes from joining the
    global token counts (token-partitioned, co-located) — never a
    second corpus scan; the top-k per source compiles to
    WindowGroupLimit (plan-pinned in tests).
    """
    d = table_parallel(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    # The exploded token frame fed FOUR independent aggregations (sc,
    # st, wc, tot), each re-running the scan→tokenize→explode lineage
    # (before-plan: 20 exchanges / 8 scans). The (source, token) counts
    # dominate all four: pin that frame once and fold the other three
    # from it as exact integer identities (Σc per source == the
    # per-source token count; Σc per token == the global token count;
    # Σc / distinct-token == the corpus totals) — one corpus pass
    # instead of four (guide §2.3/§2.4).
    sc = (
        tok.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    wc = sc.groupBy("tok").agg(F.sum("c").alias("cw"))
    tot = sc.agg(
        F.sum("c").alias("n"), F.count_distinct("tok").alias("vsz")
    )
    scored = (
        sc.join(st, "source")
        .join(wc, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("ns") + F.col("vsz")))
                - F.log(
                    (F.col("cw") - F.col("c") + 1.0)
                    / (F.col("n") - F.col("ns") + F.col("vsz"))
                ),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KEYWORDS_TOPK)
        .select("source", "tok", "score", F.col("rn").cast("bigint").alias("rn"))
    )


def _half_pred_sql(half_expr: str) -> str:
    """DuckDB argmax-language CASE over a token-list expression."""
    hits = {
        lang: (
            f"CAST(len(list_filter({half_expr}, x -> x IN "
            f"({', '.join(repr(w) for w in words)}))) AS BIGINT)"
        )
        for lang, words in _LANGS.items()
    }
    return f"""CASE
      WHEN {hits['en']} >= {hits['es']} AND {hits['en']} >= {hits['de']}
           AND {hits['en']} >= {hits['fr']} THEN 'en'
      WHEN {hits['es']} >= {hits['de']} AND {hits['es']} >= {hits['fr']}
           THEN 'es'
      WHEN {hits['de']} >= {hits['fr']} THEN 'de'
      ELSE 'fr'
    END"""


@query(
    "q_code_switch",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    ),
    halves AS (
      SELECT doc_id,
             t[1 : len(t) // 2] AS h1,
             t[len(t) // 2 + 1 : len(t)] AS h2
      FROM t0 WHERE len(t) >= 2
    )
    SELECT doc_id,
           {_half_pred_sql('h1')} AS lang_head,
           {_half_pred_sql('h2')} AS lang_tail,
           {_half_pred_sql('h1')} <> {_half_pred_sql('h2')} AS mixed
    FROM halves
    """,
)
def q_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language (code-switching) detection — the failure mode a
    whole-document language ID (q_lang_id) hides: a doc whose head
    votes one language and whose tail votes another is concatenated or
    code-switched content, which poisons monolingual training slices.
    Runs the SAME stopword-vote argmax on each half of the token array
    and flags disagreement; the deterministic tie-break (en > es > de >
    fr) matches q_lang_id exactly in both engines.

    Single-token docs drop (no second half) — identically on both
    sides. All array slicing and voting is one codegen projection: no
    shuffle, no join, no window — a pure map at any scale. Production
    refinement: vote per fixed-size window (chunk_documents) instead
    of halves to localize the switch point; the halves form is the
    cheap screen run on everything.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    n = F.size("t")
    # Integer-cast the midpoint FIRST, then derive the tail length from
    # it: (n - n/2).cast('int') truncates the double for odd n (5 - 2.5
    # -> 2), silently dropping the last token from both halves while the
    # oracle's t[len//2+1 : len] keeps it. mid = floor(n/2); tail =
    # n - mid = ceil(n/2) tokens, matching DuckDB exactly.
    mid = (n / 2).cast("int")
    h1 = F.slice("t", 1, mid)
    h2 = F.slice("t", mid + 1, n - mid)

    def pred(half):
        def hits(words):
            return F.size(F.filter(half, lambda x: x.isin(*words))).cast(
                "bigint"
            )

        en, es, de, fr = (hits(_LANGS[l]) for l in ("en", "es", "de", "fr"))
        return (
            F.when((en >= es) & (en >= de) & (en >= fr), "en")
            .when((es >= de) & (es >= fr), "es")
            .when(de >= fr, "de")
            .otherwise("fr")
        )

    out = toks.select(
        "doc_id",
        pred(h1).alias("lang_head"),
        pred(h2).alias("lang_tail"),
    )
    return out.select(
        "*", (F.col("lang_head") != F.col("lang_tail")).alias("mixed")
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    tg AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(t) >= 3 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                for i in generate_series(1, len(t) - 2)]
             ELSE [] END) AS g
      FROM t0
    ),
    dfq AS (SELECT g, count(*) AS df FROM tg GROUP BY 1)
    SELECT tg.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
           round(avg(CASE WHEN dfq.df = 1 THEN 1.0 ELSE 0.0 END), 4)
             AS novel_share
    FROM tg JOIN dfq USING (g)
    GROUP BY tg.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's DISTINCT
    trigrams that appear in no other document. The memorization-risk /
    boilerplate dial the dedup rungs don't give directly: novelty ≈ 0
    marks template text whose every phrase recurs elsewhere (kept by
    Jaccard thresholds because no single pair is similar enough), while
    novelty ≈ 1 marks genuinely fresh prose worth its gradient steps.
    Document frequency — not raw count — so a doc that repeats its own
    phrase isn't penalized, only corpus-wide recurrence.

    Scale: distinct (doc, trigram) pairs then a trigram-keyed hash
    aggregation for df; the score join is trigram-partitioned and
    co-located with it; per-doc re-agg is the third hash shuffle. No
    windows, no broadcast of anything sized with the corpus.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    m3 = F.greatest(n - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("t", 1, m3),
            F.slice("t", 2, m3),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice("t", 3, m3),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    # The distinct (doc, trigram) pairs feed the df aggregation AND the
    # score join; unpinned, the tokenize → trigram explode → distinct
    # lineage ran twice (guide §2.4).
    tg = (
        toks.select("doc_id", F.explode(tri).alias("g"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfq = tg.groupBy("g").agg(F.count("*").alias("df"))
    return (
        tg.join(dfq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_trigrams"),
            F.round(
                F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)), 4
            ).alias("novel_share"),
        )
    )


@query(
    "q_token_entropy",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
    a AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(c * log2(c)) AS s
      FROM c GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types,
           round(log2(n_tokens) - s / n_tokens, 4) AS token_entropy,
           round(n_types * 1.0 / n_tokens, 4) AS ttr
    FROM a
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (bits) +
    type-token ratio — the information-density rung of the quality
    ladder: keyword-stuffed spam and looped boilerplate sit far below
    prose of the same length, catching low-diversity text that passes
    the length/punctuation battery (q_quality_score) and even the
    self-repetition ratio when the repeated unit is long. Computed as
    log2(n) − Σc·log2(c)/n so the shuffle carries two partial sums per
    doc, never the type histogram.

    Scale: one (doc, token) hash aggregation then a per-doc re-agg —
    both map-side combined; no windows, no joins, nothing broadcast.
    Zero-token docs drop out in both engines (no rows after explode).
    """
    d = table_parallel(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    c = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    a = c.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("c") * F.log2("c")).alias("s"),
    )
    return a.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.log2("n_tokens") - F.col("s") / F.col("n_tokens"), 4).alias(
            "token_entropy"
        ),
        F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
    )


@query(
    "q_lm_kneser_ney_3",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOK} AS t FROM documents),
    raw AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                for i in generate_series(1, len(t) - 2)]
             ELSE [] END) AS g
      FROM t0
    ),
    tg AS MATERIALIZED (
      SELECT doc_id,
             string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[2] AS w2,
             string_split(g, ' ')[3] AS w3
      FROM raw
    ),
    tc AS MATERIALIZED (
      SELECT w1, w2, w3, count(*) AS ct FROM tg GROUP BY 1, 2, 3
    ),
    ctx2 AS (
      SELECT w1, w2, CAST(sum(ct) AS BIGINT) AS ctot, count(*) AS n1mid
      FROM tc GROUP BY 1, 2
    ),
    mid AS MATERIALIZED (
      SELECT w2, w3, count(*) AS n23 FROM tc GROUP BY 1, 2
    ),
    wmid AS (SELECT w2, count(*) AS ntypes_mid FROM tc GROUP BY 1),
    fol AS (SELECT w2, count(*) AS n1f FROM mid GROUP BY 1),
    cont AS (SELECT w3, count(*) AS n1r FROM mid GROUP BY 1),
    tot AS (SELECT count(*) AS npairs FROM mid)
    SELECT tg.doc_id,
           count(*) AS n_trigrams,
           round(avg(ln(
             (tc.ct - {_KN_D}) / ctx2.ctot
             + {_KN_D} * ctx2.n1mid / ctx2.ctot * (
               (mid.n23 - {_KN_D}) / wmid.ntypes_mid
               + {_KN_D} * fol.n1f / wmid.ntypes_mid
                 * cont.n1r / tot.npairs
             )
           )), 4) AS avg_logprob
    FROM tg
    JOIN tc USING (w1, w2, w3)
    JOIN ctx2 USING (w1, w2)
    JOIN mid USING (w2, w3)
    JOIN wmid USING (w2)
    JOIN fol USING (w2)
    JOIN cont USING (w3)
    CROSS JOIN tot
    GROUP BY tg.doc_id
    """,
)
def q_lm_kneser_ney_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram interpolated Kneser-Ney — the full recursion of Chen &
    Goodman (1999) one order above q_lm_kneser_ney:

      P(w3|w1w2) = (c(w1w2w3)−d)/c(w1w2·) + d·N1+(w1w2·)/c(w1w2·)·P(w3|w2)
      P(w3|w2)   = (N1+(·w2w3)−d)/N1+(·w2·) + d·N1+(w2·)/N1+(·w2·)·Pcont(w3)
      Pcont(w3)  = N1+(·w3) / N1+(··)

    with the lower order built from CONTINUATION (type) counts, not raw
    counts — the defining KN move, applied recursively. d = 0.75 at
    both levels. Scored trigrams are corpus-own, so c ≥ 1 > d and
    N1+(·w2w3) ≥ 1 > d: every term is positive, the log finite in both
    engines with no clamping.

    Scale: every statistic is a re-aggregation of the ONE trigram-count
    frame tc (ctx2, mid, wmid, fol, cont, tot — no corpus rescans); the
    score joins are token-key-partitioned and co-located; only the
    1-row type-pair total broadcasts. Same no-window posture as the LM
    family.
    """
    d = table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    m3 = F.greatest(n - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("t", 1, m3),
            F.slice("t", 2, m3),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
        F.slice("t", 3, m3),
        lambda xy, z: F.struct(
            xy["w1"].alias("w1"), xy["w2"].alias("w2"), z.alias("w3")
        ),
    )
    # tg feeds the count build AND the score join; tc feeds ctx2 / mid /
    # wmid / the score join; mid feeds fol / cont / tot / the score
    # join. Lazy checkpoints stop every consumer re-running the
    # tokenize→explode→aggregate lineage (r14 plan audit: 44 Exchanges /
    # 10 corpus scans without them — guide §2.4). tc and mid are
    # n-gram-TYPE-sized (bounded by vocabulary powers, tiny next to the
    # corpus); tg is the trigram-instance frame.
    tg = toks.select("doc_id", F.explode(tri).alias("p")).select(
        "doc_id", "p.w1", "p.w2", "p.w3"
    ).localCheckpoint(eager=False)
    tc = tg.groupBy("w1", "w2", "w3").agg(
        F.count("*").alias("ct")
    ).localCheckpoint(eager=False)
    ctx2 = tc.groupBy("w1", "w2").agg(
        F.sum("ct").cast("bigint").alias("ctot"),
        F.count("*").alias("n1mid"),
    )
    mid = tc.groupBy("w2", "w3").agg(
        F.count("*").alias("n23")
    ).localCheckpoint(eager=False)
    wmid = tc.groupBy("w2").agg(F.count("*").alias("ntypes_mid"))
    fol = mid.groupBy("w2").agg(F.count("*").alias("n1f"))
    cont = mid.groupBy("w3").agg(F.count("*").alias("n1r"))
    tot = mid.agg(F.count("*").alias("npairs"))
    kd = F.lit(_KN_D)
    plow = (F.col("n23") - kd) / F.col("ntypes_mid") + kd * F.col(
        "n1f"
    ) / F.col("ntypes_mid") * F.col("n1r") / F.col("npairs")
    p = (F.col("ct") - kd) / F.col("ctot") + kd * F.col("n1mid") / F.col(
        "ctot"
    ) * plow
    return (
        tg.join(tc, ["w1", "w2", "w3"])
        .join(ctx2, ["w1", "w2"])
        .join(mid, ["w2", "w3"])
        .join(wmid, "w2")
        .join(fol, "w2")
        .join(cont, "w3")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
    )


@query(
    "q_robust_scale",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, source, CAST(len({_TOK}) AS DOUBLE) AS s
      FROM documents
    ),
    pct AS (
      SELECT source,
             quantile_cont(s, 0.05) AS p05,
             quantile_cont(s, 0.95) AS p95
      FROM t0 GROUP BY source
    ),
    clipped AS (
      SELECT t0.doc_id, t0.source,
             least(greatest(t0.s, pct.p05), pct.p95) AS c
      FROM t0 JOIN pct USING (source)
    ),
    stats AS (
      SELECT source, avg(c) AS mu, stddev_pop(c) AS sd
      FROM clipped GROUP BY source
    )
    SELECT clipped.doc_id, clipped.source,
           round(clipped.c, 4) AS winsorized,
           round(CASE WHEN stats.sd = 0 THEN 0.0
                      ELSE (clipped.c - stats.mu) / stats.sd END, 4)
             AS robust_z
    FROM clipped JOIN stats USING (source)
    """,
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized robust normalization of a document score
    (here: token count — swap in any scorer). Mixing corpora from
    sources with wildly different length/quality distributions needs
    scores on a COMMON scale before a single keep-threshold or sampling
    temperature applies; raw z-scores are dragged by each source's
    outlier tail, so clip to the [p05, p95] quantile band first, then
    standardize the clipped values (winsorized z).

    Scale: three shuffles total and none carries the corpus twice —
    (1) exact interpolated percentile per source (Spark ``percentile``
    and DuckDB ``quantile_cont`` share linear p·(n-1) semantics,
    verified), (2) mean/stddev_pop of the clipped score per source,
    and the per-source stat frames (#sources rows) broadcast back, so
    the document table itself shuffles zero times. At 100 TB swap the
    exact percentile for approx_percentile(…, 1e-4) — same plan shape,
    bounded memory; exact here so the oracle can pin it.
    """
    d = table_parallel(spark, sf_dir, "documents")
    # The scored frame feeds the percentile pass and the clip join, and
    # the clipped frame feeds the stats pass and the final join —
    # unpinned, the tokenize lineage ran three times (before-plan: 14
    # exchanges / 8 scans). Both frames are 3 narrow columns — pin them
    # (guide §2.4).
    t0 = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("double").alias("s"),
    ).localCheckpoint(eager=False)
    pct = t0.groupBy("source").agg(
        F.percentile("s", F.lit(0.05)).alias("p05"),
        F.percentile("s", F.lit(0.95)).alias("p95"),
    )
    clipped = (
        t0.join(F.broadcast(pct), "source")
        .select(
            "doc_id",
            "source",
            F.least(
                F.greatest(F.col("s"), F.col("p05")), F.col("p95")
            ).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    stats = clipped.groupBy("source").agg(
        F.avg("c").alias("mu"), F.stddev_pop("c").alias("sd")
    )
    return clipped.join(F.broadcast(stats), "source").select(
        "doc_id",
        "source",
        F.round("c", 4).alias("winsorized"),
        F.round(
            F.when(F.col("sd") == 0, F.lit(0.0)).otherwise(
                (F.col("c") - F.col("mu")) / F.col("sd")
            ),
            4,
        ).alias("robust_z"),
    )


_CONFUSION_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_hits_sql(_LANGS['en'])} AS en_hits,
             {_lang_hits_sql(_LANGS['es'])} AS es_hits,
             {_lang_hits_sql(_LANGS['de'])} AS de_hits,
             {_lang_hits_sql(_LANGS['fr'])} AS fr_hits
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE
               WHEN en_hits >= es_hits AND en_hits >= de_hits
                    AND en_hits >= fr_hits THEN 'en'
               WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
               WHEN de_hits >= fr_hits THEN 'de'
               ELSE 'fr'
             END AS pred_lang
      FROM scored
    ),
    tot AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM pred GROUP BY 1)
    SELECT pred.lang, pred.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) / tot.n, 4) AS row_share
    FROM pred JOIN tot USING (lang)
    GROUP BY pred.lang, pred.pred_lang, tot.n
    """


@query("q_langid_confusion", oracle=_CONFUSION_ORACLE)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-vote language detector against
    the table's labeled ``lang`` column: (label, prediction, count,
    row-normalized share). THE acceptance gate for a heuristic
    detector — the off-diagonal mass tells you which language pairs it
    conflates before you trust it to route a 100 TB corpus into
    monolingual training slices; diagonal shares are per-class recall.

    Composes the registered detector (q_lang_id) unchanged and
    aggregates — one corpus pass for the votes, one hash aggregation
    to the (langs x langs)-bounded matrix, and a broadcast of the
    per-label totals for the row shares.
    """
    pred = q_lang_id(spark, sf_dir).select("lang", "pred_lang")
    tot = pred.groupBy("lang").agg(F.count("*").cast("double").alias("n"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n"), 4).alias("row_share"),
        )
    )


from data_engineering_project_spotify_app_spark.functions.html import (  # noqa: E402
    markup_ratio,
    markup_ratio_sql,
    strip_markup,
    strip_markup_sql,
)

_CLEAN_SQL = strip_markup_sql("text")


@query(
    "q_html_extract",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, text, {_CLEAN_SQL} AS clean_text FROM documents
    )
    SELECT doc_id, clean_text,
           {markup_ratio_sql('text', 'clean_text')} AS markup_ratio
    FROM c
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup extraction pass (functions/html.py): visible text +
    markup ratio per document — the stage a crawl pipeline runs before
    every other text operator here. The fixture corpus is plain text,
    so clean_text is a normalized passthrough and markup_ratio ~ 0;
    the HTML behavior itself (script/style content dropped, entities
    decoded, comments stripped) is pinned on literal frames in
    tests/test_html.py, and this registration keeps the expression
    chain driver-checked end-to-end in both engines.

    Scale: one codegen projection — regexp_replace/replace chains, no
    UDF, no shuffle.
    """
    d = table_parallel(spark, sf_dir, "documents")
    c = d.select(
        "doc_id", "text", strip_markup(F.col("text")).alias("clean_text")
    )
    return c.select(
        "doc_id",
        "clean_text",
        markup_ratio(F.col("text"), F.col("clean_text")).alias(
            "markup_ratio"
        ),
    )


_READABILITY_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS BIGINT) AS n_words,
             CAST(greatest(
               len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4)
             AS flesch
    FROM m WHERE n_words > 0
    """


@query("q_readability", oracle=_READABILITY_ORACLE)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with the standard distributed
    approximation: syllables ≈ vowel groups ([aeiouy]+ runs), sentences
    ≈ terminal-punctuation runs (min 1). Joins the quality ladder as
    the readability axis (q_quality_score measures length/symbol
    hygiene; this measures sentence/word complexity — LLM corpus work
    uses both as cheap pre-filters before model-based scoring).

    Scale: pure per-row projection, zero shuffles; the regex counters
    are codegen regexp_extract_all sizes — the same Java-and-RE2-safe
    character-class subset as q_html_extract, so DuckDB counts the
    identical runs.
    """
    t = F.col("text")
    n_words = F.size(tokens(t)).cast("bigint")
    n_sentences = F.greatest(
        F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1)
    ).cast("bigint")
    n_syllables = F.expr(
        "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    ).cast("bigint")
    return (
        table_parallel(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_words.alias("n_words"),
            n_sentences.alias("n_sentences"),
            n_syllables.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
                - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
                4,
            ).alias("flesch"),
        )
    )


_LENGTH_BIAS_ORACLE = f"""
    WITH m AS (
      SELECT source, CAST(n_chars AS DOUBLE) AS len,
             CAST(len({_TOK}) AS BIGINT) AS n_words,
             CAST(greatest(
               len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    ),
    scored AS (
      SELECT source, len,
             206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                     - 84.6 * (n_syllables * 1.0 / n_words) AS flesch
      FROM m WHERE n_words > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(corr(len, flesch), 6) AS corr_len_readability
    FROM scored GROUP BY 1
    """


@query("q_length_bias", oracle=_LENGTH_BIAS_ORACLE)
def q_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer length-bias audit: per source, the correlation between
    document length and the readability score — a quality signal that
    mostly tracks length is a length filter in disguise, and
    length-confounded scores silently re-weight the corpus mix when a
    single threshold is applied across sources (the audit to run
    before trusting any scorer in the q_corpus_filter funnel; the
    continuous cousin of q_source_lang_mi's categorical confounding
    screen).

    Scale: one codegen projection computes the score inline (same
    expressions as q_readability), then a per-source corr — closed-form
    sums, fully partial-aggregated (the regress.py posture).
    """
    t = F.col("text")
    n_words = F.size(tokens(t)).cast("bigint")
    n_sentences = F.greatest(
        F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1)
    ).cast("bigint")
    n_syllables = F.expr(
        "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
    ).cast("bigint")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sentences)
        - F.lit(84.6) * (n_syllables / n_words)
    )
    scored = (
        table_parallel(spark, sf_dir, "documents")
        .filter(n_words > 0)
        .select(
            "source",
            F.col("n_chars").cast("double").alias("len"),
            flesch.alias("flesch"),
        )
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.corr("len", "flesch"), 6).alias("corr_len_readability"),
    )
