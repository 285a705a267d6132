"""Text retrieval over the documents corpus: inverted index, BM25,
collocation statistics, and RAG-style chunking.

The reference's query surface is key/attribute lookup (SURVEY.md §2);
a training-data pipeline additionally needs *content* retrieval — find
the documents matching a term query, rank them, index them, split them
into retrieval units. These operators are that surface, each fully
SQL-expressible so the DuckDB oracle hash-checks values:

- ``q_inverted_index`` — term → document-frequency + sorted posting
  list (the search-index build as a query).
- ``q_bm25_search``   — Okapi BM25 top-10 for a data-derived query (the
  three rarest corpus terms), k1=1.2, b=0.75, the Robertson/Sparck
  Jones "+1" idf so weights stay positive.
- ``q_cooccurrence_pmi`` — document-level pointwise mutual information
  for term pairs (collocation mining / topic signal).
- ``q_chunk_documents`` — overlapping fixed-width token windows
  (32-token chunks, stride 24), the standard RAG segmentation.

Scale design (100 TB posture):

- Everything is built from ONE exploded (doc_id, term) frame shape:
  tokenize behind a Generate barrier (the ProjectCollapsing hazard
  documented in functions/text.py), aggregate on the term key —
  map-side partial aggregation makes stop-terms shuffle one row per
  task, not one row per occurrence.
- BM25's per-query state (3 terms + corpus stats) is a broadcast; the
  scan side is the tf frame only. Ranking sorts the ROUNDED score with
  a doc_id tie-break, so top-k is deterministic cross-engine, and Spark
  executes it as TakeOrderedAndProject (no global sort).
- PMI pairs explode C(distinct-terms, 2) per document — bounded by the
  vocabulary actually present in a doc. On an open-vocab corpus this
  path must be preceded by a vocabulary threshold (min-df / top-V cap,
  exactly the stop-feature cap the dedup ladder uses, dedup.py);
  q_cooccurrence_pmi_capped is that scale twin — a broadcast top-V
  stop-head list filtered out of the term arrays pre-explosion.
- Chunking emits ~n_tokens/stride rows per doc with no shuffle at all:
  token array → window starts → posexplode, all inside one stage.
- Posting lists are per-term rows (collect_list on the term key); a
  stop-term's list is one wide row, the accepted layout for index
  *construction* — serving systems shard it downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.functions.text import (
    TOKENS_SQL,
    tokens,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table_parallel

_TOK = TOKENS_SQL.format(col="text")

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = 3
BM25_TOP_K = 10

PMI_MIN_PAIRS = 25
PMI_TOP = 100

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term) one row per occurrence, Generate-barrier tokenize."""
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    return toks.select("doc_id", F.explode("t").alias("term"))


@query(
    "q_inverted_index",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT doc_id, unnest({_TOK}) AS term FROM documents
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS postings
    FROM d GROUP BY term
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term → document frequency + sorted posting
    list. The distinct (doc, term) pass partial-aggregates map-side, so
    a term occurring 10^6 times in one document still shuffles one row
    per map task; collect_list then groups once on the term key.

    Output shape: the posting list is serialized to a comma-joined
    string (the same reassembly idiom linedup.py uses) — the driver's
    canonicalizer hashes scalar columns only, and an ArrayType column
    is unhashable in pandas (the round-3 failure mode)."""
    docs = table_parallel(spark, sf_dir, "documents")
    d = _doc_terms(docs).distinct()
    return d.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


@query(
    "q_bm25_search",
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM ex GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    q AS (SELECT term, df FROM df ORDER BY df, term LIMIT {BM25_QUERY_TERMS}),
    dl AS (
      SELECT doc_id, CAST(len({_TOK}) AS DOUBLE) AS dl FROM documents
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len({_TOK}) AS DOUBLE)) AS avgdl
      FROM documents
    ),
    sc AS (
      SELECT tf.doc_id,
             ln((st.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1}
                    * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)) AS w
      FROM tf
      JOIN q USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN st
    )
    SELECT doc_id,
           round(sum(w), 4) AS score,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM sc GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{BM25_TOP_K}: query = the {BM25_QUERY_TERMS}
    rarest corpus terms (df asc, term asc — fully deterministic), score
    = Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) with the "+1" idf.

    Plan: tf is the only corpus-sized frame; the query terms (with
    their df) and the corpus stats (N, avgdl) are broadcast onto it, so
    scoring is a broadcast-join + map over one scan, and the final
    top-k is ordered by the ROUNDED score with a doc_id tie-break —
    deterministic cross-engine, and executed as TakeOrderedAndProject
    rather than a global sort. tf has TWO consumers (the df aggregate
    that derives the query, and the scoring join) — a lazy
    localCheckpoint shares it instead of recomputing the
    tokenize+explode+aggregate per consumer (1.32 → 1.08 s same-window
    min-of-3 at sf0.1). localCheckpoint (not persist) so the blocks are
    GC-reclaimable once the result is consumed — the SQL CacheManager
    pins persist()-ed plans forever, which leaks cached partitions
    across repeated registry/bench invocations (ADVICE r10).
    """
    docs = table_parallel(spark, sf_dir, "documents")
    ex = _doc_terms(docs)
    tf = (
        ex.groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    q = df.orderBy(F.col("df").asc(), F.col("term").asc()).limit(
        BM25_QUERY_TERMS
    )
    # doc-length frame checkpointed; the corpus stats derive from it
    # instead of a separate tokenize pass over documents (guide §2.4) —
    # count and avg over the identical per-doc token counts
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("double").alias("dl")
    ).localCheckpoint(eager=False)
    st = dl.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    w = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select("doc_id", w.alias("w"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 4).alias("score"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_K)
    )


@query(
    "q_cooccurrence_pmi",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    tdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM d GROUP BY term),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
      FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    )
    SELECT term_a, term_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           round(ln(n_ab * nd.n / (fa.df * fb.df)), 4) AS pmi
    FROM pairs
    JOIN tdf fa ON fa.term = term_a
    JOIN tdf fb ON fb.term = term_b
    CROSS JOIN nd
    WHERE n_ab >= {PMI_MIN_PAIRS}
    ORDER BY pmi DESC, term_a, term_b
    LIMIT {PMI_TOP}
    """,
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level collocations: for every term pair co-occurring in
    ≥ {PMI_MIN_PAIRS} documents, PMI = ln(P(a,b) / (P(a)·P(b))) with
    document-frequency probabilities; top {PMI_TOP} by (rounded) PMI
    with a lexicographic tie-break.

    Pair generation is ARRAY-SIDE: each document's distinct sorted term
    array (built behind the Generate barrier, zero extra shuffle) emits
    its C(|vocab ∩ doc|, 2) ordered pairs via sorted_pairs, as the LSH
    bucket-collect family does —
    measured 2× faster at sf0.1 than the doc_id-co-partitioned
    self-join of the exploded distinct frame it replaces, and one less
    shuffle. On an open-vocabulary corpus, precede this with a min-df /
    top-V vocabulary cap (the dedup ladder's stop-feature cap) —
    registered as the q_cooccurrence_pmi_capped scale twin; this base
    form keeps the full fixture vocabulary (already bounded). The
    per-term df table is O(vocab), so it joins onto the
    pair aggregate WITHOUT a broadcast hint (AQE broadcasts it at
    runtime while it fits; an open-vocabulary corpus shuffle-joins);
    only the 1-row corpus size is hint-broadcast.
    """
    docs = table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    nd = docs.agg(F.count("*").cast("double").alias("n"))
    # df per term from the per-doc DISTINCT array directly: exploding
    # array_distinct feeds a map-side-combined groupBy(term), replacing
    # the (doc_id, term)-keyed distinct exchange of the exploded frame
    # (one corpus-sized shuffle fewer — guide §2.3/§2.4). The O(vocab)
    # result is lazily checkpointed because TWO join sides (df_a, df_b)
    # consume it and column pruning specializes the aggregate per
    # branch, defeating Exchange reuse — unchecked, each side re-ran
    # the whole scan→tokenize→aggregate lineage (plan audit: the df
    # subtree appeared 2× here, 3× in the capped twin).
    tdf = (
        toks.select(F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .localCheckpoint(eager=False)
    )
    arr = toks.select(
        "doc_id", F.array_sort(F.array_distinct("t")).alias("ts")
    )
    pairs = (
        arr.select(F.explode(sorted_pairs("ts", "a", "b")).alias("p"))
        .groupBy(
            F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_PAIRS)
    )
    fa = tdf.select(
        F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    fb = tdf.select(
        F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    return (
        pairs.join(fa, "term_a")
        .join(fb, "term_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n") / (F.col("df_a") * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(PMI_TOP)
    )


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    w AS (
      SELECT doc_id, len(t) AS n, t,
             unnest(generate_series(
               0, CAST(floor((len(t) - 1) / {CHUNK_STRIDE}) AS BIGINT)
             )) AS i
      FROM tok WHERE len(t) > 0
    )
    SELECT doc_id,
           i AS chunk_id,
           CAST(least({CHUNK_TOKENS}, n - i * {CHUNK_STRIDE}) AS BIGINT)
             AS n_tokens,
           array_to_string(
             t[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_TOKENS})],
             ' '
           ) AS chunk_text
    FROM w
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG segmentation: overlapping {CHUNK_TOKENS}-token windows at
    stride {CHUNK_STRIDE} (8-token overlap); the final window per doc
    may be shorter. Chunk starts run while start < n_tokens, so every
    token lands in ≥ 1 chunk and chunk_id is dense from 0.

    Zero-shuffle: the token array sits behind a Generate barrier (the
    _chunk_lines trick — lambdas reference the generated attribute, so
    ProjectCollapsing cannot inline the tokenizer regex per element),
    window starts are a sequence(), and posexplode emits the chunks —
    all in one stage, ~n/stride output rows per document.
    """
    docs = table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    chunks = F.when(
        F.size("t") > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size("t") - 1) / CHUNK_STRIDE).cast("int"),
            ),
            lambda i: F.concat_ws(
                " ", F.slice("t", i * CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(
            "doc_id",
            F.size("t").alias("n"),
            F.posexplode(chunks).alias("chunk_id", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.least(
                F.lit(CHUNK_TOKENS),
                F.col("n") - F.col("chunk_id") * CHUNK_STRIDE,
            )
            .cast("bigint")
            .alias("n_tokens"),
            "chunk_text",
        )
    )


_PHRASE = ("table", "hash")  # data-derived: a frequent corpus bigram


@query(
    "q_phrase_search",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(
             [t[i] || ' ' || t[i+1]
              for i in generate_series(1, len(t) - 1)],
             x -> x = '{_PHRASE[0]} {_PHRASE[1]}')) AS BIGINT)
             AS n_occurrences
    FROM t
    WHERE len(list_filter(
             [t[i] || ' ' || t[i+1]
              for i in generate_series(1, len(t) - 1)],
             x -> x = '{_PHRASE[0]} {_PHRASE[1]}')) > 0
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query — the inverted-index operation term
    postings can't answer: find documents containing the EXACT phrase
    "table hash", with occurrence counts. Spark runs the real index
    algorithm — positional postings (doc_id, pos) per term, filtered to
    the phrase's terms, self-joined on (doc_id, pos+1 adjacency) — while
    the oracle counts consecutive-bigram matches directly, so the hash
    check proves the postings intersection against an independent
    formulation rather than the same algorithm twice.

    Scale: each term's postings are filtered BEFORE the join (two
    selective single-term scans of the exploded frame — term predicates
    reach the tokenize stage, and a real deployment reads the postings
    table built by q_inverted_index instead of re-tokenizing); the
    adjacency join keys on (doc_id, pos), co-partitioned, with per-query
    posting lists typically broadcast-sized (AQE decides). An n-term
    phrase chains n-1 such joins, rarest term first.
    """
    return phrase_match_counts(
        table_parallel(spark, sf_dir, "documents"), _PHRASE
    )


def phrase_match_counts(docs: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """(doc_id, n_occurrences) for an exact n-term phrase via positional
    postings: filter each term's (doc_id, pos) list, then chain n-1
    adjacency joins on (doc_id, pos - offset). The first join side is
    the phrase's FIRST term here (offsets are relative to it); a
    cost-based caller reorders so the rarest term anchors — the join is
    associative-commutative over the offset-aligned postings, so any
    order gives the same matches."""
    posts = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "term"),
    )
    out = posts.filter(F.col("term") == phrase[0]).select("doc_id", "pos")
    for k, term in enumerate(phrase[1:], start=1):
        nxt = posts.filter(F.col("term") == term).select(
            "doc_id", (F.col("pos") - k).alias("pos")
        )
        out = out.join(nxt, ["doc_id", "pos"])
    return out.groupBy("doc_id").agg(F.count("*").alias("n_occurrences"))


_PHRASE3 = ("row", "column", "sort")


@query(
    "q_phrase_search_3",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(
             [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              for i in generate_series(1, len(t) - 2)],
             x -> x = '{" ".join(_PHRASE3)}')) AS BIGINT)
             AS n_occurrences
    FROM t
    WHERE len(list_filter(
             [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              for i in generate_series(1, len(t) - 2)],
             x -> x = '{" ".join(_PHRASE3)}')) > 0
    """,
)
def q_phrase_search_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-term phrase query ("row column sort") — the n-term
    generalization of q_phrase_search: two chained (doc_id, pos-offset)
    adjacency joins over positional postings. The oracle again counts
    consecutive-trigram matches directly (independent formulation).
    Each intermediate join SHRINKS the candidate set (a position must
    extend the prefix match), so the chain's cost is bounded by the
    rarest term's posting list — the classic conjunctive-query
    intersection behavior."""
    return phrase_match_counts(
        table_parallel(spark, sf_dir, "documents"), _PHRASE3
    )


PMI_STOP_TOP_V = 5


@query(
    "q_cooccurrence_pmi_capped",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    tdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM d GROUP BY term),
    stop AS (
      SELECT term FROM tdf ORDER BY df DESC, term LIMIT {PMI_STOP_TOP_V}
    ),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
      FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.term < b.term
      WHERE a.term NOT IN (SELECT term FROM stop)
        AND b.term NOT IN (SELECT term FROM stop)
      GROUP BY 1, 2
    )
    SELECT term_a, term_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           round(ln(n_ab * nd.n / (fa.df * fb.df)), 4) AS pmi
    FROM pairs
    JOIN tdf fa ON fa.term = term_a
    JOIN tdf fb ON fb.term = term_b
    CROSS JOIN nd
    WHERE n_ab >= {PMI_MIN_PAIRS}
    ORDER BY pmi DESC, term_a, term_b
    LIMIT {PMI_TOP}
    """,
)
def q_cooccurrence_pmi_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_cooccurrence_pmi behind the vocabulary stop-head cap the base
    query's docstring prescribes for open-vocab corpora — now wired as
    the registered scale twin (the dedup ladder's _capped precedent):
    drop the top-{PMI_STOP_TOP_V} terms by document frequency
    (df-desc, term tie-break) BEFORE pair explosion. The Zipf head is
    exactly where C(|doc vocab|, 2) blows up — stop terms co-occur
    with everything and carry no collocation signal, so removing them
    bounds per-document pair fan-out at negligible recall cost.

    Scale: the stop list is a top-V TakeOrderedAndProject over the
    O(vocab) df table, collected to a single V-element array and
    broadcast — doc-side filtering is one array_except inside the
    existing projection, ZERO added shuffles on the corpus path. PMI
    probabilities still use the full-corpus dfs (the cap changes which
    pairs are emitted, not their statistics).
    """
    docs = table_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    nd = docs.agg(F.count("*").cast("double").alias("n"))
    # See q_cooccurrence_pmi: df from the per-doc distinct array (one
    # corpus shuffle fewer than distinct-then-count), checkpointed
    # because THREE consumers (stop list, df_a, df_b) otherwise re-run
    # the scan→tokenize→aggregate lineage each.
    tdf = (
        toks.select(F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .localCheckpoint(eager=False)
    )
    stop = (
        tdf.orderBy(F.col("df").desc(), "term")
        .limit(PMI_STOP_TOP_V)
        .agg(F.collect_list("term").alias("stop_terms"))
    )
    arr = (
        toks.select(
            "doc_id", F.array_sort(F.array_distinct("t")).alias("ts")
        )
        .crossJoin(F.broadcast(stop))
        .select(
            "doc_id", F.array_except("ts", "stop_terms").alias("ts")
        )
    )
    pairs = (
        arr.select(F.explode(sorted_pairs("ts", "a", "b")).alias("p"))
        .groupBy(
            F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_PAIRS)
    )
    fa = tdf.select(
        F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    fb = tdf.select(
        F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    return (
        pairs.join(fa, "term_a")
        .join(fb, "term_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n") / (F.col("df_a") * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of a sparse and a dense arm
# ---------------------------------------------------------------------------

RRF_K = 60  # standard fusion constant (Cormack/Clarke/Buettcher)
RRF_QUERY_DOC = 0  # the more-like-this query document / vector
RRF_ARM_N = 50  # per-arm candidate depth
RRF_TOP_K = 10

_RRF_ORACLE = f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM ex GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    q AS (
      SELECT df.term, df.df FROM df
      WHERE df.term IN (
        SELECT term FROM tf WHERE doc_id = {RRF_QUERY_DOC}
      )
      ORDER BY df.df, df.term LIMIT {BM25_QUERY_TERMS}
    ),
    dl AS (
      SELECT doc_id, CAST(len({_TOK}) AS DOUBLE) AS dl FROM documents
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CAST(len({_TOK}) AS DOUBLE)) AS avgdl
      FROM documents
    ),
    sparse AS (
      SELECT tf.doc_id, round(sum(
               ln((st.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
                 * tf.tf * ({BM25_K1} + 1.0)
                 / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
             ), 4) AS score
      FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      WHERE tf.doc_id <> {RRF_QUERY_DOC}
      GROUP BY tf.doc_id
    ),
    sr AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY score DESC, doc_id) AS r
      FROM sparse QUALIFY r <= {RRF_ARM_N}
    ),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n2 AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    dense AS (
      SELECT c.vec_id AS doc_id,
             round(list_dot_product(qv.v, c.v) / (qv.nrm * c.nrm), 4)
               AS sim
      FROM n2 c, (SELECT v, nrm FROM n2
                  WHERE vec_id = {RRF_QUERY_DOC}) qv
      WHERE c.vec_id <> {RRF_QUERY_DOC}
    ),
    dr AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY sim DESC, doc_id) AS r
      FROM dense QUALIFY r <= {RRF_ARM_N}
    ),
    fused AS (
      SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id,
             CAST(coalesce(sr.r, -1) AS BIGINT) AS sparse_rank,
             CAST(coalesce(dr.r, -1) AS BIGINT) AS dense_rank,
             round(coalesce(1.0 / ({RRF_K} + sr.r), 0.0)
                   + coalesce(1.0 / ({RRF_K} + dr.r), 0.0), 6) + 0.0
               AS rrf_score
      FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
    )
    SELECT doc_id, sparse_rank, dense_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP_K}
    """


@query("q_rrf_fusion", oracle=_RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this retrieval with reciprocal-rank fusion:
    the sparse arm is BM25 for the query document's {BM25_QUERY_TERMS}
    rarest terms, the dense arm is embedding cosine to the query
    document's vector (documents and embeddings are id-aligned), and
    the fused score is RRF = sum over arms of 1/({RRF_K}+rank) over
    each arm's top-{RRF_ARM_N} — the standard hybrid-search ladder
    (lexical recall + semantic recall, rank-space fusion so the two
    score scales never need calibrating).

    Plan shape at 100 TB: each arm is its own broadcast-driven scan
    (BM25: query terms + corpus stats broadcast onto the tf frame;
    dense: ONE query vector broadcast onto the embedding scan), each
    ends in a TakeOrderedAndProject of {RRF_ARM_N} rows, and the
    fusion is a full outer join of two {RRF_ARM_N}-row frames — the
    corpus is never shuffled, and the arms run independently. Ranks
    order the ROUNDED arm scores with a doc_id tie-break
    (deterministic cross-engine); missing membership in an arm is the
    conventional rank -1, contributing 0 to the fusion sum.

    tf feeds three consumers (df aggregate, query-term semi-join,
    scoring join) — lazy localCheckpoint shares one materialization
    without pinning CacheManager blocks across registry invocations
    (ADVICE r10: the earlier persist() here leaked cached partitions
    in long-lived sessions).
    """
    docs = table_parallel(spark, sf_dir, "documents")
    ex = _doc_terms(docs)
    tf = (
        ex.groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    qterms = (
        df.join(
            tf.filter(F.col("doc_id") == RRF_QUERY_DOC).select("term"),
            "term",
            "leftsemi",
        )
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .limit(BM25_QUERY_TERMS)
    )
    # doc-length frame checkpointed; the corpus stats derive from it
    # instead of a separate tokenize pass over documents (guide §2.4) —
    # count and avg over the identical per-doc token counts
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("double").alias("dl")
    ).localCheckpoint(eager=False)
    st = dl.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    wexpr = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    sparse = (
        tf.filter(F.col("doc_id") != RRF_QUERY_DOC)
        .join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.round(F.sum(wexpr), 4).alias("score"))
    )
    from pyspark.sql import Window

    # arm top-N via orderBy+limit (TakeOrderedAndProject — a per-
    # partition heap + driver merge), THEN row_number over the N-row
    # result: a global-order row_number on the corpus-sized frame would
    # funnel the whole arm through Exchange SinglePartition (on this
    # Spark build only rank()/dense_rank() get WindowGroupLimit)
    sw = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    sr = (
        sparse.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(RRF_ARM_N)
        .withColumn("r", F.row_number().over(sw))
        .select("doc_id", F.col("r").alias("sr"))
    )

    from data_engineering_project_spotify_app_spark.operators.similarity import (
        _as_double,
        dot,
    )

    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    n2 = e.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm")
    )
    qv = n2.filter(F.col("vec_id") == RRF_QUERY_DOC).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dense = (
        n2.filter(F.col("vec_id") != RRF_QUERY_DOC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("qnrm") * F.col("nrm")),
                4,
            ).alias("sim"),
        )
    )
    dw = Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
    dr = (
        dense.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(RRF_ARM_N)
        .withColumn("r", F.row_number().over(dw))
        .select("doc_id", F.col("r").alias("dr"))
    )
    fused = sr.join(dr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("sr"), F.lit(-1)).cast("bigint").alias(
            "sparse_rank"
        ),
        F.coalesce(F.col("dr"), F.lit(-1)).cast("bigint").alias(
            "dense_rank"
        ),
        (
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("sr")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("dr")), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    ).limit(RRF_TOP_K)
