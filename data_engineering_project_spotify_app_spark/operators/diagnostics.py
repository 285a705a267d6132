"""Corpus-diagnostics operators: the QA reports a training-data team
runs before committing a corpus to a tokenizer/training run.

- ``q_tokenizer_fertility`` — per-language fertility (sub-word tokens
  per whitespace word) with the GPT-2-shaped pre-tokenizer regex the
  token-budget operators already use (mlops.BPE_RE). High fertility for
  a language means the tokenizer fragments it — the standard signal for
  rebalancing BPE training data (cf. the multilingual-tokenizer
  literature's fertility metric).
- ``q_winsorize`` — per-source winsorized length statistics: exact
  interpolated p05/p95 of n_chars and the mean before/after clipping.
  The robust twin of a plain mean; a big raw-vs-winsorized gap flags a
  heavy tail (crawl boilerplate, concatenation bugs) that z-scores
  would miss.
- ``q_near_dup_rate_by_source`` — fraction of each source's documents
  that participate in at least one MinHash-LSH candidate pair. The
  per-source dedup QA report: a source with a high near-dup rate gets
  down-weighted or re-crawled. Reads the shared landed signature frame
  (dedup._minhash_signatures), so the expensive build is shared with
  the whole LSH family.

Scale posture: fertility and winsorize are scan + one or two hash
aggregations (per-lang / per-source groups — tiny); the winsorize
percentile frame re-enters as a broadcast side. The near-dup rate
reuses the capped bucket-collect pair generation — no new pairwise
stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spotify_app_spark.functions.text import TOKENS_SQL, tokens
from data_engineering_project_spotify_app_spark.operators.dedup import (
    MINHASH_CTES,
    MINHASH_PAIRS_SQL,
    minhash_candidate_pairs,
)
from data_engineering_project_spotify_app_spark.operators.mlops import BPE_RE
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table

_WORDS = TOKENS_SQL.format(col="text")

_FERTILITY_ORACLE = f"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text, '{BPE_RE}')) AS n_tok,
             len({_WORDS}) AS n_words,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(sum(n_tok) / (sum(n_words) + 0.0), 4) AS fertility,
           round(sum(n_chars) / (sum(n_tok) + 0.0), 4) AS chars_per_token
    FROM t
    GROUP BY lang
    """


@query("q_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: BPE-style pre-tokens per
    whitespace word (plus chars/token), aggregated corpus-wide.

    Both counts are regexp/split + size — JVM codegen end-to-end; the
    aggregation is |languages| groups. Integer sums divide exactly the
    same in both engines; the ratios are rounded to 4dp (registry
    double discipline).
    """
    d = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
    t = d.select(
        "lang",
        F.size(bpe).cast("bigint").alias("n_tok"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_words").alias("n_words"),
        F.round(F.sum("n_tok") / (F.sum("n_words") + F.lit(0.0)), 4).alias(
            "fertility"
        ),
        F.round(F.sum("n_chars") / (F.sum("n_tok") + F.lit(0.0)), 4).alias(
            "chars_per_token"
        ),
    )


_WINSOR_ORACLE = """
    WITH q AS (
      SELECT source,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY source
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(q.p05, 4) AS p05,
           round(q.p95, 4) AS p95,
           round(avg(d.n_chars), 4) AS mean_raw,
           round(avg(least(greatest(d.n_chars + 0.0, q.p05), q.p95)), 4)
             AS mean_winsorized
    FROM documents d JOIN q ON q.source = d.source
    GROUP BY d.source, q.p05, q.p95
    """


@query("q_winsorize", oracle=_WINSOR_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized document-length statistics: exact
    interpolated p05/p95 of n_chars (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the p·(n−1) linear-interpolation
    definition) and the mean before/after clipping to that band.

    Two aggregations: the per-source percentile frame (|sources| rows)
    broadcasts back onto the scan for the clipped mean. The exact
    percentile sorts within each source group — bounded by the largest
    source; at extreme group sizes swap in approx_percentile with a
    documented error bound (the sketch carve-out path).
    """
    d = table(spark, sf_dir, "documents")
    q = d.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("n_chars") + F.lit(0.0), F.col("p05")), F.col("p95")
    )
    return (
        d.join(F.broadcast(q), "source")
        .groupBy("source", "p05", "p95")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .select(
            "source",
            "n_docs",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "mean_raw",
            "mean_winsorized",
        )
    )


_NEAR_DUP_RATE_ORACLE = f"""
    WITH {MINHASH_CTES},
    mh AS ({MINHASH_PAIRS_SQL}),
    dup_ids AS (
      SELECT doc_a AS doc_id FROM mh
      UNION
      SELECT doc_b AS doc_id FROM mh
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(i.doc_id) AS BIGINT) AS n_near_dup_docs,
           round(count(i.doc_id) / (count(*) + 0.0), 4) AS near_dup_rate
    FROM documents d LEFT JOIN dup_ids i ON i.doc_id = d.doc_id
    GROUP BY d.source
    """


@query("q_near_dup_rate_by_source", oracle=_NEAR_DUP_RATE_ORACLE)
def q_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplicate participation rate: the fraction of a
    source's documents appearing in at least one MinHash-LSH candidate
    pair — the dedup QA table that decides which source gets
    down-weighted or re-crawled.

    The pair set comes from the shared landed signature frame (built
    once per corpus for the whole LSH family); member ids are two
    projections + a distinct (bounded by |pairs|), then one
    left-enrichment onto the documents scan and a |sources|-group
    aggregate. No new pairwise work. The member frame carries NO
    broadcast hint: on a dup-heavy corpus — exactly when this QA
    report gets run — |members| approaches |documents|, so the join
    must be allowed to degrade to a co-partitioned shuffle; AQE still
    broadcasts it at runtime while it is small.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    # Measured-and-rejected (r14): pinning the pair frame (consumed by
    # both member-union branches) ran SLOWER (0.69 → 1.53 s min-of-4,
    # same-session A/B at sf0.1) — the two branches execute as
    # concurrent stages of one job off the signature landing, while a
    # checkpoint serializes the pair derivation ahead of them. The
    # landing read IS the materialized form; kept unpinned.
    pairs = minhash_candidate_pairs(spark, sf_dir)
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        d.join(members, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_dup").alias("n_near_dup_docs"),
            F.round(F.count("is_dup") / (F.count("*") + F.lit(0.0)), 4).alias(
                "near_dup_rate"
            ),
        )
    )


_CROSS_SOURCE_ORACLE = f"""
    WITH {MINHASH_CTES},
    mh AS ({MINHASH_PAIRS_SQL})
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM mh
    JOIN documents da ON da.doc_id = mh.doc_a
    JOIN documents db ON db.doc_id = mh.doc_b
    GROUP BY 1, 2
    """


@query("q_cross_source_overlap", oracle=_CROSS_SOURCE_ORACLE)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: MinHash-LSH candidate pairs
    bucketed by the (unordered) source pair of their two members. The
    off-diagonal cells are content LEAKING between sources — the same
    article syndicated across crawls, or an eval set contaminating a
    train source; the diagonal is within-source redundancy.

    The id→source map is built only for docs that APPEAR in pairs
    (semi-join prune), so the enrichment joins carry a
    |pair-members|-sized frame instead of the documents table; the
    result is a |sources|²-bounded matrix. No broadcast hints: on a
    dup-heavy corpus |members| is a corpus fraction, so the joins must
    be allowed to degrade to co-partitioned shuffles — AQE broadcasts
    at runtime while the map is genuinely small.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    # THREE consumers of the pair frame (both member-union branches +
    # the final enrichment join) re-ran the LSH band explode + pair
    # dedup lineage each; pair-bounded, so the lazy pin computes it
    # once (guide §2.4). Measured r14 pin matrix (min-of-4 at sf0.1):
    # none 1.29, pairs-only 0.98, map-only 1.51, both 0.98 — the pairs
    # pin is the win; ALSO pinning the src_map (two consumers, but
    # derived cheaply from the pinned pairs) only adds a job barrier,
    # so it stays lineage.
    pairs = minhash_candidate_pairs(spark, sf_dir).localCheckpoint(
        eager=False
    )
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    src_map = d.join(members, "doc_id", "leftsemi")
    sa = src_map.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src_map.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


PAD_BUCKET_TOKENS = 64

_PADDING_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    g AS (SELECT max(n_tok) AS gmax FROM t),
    b AS (
      SELECT n_tok, n_tok // {PAD_BUCKET_TOKENS} AS bucket FROM t
    ),
    per AS (
      SELECT bucket,
             count(*) AS n_docs,
             max(n_tok) AS bucket_max,
             sum(n_tok) AS sum_tokens
      FROM b GROUP BY bucket
    )
    SELECT CAST(per.bucket AS BIGINT) AS bucket,
           CAST(per.n_docs AS BIGINT) AS n_docs,
           CAST(per.bucket_max AS BIGINT) AS bucket_max,
           CAST(per.sum_tokens AS BIGINT) AS sum_tokens,
           CAST(per.n_docs * per.bucket_max - per.sum_tokens AS BIGINT)
             AS pad_bucketed,
           CAST(per.n_docs * g.gmax - per.sum_tokens AS BIGINT)
             AS pad_global
    FROM per, g
    """


@query("q_padding_waste", oracle=_PADDING_ORACLE)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching efficiency: per {PAD_BUCKET_TOKENS}-token
    length bucket, the padding tokens wasted when batches pad to the
    bucket max versus to the global max — the standard argument for
    length-bucketed (or packed) batching in LLM training and the number
    that sizes the win before anyone reshuffles a 100 TB corpus.

    One token-count scan (JVM regexp), one |buckets|-group aggregate,
    and the 1-row global max broadcast back — no joins on data-sized
    frames, no windows.
    """
    d = table(spark, sf_dir, "documents")
    t = d.select(
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
        ).cast("bigint").alias("n_tok")
    )
    g = t.agg(F.max("n_tok").alias("gmax"))
    per = (
        t.withColumn(
            "bucket", (F.col("n_tok") / PAD_BUCKET_TOKENS).cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tok").alias("bucket_max"),
            F.sum("n_tok").alias("sum_tokens"),
        )
    )
    return per.crossJoin(F.broadcast(g)).select(
        "bucket",
        "n_docs",
        "bucket_max",
        "sum_tokens",
        (F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens")).alias(
            "pad_bucketed"
        ),
        (F.col("n_docs") * F.col("gmax") - F.col("sum_tokens")).alias(
            "pad_global"
        ),
    )


LENGTH_FLOOR_CHARS = 60

_FUNNEL_ORACLE_TEMPLATE = """
    WITH RECURSIVE {clusters_ctes},
    exact_keep AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id
      FROM documents GROUP BY 1
    ),
    near_keep AS (
      SELECT cluster_id, doc_id AS keep_id FROM (
        SELECT cc.cluster_id, d.doc_id,
               row_number() OVER (
                 PARTITION BY cc.cluster_id
                 ORDER BY length(d.text) DESC, d.doc_id
               ) AS rn
        FROM cc JOIN documents d ON d.doc_id = cc.doc_id
      ) WHERE rn = 1
    ),
    staged AS (
      SELECT {keys}d.doc_id, d.n_chars,
             CASE
               WHEN d.n_chars < {floor} THEN 'length'
               WHEN d.doc_id <> ek.keep_id THEN 'exact_dup'
               WHEN d.doc_id <> nk.keep_id THEN 'near_dup'
               ELSE 'kept'
             END AS stage
      FROM documents d
      JOIN exact_keep ek ON ek.h = md5(d.text)
      JOIN cc ON cc.doc_id = d.doc_id
      JOIN near_keep nk ON nk.cluster_id = cc.cluster_id
    )
    SELECT {keys}stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM staged GROUP BY {keys}stage
    """


def _funnel_oracle(*keys: str) -> str:
    from data_engineering_project_spotify_app_spark.operators.clusters import (
        _CLUSTERS_CTES,
    )

    return _FUNNEL_ORACLE_TEMPLATE.format(
        clusters_ctes=_CLUSTERS_CTES,
        floor=LENGTH_FLOOR_CHARS,
        keys="".join(f"{k}, " for k in keys),
    )


def _funnel(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """The curation funnel's first-drop attribution, grouped by
    ``keys`` + stage (see q_curation_funnel)."""
    from data_engineering_project_spotify_app_spark.operators.clusters import (
        keep_best_from_cc,
        q_dedup_clusters,
    )
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        q_dedup_exact,
    )

    d = table(spark, sf_dir, "documents").select(
        "doc_id", *keys, "n_chars", F.md5("text").alias("h")
    )
    ek = q_dedup_exact(spark, sf_dir).select(
        F.col("text_hash").alias("h"), F.col("keep_id").alias("ekeep")
    )
    # ONE CC run shared by the membership join and the keep-best
    # derivation — calling q_dedup_keep_best here would re-run the whole
    # candidate-pair + connected-components pipeline (eager jobs at
    # construction — the edge fetch, or the distributed loop on a large
    # graph — that Catalyst cannot deduplicate) a second time.
    cc = q_dedup_clusters(spark, sf_dir)
    dl = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    nk = keep_best_from_cc(cc, dl).select(
        "cluster_id", F.col("keep_id").alias("nkeep")
    )
    stage = (
        F.when(F.col("n_chars") < LENGTH_FLOOR_CHARS, F.lit("length"))
        .when(F.col("doc_id") != F.col("ekeep"), F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("nkeep"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        d.join(ek, "h")
        .join(cc, "doc_id")
        .join(nk, "cluster_id")
        .select(*keys, stage.alias("stage"), "n_chars")
        .groupBy(*keys, "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


@query("q_curation_funnel", oracle=_funnel_oracle())
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel, attributed: every document is
    charged to the FIRST stage that would drop it — length floor
    (< {LENGTH_FLOOR_CHARS} chars), exact-duplicate removal (not the
    min-doc_id of its md5 group), near-duplicate removal (not the
    keep-best of its MinHash-LSH cluster) — or 'kept'. This is the
    one-table report a curation team publishes per corpus: how much
    each rule costs, in documents and characters, with no
    double-counting across rules.

    Composes the REGISTERED stage operators (q_dedup_exact's keep ids,
    q_dedup_clusters + keep-best ranking) over the shared signature
    landing; the final attribution is a CASE over three joined keep
    frames and one |stages|-group aggregate. The keep/cluster frames
    are corpus-bounded, so their joins are ordinary co-partitioned
    equi-joins at 100 TB (no broadcast hints), keyed on doc_id/hash.
    """
    return _funnel(spark, sf_dir)


_DUP_INFLATION_ORACLE = """
    WITH g AS (
      SELECT md5(text) AS h,
             count(*) AS n_copies,
             sum(n_chars) AS chars_all,
             arg_min(n_chars, doc_id) AS chars_kept
      FROM documents GROUP BY 1
    )
    SELECT CASE WHEN n_copies = 1 THEN 'unique'
                WHEN n_copies <= 3 THEN 'x2_x3'
                ELSE 'x4_plus' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(chars_all) AS BIGINT) AS n_chars,
           CAST(sum(chars_all - chars_kept) AS BIGINT) AS chars_redundant
    FROM g GROUP BY 1
    """


@query("q_dup_inflation", oracle=_DUP_INFLATION_ORACLE)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-inflation histogram (the 'data diet' report): exact-
    duplicate groups bucketed by copy count (unique / x2-x3 / x4+),
    with the characters a keep-one-per-group dedup would reclaim
    (chars_redundant = total chars minus the kept doc's — kept = min
    doc_id, matching q_dedup_exact's policy). The one-table answer to
    "how much of this corpus is the same bytes over and over".

    Scale: one md5 hash-aggregate over the corpus (map-side combined),
    then a 3-row bucket aggregate — no pairs, no joins. ``min_by``
    keeps the kept doc's chars inside the same aggregate."""
    g = (
        table(spark, sf_dir, "documents")
        .select(F.md5("text").alias("h"), "doc_id", "n_chars")
        .groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.sum("n_chars").alias("chars_all"),
            F.min_by("n_chars", "doc_id").alias("chars_kept"),
        )
    )
    bucket = (
        F.when(F.col("n_copies") == 1, "unique")
        .when(F.col("n_copies") <= 3, "x2_x3")
        .otherwise("x4_plus")
    )
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
        F.sum("chars_all").alias("n_chars"),
        F.sum(F.col("chars_all") - F.col("chars_kept")).alias(
            "chars_redundant"
        ),
    )


@query("q_funnel_by_source", oracle=_funnel_oracle("source"))
def q_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel segmented by source: q_curation_funnel's
    first-drop attribution with a (source, stage) breakdown — which
    source pays each rule. The report a team reads before re-weighting
    a source mix (a crawl slice losing half its docs to near-dup is a
    different problem from one failing the length floor).

    Same composition and scale posture as q_curation_funnel (the stage
    frames are shared registered operators over the landed signatures;
    source rides the document projection for free); output is bounded
    by sources × 4 stages."""
    return _funnel(spark, sf_dir, "source")


def _lang_purity_oracle() -> str:
    from data_engineering_project_spotify_app_spark.operators.clusters import (
        _CLUSTERS_CTES,
    )

    return f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    per_cluster AS (
      SELECT cc.cluster_id,
             count(DISTINCT d.lang) AS n_langs,
             count(*) AS sz
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
      GROUP BY 1
    )
    SELECT CAST(n_langs AS INT) AS n_langs,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM per_cluster WHERE sz > 1 GROUP BY 1
    """


@query("q_cluster_lang_purity", oracle=_lang_purity_oracle())
def q_cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity of near-dup clusters: non-singleton MinHash-LSH
    clusters histogrammed by how many distinct languages they span.
    n_langs > 1 flags translation pairs, language-ID errors, or
    boilerplate shared across language slices — exactly the clusters a
    keep-best policy should NOT collapse blindly.

    Scale: rides the registered cluster frame; one doc_id-keyed join
    to the (doc_id, lang) projection, one cluster-keyed aggregate, and
    a histogram bounded by the language count."""
    from data_engineering_project_spotify_app_spark.operators.clusters import (
        q_dedup_clusters,
    )

    cc = q_dedup_clusters(spark, sf_dir)
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    per = (
        cc.join(langs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count_distinct("lang").alias("n_langs"),
            F.count("*").alias("sz"),
        )
        .filter(F.col("sz") > 1)
    )
    return per.groupBy(F.col("n_langs").cast("int").alias("n_langs")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
    )


_LEN_DECILES_ORACLE = """
    WITH t AS (
      SELECT source, n_chars,
             ntile(10) OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
             ) AS decile
      FROM documents
    )
    SELECT source, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS lo,
           CAST(max(n_chars) AS BIGINT) AS hi,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM t GROUP BY 1, 2
    """


@query("q_length_deciles_by_source", oracle=_LEN_DECILES_ORACLE)
def q_length_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length decile table: each source's docs
    ntile(10)'d by n_chars (doc_id tie-break for determinism), with
    per-decile count, bounds, and mass. The distribution-shape twin of
    q_winsorize's two-point clip — a skewed top decile is the crawl
    boilerplate / concatenation-bug signature.

    Scale: the window partitions BY SOURCE (parallel across sources,
    never a global sort); a source's docs funneling into one partition
    is inherent to exact per-source ranking — at 100 TB use the
    two-phase range-partition rank per source (rankutil) if single
    sources outgrow a task."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    t = table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id"
    ).withColumn("decile", F.ntile(10).over(w))
    return t.groupBy("source", F.col("decile").cast("int").alias("decile")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
        F.sum("n_chars").alias("n_chars"),
    )


from data_engineering_project_spotify_app_spark.functions.text import (  # noqa: E402
    BIGRAMS_SQL,
)

_BIGRAMS = BIGRAMS_SQL.format(tok=TOKENS_SQL.format(col="text"))

_SHINGLE_DF_ORACLE = f"""
    WITH t0 AS (SELECT doc_id, {_BIGRAMS} AS bg FROM documents),
    s AS (SELECT doc_id, unnest(bg) AS sh FROM t0),
    d AS (SELECT sh, count(*) AS df FROM s GROUP BY 1)
    SELECT CASE WHEN df = 1 THEN 'df_1'
                WHEN df <= 10 THEN 'df_2_10'
                WHEN df <= 100 THEN 'df_11_100'
                ELSE 'df_100_plus' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_occurrences
    FROM d GROUP BY 1
    """


@query("q_shingle_df_histogram", oracle=_SHINGLE_DF_ORACLE)
def q_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of word-bigram shingles: how much
    of the shingle vocabulary is unique vs boilerplate — THE diagnostic
    for whether prefix-filter / LSH blocking will discriminate on this
    corpus (a vocabulary dominated by df>100 shingles, like the test
    fixture's, degrades every rare-shingle blocking scheme; see
    q_jaccard_prefix_join's scale notes).

    Scale: rides the shared word-bigram landing (the per-doc bg SET,
    consistent with the oracle's per-doc distinct), one explode + two
    hash aggregates, output bounded at 4 rows."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        _bigram_grams,
    )

    sh = _bigram_grams(spark, sf_dir).select(
        "doc_id", F.explode("bg").alias("sh")
    )
    d = sh.groupBy("sh").agg(F.count("*").alias("df"))
    bucket = (
        F.when(F.col("df") == 1, "df_1")
        .when(F.col("df") <= 10, "df_2_10")
        .when(F.col("df") <= 100, "df_11_100")
        .otherwise("df_100_plus")
    )
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_shingles"),
        F.sum("df").alias("n_occurrences"),
    )


_NORM_STATS_ORACLE = """
    WITH n AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm,
           round(avg(nrm), 4) AS mean_norm,
           round(stddev_pop(nrm), 4) AS std_norm
    FROM n
    """


@query("q_embedding_norm_stats", oracle=_NORM_STATS_ORACLE)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm summary of the embedding corpus (count / min / max /
    mean / population std, 4dp) — the first drift check on a vector
    table: un-normalized vectors or a norm-distribution shift between
    snapshots breaks cosine-vs-dot assumptions downstream.

    Scale: per-row norm is a 64-element JVM-side fold (F.aggregate —
    no Python, no explode); the stats are one algebraic aggregate.
    The per-vector fold order is fixed (array order, both engines), so
    only the corpus-level avg/std see float reassociation — at 4dp on
    O(1) values that noise (~1e-13) cannot flip a boundary."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    n = e.select(nrm.alias("nrm"))
    return n.agg(
        F.count("*").alias("n_vectors"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.round(F.avg("nrm"), 4).alias("mean_norm"),
        F.round(F.stddev_pop("nrm"), 4).alias("std_norm"),
    )


_SOFT_DEDUP_ORACLE = """
    WITH g AS (
      SELECT md5(text) AS h, count(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
           round(sum(1.0 / g.n_copies), 4) + 0.0 AS eff_docs,
           round(sum(d.n_chars * 1.0 / g.n_copies), 4) + 0.0 AS eff_chars,
           round(1.0 - sum(d.n_chars * 1.0 / g.n_copies)
                       / sum(d.n_chars), 4) + 0.0 AS dedup_discount
    FROM documents d JOIN g ON g.h = md5(d.text)
    GROUP BY d.source
    """


@query("q_soft_dedup_weights", oracle=_SOFT_DEDUP_ORACLE)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup accounting (the SlimPajama-style alternative to hard
    removal): every document in an exact-duplicate group of size n gets
    weight 1/n, so the GROUP contributes exactly one document's worth
    of probability mass without anyone choosing which copy to keep.
    Reported per source: raw vs effective (weighted) document and
    character counts, and the dedup discount — how much of a source's
    apparent volume is duplication. Downstream samplers multiply their
    per-doc rates by this weight instead of running a keep/drop pass.

    Plan: one md5 hash-aggregate for group sizes (map-side combined),
    one co-partitioned equi-join back on the digest key, one
    |sources|-row aggregate. No pairs, no arrays. Weighted sums are
    rounded to 4 with the -0.0 fold (cross-engine float convention)."""
    d = table(spark, sf_dir, "documents").select(
        "source", "n_chars", F.md5("text").alias("h")
    )
    g = d.groupBy("h").agg(F.count("*").alias("n_copies"))
    w = 1.0 / F.col("n_copies")
    return (
        d.join(g, "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            (F.round(F.sum(w), 4) + F.lit(0.0)).alias("eff_docs"),
            (F.round(F.sum(F.col("n_chars") * w), 4) + F.lit(0.0)).alias(
                "eff_chars"
            ),
            (
                F.round(
                    1.0
                    - F.sum(F.col("n_chars") * w) / F.sum("n_chars"),
                    4,
                )
                + F.lit(0.0)
            ).alias("dedup_discount"),
        )
    )
