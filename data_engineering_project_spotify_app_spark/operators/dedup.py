"""Deduplication operators over the ``documents`` table.

The reference's only dedup is `set()` on ids (app.py:164 → q_distinct);
a training-data pipeline needs content dedup at 100 TB. Four tiers, from
exact to sketch-based, all expressed so the shuffle-heavy parts are
bounded:

- exact:       hash-groupBy on md5(text) — one shuffle on a 16-byte key.
- n-gram Jaccard: exact set similarity, candidate pairs restricted to a
  partition key (lang, source) so the self-join never goes quadratic in
  the corpus — at scale the partition key is your shard/domain.
- MinHash+LSH: K=16 signatures → 4 bands → candidates share a band key.
  Signature build is one aggregate over exploded shingles (map-side
  combine on min()); the band self-join touches only same-bucket pairs.
- SimHash:     64-bit fingerprint via per-bit voting — one aggregate,
  no pairwise work at all; near-dups collide on the fingerprint.

Every digest is md5 (identical in Spark and DuckDB); MinHash derives its
K hash functions from ONE md5 per shingle via double hashing
(a_i*h1 + b_i*h2 mod 2^31-1 — portable integer arithmetic), so even the
sketch operators are *exactly* oracle-checkable — no rows-only escape
hatch needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.functions.text import (
    BIGRAMS_SQL,
    TOKENS_SQL,
    tokens,
    word_bigrams,
    word_bigrams_multiset,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table, table_parallel

_TOK = TOKENS_SQL.format(col="text")
_BIGRAMS = BIGRAMS_SQL.format(tok=_TOK)

JACCARD_THRESHOLD = 0.15

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS

# Skew cap for the _capped production variants: an LSH band bucket (or a
# shingle posting list) holding more than max(16, n_docs/200) documents
# carries no dedup signal — it is an uninformative band / stop-shingle —
# and its C(k,2) pair explosion would serialize one task at corpus
# scale. Dropping it bounds the largest bucket's work; true near-dups
# re-surface via their other, informative bands/shingles. The cap is
# RELATIVE to corpus size (0.5% doc-frequency) so the same query is
# meaningful at every SF; computed in-plan (broadcast scalar) on the
# Spark side and as a scalar subquery in the oracle.
CAP_FLOOR = 16
CAP_DIVISOR = 200


def _auto_cap(n_rows: F.Column) -> F.Column:
    return F.greatest(
        F.lit(CAP_FLOOR), F.floor(n_rows / CAP_DIVISOR)
    ).cast("bigint")


def _cap_buckets(buckets: DataFrame, arr: str, cap: DataFrame) -> DataFrame:
    """Drop the buckets whose ``arr`` holds more members than the one
    value of the 1-row ``cap`` frame (usually ``_auto_cap`` of a row
    count), broadcast as a scalar so the cap stays in-plan."""
    (cap_col,) = cap.columns
    return buckets.crossJoin(F.broadcast(cap)).filter(
        F.size(arr) <= F.col(cap_col)
    )


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by content hash, keep the min doc_id.

    Scale: the only shuffle key is the 16-byte digest — uniform by
    construction (no skew), partial-aggregated map-side. 100 TB of text
    shuffles only (hash, min_id, count) triples.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, source, {_BIGRAMS} AS bg
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source, unnest(bg) AS shingle FROM grams
    ),
    cnt AS (
      SELECT doc_id, CAST(len(bg) AS BIGINT) AS n FROM grams
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a
      JOIN sh b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_common / (ca.n + cb.n - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_a
    JOIN cnt cb ON cb.doc_id = i.doc_b
    WHERE i.n_common / (ca.n + cb.n - i.n_common) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact bigram-set Jaccard within (lang, source).

    Candidate generation is the shingle self-join *inside a partition
    key* — the standard trick that keeps exact-Jaccard dedup from going
    O(N²) over the corpus: pairs only form within a shard. The join key
    (lang, source, shingle) is the shuffle key; per-doc shingles are
    distinct so each common shingle contributes exactly 1 to |A∩B|.
    """
    return ngram_jaccard_pairs(grams=_bigram_grams(spark, sf_dir))


def ngram_jaccard_pairs(
    docs: DataFrame | None = None,
    df_cap: int | str | None = None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Bigram-Jaccard near-dup pairs over a (doc_id, lang, source, text)
    frame; ``df_cap`` drops shingles with per-shard doc-frequency above
    the cap before pair generation (the production skew guard — see
    q_dedup_ngram_jaccard_capped). An int caps absolutely; ``"auto"``
    uses max(CAP_FLOOR, n_docs/CAP_DIVISOR) computed in-plan. ``grams``
    short-circuits the tokenize+shingle pass with a precomputed
    (doc_id, lang, source, bg) frame (the shared landing).
    """
    if grams is None:
        if docs is None:
            raise ValueError("ngram_jaccard_pairs needs docs or grams")
        # materialize the token array BEFORE shingling: expression trees
        # that reference tokens() inline would re-run the regex split per
        # element_at call inside the transform lambda (measured 10x)
        toks = docs.select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("tok")
        )
        grams = toks.select(
            "doc_id", "lang", "source", word_bigrams(F.col("tok")).alias("bg")
        )
    # carry |shingles(doc)| on every exploded row (size() before explode is
    # free) so no join-back-to-counts is needed after the pair aggregation
    sh = grams.select(
        "doc_id",
        "lang",
        "source",
        F.size("bg").cast("bigint").alias("n"),
        F.explode("bg").alias("shingle"),
    )
    # Candidate pairs by bucket-collect, not a shingle self-join: group on
    # the (shard, shingle) key, collect the (sorted, hence doc_a < doc_b)
    # doc list per bucket, and generate the C(k,2) pairs with
    # sorted_pairs. Same pairs as the θ-self-join, but ONE shuffle of the
    # shingle table instead of two join sides, and no recompute diamond
    # (the round-1 version needed a localCheckpoint to stop the
    # tokenize→shingle lineage running twice). Per-doc shingles are
    # distinct, so each bucket contributes exactly 1 to |A∩B|.
    # Scale: a degenerate bucket (an ultra-common shingle) makes pair-gen
    # quadratic in ONE task — df_cap drops those buckets (the registered
    # capped variant exercises it; the uncapped form keeps the exact
    # textbook semantics).
    buckets = (
        sh.groupBy("lang", "source", "shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "n"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    if df_cap == "auto":
        cap = grams.agg(_auto_cap(F.count("*")).alias("df_cap"))
        buckets = _cap_buckets(buckets, "ds", cap)
    elif df_cap is not None:
        buckets = buckets.filter(F.size("ds") <= df_cap)
    inter = (
        buckets.select(F.explode(sorted_pairs("ds", "a", "b")).alias("pr"))
        .select(
            F.col("pr.a.doc_id").alias("doc_a"),
            F.col("pr.a.n").alias("na"),
            F.col("pr.b.doc_id").alias("doc_b"),
            F.col("pr.b.n").alias("nb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return inter.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


@query(
    "q_dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, source, {_BIGRAMS} AS bg
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source, unnest(bg) AS shingle FROM grams
    ),
    cnt AS (
      SELECT doc_id, CAST(len(bg) AS BIGINT) AS n FROM grams
    ),
    kept AS (
      SELECT lang, source, shingle FROM sh
      GROUP BY 1, 2, 3
      HAVING count(*) <= greatest({CAP_FLOOR},
                                  (SELECT count(*) FROM documents)
                                    // {CAP_DIVISOR})
    ),
    shf AS (
      SELECT sh.* FROM sh JOIN kept USING (lang, source, shingle)
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a
      JOIN shf b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_common / (ca.n + cb.n - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_a
    JOIN cnt cb ON cb.doc_id = i.doc_b
    WHERE i.n_common / (ca.n + cb.n - i.n_common) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-capped bigram-Jaccard near-dup pairs — the production form.

    Identical to q_dedup_ngram_jaccard except shingles whose doc-
    frequency exceeds max(16, n_docs/200) are dropped BEFORE the
    bucket-collect: an ultra-common shingle ("of the") is a stop-feature
    with no dedup signal, and its C(df, 2) pair explosion is the one
    place the uncapped plan serializes a task at 100 TB. The cap is
    relative (0.5% doc-frequency) so it tracks corpus growth; it ships
    as a broadcast scalar, so the plan cost is one count + one filter.
    The resulting jaccard is a lower bound (intersection counts only
    informative shingles; the denominator keeps the full shingle
    counts), so a pair passing the threshold is at least as similar as
    reported.
    """
    return ngram_jaccard_pairs(
        df_cap="auto", grams=_bigram_grams(spark, sf_dir)
    )


_MERSENNE = 2147483647  # 2^31 - 1


def _hex2int_sql(col: str, start: int) -> str:
    """Portable hex→int for an 8-hex-digit slice of an md5 digest.

    Identical text works in Spark SQL and DuckDB (instr/substr/arithmetic
    only) — the cross-engine replacement for conv(), which DuckDB lacks.
    """
    terms = [
        f"CAST(instr('0123456789abcdef', substr({col}, {start + k}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (7 - k)}"
        for k in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _minhash_hash_sql(i: int) -> str:
    """h_i(shingle) = (a_i*h1 + b_i*h2) mod p over ONE md5 per shingle.

    Classic double hashing (Kirsch–Mitzenmacher): the md5 is computed
    once and 16 independent-enough hash functions are derived with cheap
    arithmetic — 16x fewer digest computations than md5 per (seed,
    shingle). a_i odd keeps the map bijective mod 2^31-1.
    """
    a, b = 2 * i + 1, 7 * i + 3
    return f"({a} * h1 + {b} * h2) % {_MERSENNE}"


def _minhash_sig_cols() -> list[F.Column]:
    """K min-hash aggregates over (h1, h2) columns (see _minhash_hash_sql)."""
    return [
        F.expr(f"min({_minhash_hash_sql(i)})").alias(f"h{i}")
        for i in range(N_MINHASH)
    ]


def _minhash_sig_sql() -> str:
    return ",\n             ".join(
        f"min({_minhash_hash_sql(i)}) AS h{i}" for i in range(N_MINHASH)
    )


_H12_SQL = (
    f"SELECT doc_id, {_hex2int_sql('d', 1)} AS h1, "
    f"{_hex2int_sql('d', 9)} AS h2 "
    "FROM (SELECT doc_id, md5(shingle) AS d FROM sh) hashed"
)


def _band_key_sql(b: int) -> str:
    cols = " || '|' || ".join(
        f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    return f"md5({cols})"


# The minhash CTE chain, reusable by downstream oracles (clusters): ends
# with `bands` (doc_id, band, band_key).
MINHASH_CTES = f"""grams AS (
      SELECT doc_id, {_BIGRAMS} AS bg FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(bg) AS shingle FROM grams WHERE len(bg) > 0
    ),
    h12 AS (
      {_H12_SQL}
    ),
    sig AS (
      SELECT doc_id,
             {_minhash_sig_sql()}
      FROM h12 GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
      )}
    )"""

MINHASH_PAIRS_SQL = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_bands_matched
    FROM bands a
    JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2"""

_MINHASH_ORACLE = f"""
    WITH {MINHASH_CTES}
    {MINHASH_PAIRS_SQL}
    """


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=16 min-hash signature per doc, as a shared bucketed landing.

    EIGHT registered queries consume this exact frame (pair generation,
    clusters, calibration sweeps, method agreement, savings, splits,
    incremental) and Spark shares no subplans across separate query
    executions — each used to re-pay the shingle+minhash build (~1 s at
    sf0.1). Landed once per corpus as a managed parquet table bucketed
    by doc_id (the graph family's landed_copurchase_edges pattern:
    derive once, probe many); signatures are deterministic in the
    corpus, so every consumer reads bit-identical values.
    """
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "minhash_signatures",
        "doc_id",
        lambda: minhash_signatures_df(
            table_parallel(spark, sf_dir, "documents")
        ),
    )


def _bigram_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus word-bigram SET frame (doc_id, lang, source, bg) as a
    shared bucketed landing — five consumers (exact/capped Jaccard,
    prefix join, containment join, calibration truth, weighted Jaccard)
    each re-paid the tokenize+shingle pass; same derive-once pattern as
    _minhash_signatures. One row per document (bg is the per-doc array),
    bucketed by doc_id."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    def build():
        docs = table_parallel(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("tok")
        )
        return toks.select(
            "doc_id", "lang", "source",
            word_bigrams(F.col("tok")).alias("bg"),
        )

    return landed_frame(
        spark, sf_dir, "word_bigrams", "doc_id", build
    )


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """K=16 min-hash signature per (doc_id, text) row — see
    _minhash_signatures.

    Minima are computed ARRAY-SIDE per document (array_min over
    zip_with of the per-doc h1/h2 arrays), not by exploding shingle
    rows into a groupBy: the explode form shuffled and partial-agged
    ~2.5 M shingle rows; this form keeps everything doc-granular —
    zero shuffle in the signature stage, measured 0.97 → 0.58 s at
    sf0.1 with bit-identical signatures. Per-row payload is bounded by
    document length (the explode form kept a doc's shingles in one
    partition anyway, so this loses no parallelism). Spark side uses
    native conv() for hex→int; the oracle keeps the portable
    instr/substr arithmetic (_hex2int_sql) because DuckDB lacks conv —
    same integers, proven by the tri-SF hash checks.
    """
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    # zip_with shingles, NOT posexplode+element_at: the exploded form
    # carries the whole token array on every shingle row, and with the
    # md5/conv projection downstream it measured 1.7x SLOWER end-to-end
    # (isolated explode-and-count benchmarks say the opposite — always
    # A/B the full pipeline).
    grams = toks.select(
        "doc_id", word_bigrams_multiset(F.col("tok")).alias("bg")
    ).filter(F.size("bg") > 0)
    hh = grams.select(
        "doc_id", F.expr("transform(bg, s -> md5(s))").alias("da")
    ).select(
        "doc_id",
        F.expr(
            "transform(da, x -> "
            "CAST(conv(substring(x, 1, 8), 16, 10) AS BIGINT))"
        ).alias("h1a"),
        F.expr(
            "transform(da, x -> "
            "CAST(conv(substring(x, 9, 8), 16, 10) AS BIGINT))"
        ).alias("h2a"),
    )
    mins = [
        F.expr(
            f"array_min(zip_with(h1a, h2a, "
            f"(x, y) -> ({_minhash_hash_sql(i).replace('h1', 'x').replace('h2', 'y')})))"
        ).alias(f"h{i}")
        for i in range(N_MINHASH)
    ]
    return hh.select("doc_id", *mins)


def minhash_candidate_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | str | None = None
) -> DataFrame:
    """Candidate near-dup pairs (doc_a, doc_b, n_bands_matched) — the
    shared building block of q_minhash_lsh and the cluster operators.

    K=16 hash functions derived from one md5 per shingle by double
    hashing (see _minhash_hash_sql) — integer minima, bit-identical in
    Spark and the SQL oracle.
    Bands of 4 rows are hashed to a band key; docs sharing any band key
    are candidates (the classic s-curve: J≈0.5 pairs ~23%, J≈0.9 ~94%).

    Scale: signature build is ONE aggregation over exploded shingles with
    map-side combine (min is algebraic); candidates come from a
    bucket-collect on the band key (one shuffle of (band_key, doc_id)
    pairs — see the inline comment below). No quadratic stage anywhere
    except within a bucket, which ``bucket_cap`` bounds (see
    q_minhash_lsh_capped).
    """
    # "auto" cap counts the cheap documents scan, NOT the sig frame;
    # sig is the at-rest landing now, so a second consumer is only a
    # table scan, but the raw documents count is cheaper still.
    cap_df = (
        table(spark, sf_dir, "documents") if bucket_cap == "auto" else None
    )
    return minhash_candidate_pairs_df(
        _minhash_signatures(spark, sf_dir),
        bucket_cap=bucket_cap,
        cap_df=cap_df,
    )


def lsh_bands_df(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a signature frame (doc_id,
    h0..h15) — bands via ONE explode: a per-band union would recompute
    the whole signature aggregation once per band (Spark does not share
    subplans across union branches). Shared by the batch pair
    generators below and the streaming LSH-store maintainer
    (streaming/dedup_stream.py), whose at-rest store is exactly this
    frame."""
    band_structs = ", ".join(
        f"struct({band} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"CAST(h{band * ROWS_PER_BAND + r} AS STRING)"
            for r in range(ROWS_PER_BAND)
        )
        + ")) AS band_key)"
        for band in range(N_BANDS)
    )
    # one SQL expression, not a Column object per band and hash: every
    # Column call is a py4j round trip, and building the frame that way
    # took 0.15 s against 0.045 s (median of 12, 4-core VM)
    return sig.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bk"
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_candidate_pairs_df(
    sig: DataFrame,
    bucket_cap: int | str | None = None,
    cap_df: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket candidate pairs from a signature frame (doc_id,
    h0..h15). ``bucket_cap`` drops band buckets larger than the cap
    before pair generation — the skew guard. An int caps absolutely;
    ``"auto"`` uses max(CAP_FLOOR, n/CAP_DIVISOR) in-plan, with n
    counted from ``cap_df`` (pass the raw docs frame — counting ``sig``
    itself would recompute the signature aggregation)."""
    bands = lsh_bands_df(sig)
    # Candidate pairs by bucket-collect: group on the band key, collect
    # the sorted doc list, generate C(k,2) pairs with sorted_pairs.
    # Replaces the round-1 band self-join + its
    # localCheckpoint diamond — one shuffle of (band_key, doc_id) instead
    # of two join sides, and the signature aggregation runs exactly once.
    # Bucket skew (a degenerate band key) serializes one task; bucket_cap
    # drops over-full buckets — an over-full LSH bucket means the band is
    # uninformative, and its pairs re-surface via the other bands.
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if bucket_cap == "auto":
        cap = (cap_df if cap_df is not None else sig).agg(
            _auto_cap(F.count("*")).alias("bucket_cap")
        )
        buckets = _cap_buckets(buckets, "ids", cap)
    elif bucket_cap is not None:
        buckets = buckets.filter(F.size("ids") <= bucket_cap)
    pairs = buckets.select(
        F.explode(sorted_pairs("ids", "doc_a", "doc_b")).alias("pr")
    )
    return (
        pairs.select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


@query("q_minhash_lsh", oracle=_MINHASH_ORACLE)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs (see minhash_candidate_pairs)."""
    return minhash_candidate_pairs(spark, sf_dir)


_MINHASH_CAPPED_ORACLE = f"""
    WITH {MINHASH_CTES},
    kept AS (
      SELECT band, band_key FROM bands
      GROUP BY 1, 2
      HAVING count(*) <= greatest({CAP_FLOOR},
                                  (SELECT count(*) FROM documents)
                                    // {CAP_DIVISOR})
    ),
    bk AS (
      SELECT bands.* FROM bands JOIN kept USING (band, band_key)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_bands_matched
    FROM bk a
    JOIN bk b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@query("q_minhash_lsh_capped", oracle=_MINHASH_CAPPED_ORACLE)
def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-capped MinHash+LSH candidate pairs — the production form.

    Identical to q_minhash_lsh except band buckets holding more than
    max(16, n_docs/200) docs are dropped before the C(k,2) pair
    explosion. A bucket that big means the band's 4 min-hashes are
    degenerate for those docs (boilerplate shingles, near-empty texts)
    — its pairs are noise, and its quadratic blow-up is the one task
    that would serialize the stage at 100 TB. n_bands_matched then
    counts only informative bands, and the max per-task pair work is
    bounded by C(cap, 2) per bucket.
    """
    return minhash_candidate_pairs(spark, sf_dir, bucket_cap="auto")


_SIG_EQ_SQL = " + ".join(
    f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
)

_JACCARD_EST_ORACLE = f"""
    WITH {MINHASH_CTES},
    cand AS (
      {MINHASH_PAIRS_SQL}
    )
    SELECT c.doc_a, c.doc_b,
           round(({_SIG_EQ_SQL}) / {N_MINHASH}.0, 4) AS j_est
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    """


@query("q_minhash_jaccard_est", oracle=_JACCARD_EST_ORACLE)
def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard for every LSH candidate pair — the sketch's
    payoff: Pr[min-hash collision] = J, so the fraction of matching
    signature components is an unbiased J estimate with no shingle
    re-join.

    At 100 TB this is how candidate pairs get *scored* without touching
    raw text a second time: the signature table (K ints per doc) is the
    only input besides the pair list. Estimator std-dev is
    sqrt(J(1-J)/K) ≈ 0.12 at K=16 — tests bound the error against exact
    bigram Jaccard.
    """
    # the signature table feeds three consumers (bands → pairs, and both
    # sides of the scoring join); it is the at-rest landing, so each
    # consumer is a bucketed table scan — the localCheckpoint that once
    # stopped a triple recompute would now just copy the parquet into
    # executor block storage
    sig = _minhash_signatures(spark, sf_dir)
    # the distinct candidate set: the unused n_bands_matched count is
    # pruned, which leaves the same aggregate a distinct() plans
    cand = minhash_candidate_pairs_df(sig).select("doc_a", "doc_b")
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_MINHASH)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_MINHASH)],
    )
    n_eq = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_eq / float(N_MINHASH), 4).alias("j_est"),
        )
    )


_HEX = "0123456789abcdef"


def _simhash_vote_sql(bit: int) -> str:
    digit_pos = bit // 4 + 1
    shift = 3 - bit % 4
    d = f"(instr('{_HEX}', substr(md5(tok), {digit_pos}, 1)) - 1)"
    return f"sum(2 * (({d} >> {shift}) & 1) - 1)"


# The simhash CTE chain, reusable by downstream oracles (hamming pairs):
# ends with `sighs` (doc_id, simhash).
SIMHASH_CTES = f"""tok_table AS (
      SELECT doc_id, unnest(list_distinct({_TOK})) AS tok FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {",".join(
                 f"CASE WHEN {_simhash_vote_sql(b)} >= 0 THEN '1' ELSE '0' END AS b{b}"
                 for b in range(64)
             )}
      FROM tok_table GROUP BY doc_id
    ),
    sighs AS (
      SELECT doc_id, {" || ".join(f"b{b}" for b in range(64))} AS simhash
      FROM votes
    )"""

_SIMHASH_ORACLE = f"""
    WITH {SIMHASH_CTES}
    SELECT doc_id, simhash FROM sighs
    """


@query("q_simhash", oracle=_SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (Charikar sketch).

    Per distinct token, the md5 digest's first 64 bits vote ±1 per bit
    position; the fingerprint takes the sign of each vote sum. Emitted as
    a 64-char bitstring (portable across engines — no int64 sign issues).
    Near-dup docs differ in a few bits → group by fingerprint (or band
    substrings of it) to cluster.

    Scale: ONE aggregation — 64 algebraic sums with map-side combine over
    exploded tokens; zero pairwise computation. The standard choice when
    even LSH candidate joins are too hot.
    """
    return _simhash_signatures(spark, sf_dir)


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus (doc_id, simhash) frame as a shared bucketed landing —
    three consumers (q_simhash, q_simhash_hamming, and through it
    q_dedup_method_agreement) re-paid the exploded-token vote
    aggregation (~0.9 s at sf0.1); same derive-once pattern as
    _minhash_signatures."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "simhash_signatures",
        "doc_id",
        lambda: simhash_signatures_df(
            table_parallel(spark, sf_dir, "documents")
        ),
    )


def simhash_signatures_df(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per (doc_id, text) row — see q_simhash."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tok_arr")).select(
        "doc_id", F.explode(F.array_distinct(F.col("tok_arr"))).alias("tok")
    )

    def vote(b: int) -> F.Column:
        # identical arithmetic to _simhash_vote_sql(b), Spark-SQL spelled
        digit = f"(instr('{_HEX}', substring(md5(tok), {b // 4 + 1}, 1)) - 1)"
        return F.expr(
            f"sum(2 * (shiftright({digit}, {3 - b % 4}) & 1) - 1)"
        )

    votes = [
        F.when(vote(b) >= 0, "1").otherwise("0").alias(f"b{b}")
        for b in range(64)
    ]
    return (
        toks.groupBy("doc_id")
        .agg(*votes)
        .select(
            "doc_id",
            F.concat(*[F.col(f"b{b}") for b in range(64)]).alias("simhash"),
        )
    )


# SimHash Hamming pairing: 4 blocks of 16 bits; by pigeonhole, any pair
# within Hamming distance <= HAMMING_MAX (= blocks - 1) shares at least
# one untouched block, so multi-index blocking finds ALL such pairs.
N_SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 64 // N_SIMHASH_BLOCKS
HAMMING_MAX = N_SIMHASH_BLOCKS - 1

# The simhash pair CTE chain (blocks → kept → bk → cand → scored),
# reusable by downstream oracles (method-agreement): ends with `scored`
# (doc_a, doc_b, hamming). Apply the HAMMING_MAX filter at use site.
SIMHASH_PAIRS_CTES = f"""blocks AS (
      SELECT doc_id, simhash, bl.block AS block,
             substr(simhash, bl.block * {SIMHASH_BLOCK_BITS} + 1,
                    {SIMHASH_BLOCK_BITS}) AS bkey
      FROM sighs
      CROSS JOIN (
        SELECT unnest([{",".join(str(b) for b in range(N_SIMHASH_BLOCKS))}])
               AS block
      ) bl
    ),
    kept AS (
      SELECT block, bkey FROM blocks
      GROUP BY 1, 2
      HAVING count(*) <= greatest({CAP_FLOOR},
                                  (SELECT count(*) FROM documents)
                                    // {CAP_DIVISOR})
    ),
    bk AS (
      SELECT blocks.* FROM blocks JOIN kept USING (block, bkey)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bk a
      JOIN bk b
        ON a.block = b.block AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             CAST(len(list_filter(range(1, 65),
                                  i -> substr(sa, i, 1) <> substr(sb, i, 1)))
                  AS INT) AS hamming
      FROM cand
    )"""

_SIMHASH_HAMMING_ORACLE = f"""
    WITH {SIMHASH_CTES},
    {SIMHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= {HAMMING_MAX}
    """


@query("q_simhash_hamming", oracle=_SIMHASH_HAMMING_ORACLE)
def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance {HAMMING_MAX} —
    the pair-generation half of the SimHash dedup mode (q_simhash emits
    only fingerprints; group-by-fingerprint catches distance 0 only).

    Multi-index pigeonhole blocking (Manku et al., WWW'07 — the
    web-scale simhash dedup design): the 64-bit fingerprint splits into
    {N_SIMHASH_BLOCKS} blocks of {SIMHASH_BLOCK_BITS} bits; a pair
    within Hamming distance {HAMMING_MAX} differs in at most
    {HAMMING_MAX} blocks, so it collides on at least one block key —
    candidate generation is exhaustive for the threshold, never
    quadratic in the corpus. Candidates are verified with the exact
    64-position Hamming distance, computed array-side (codegen
    ``filter(sequence(...))`` — no UDF).

    Scale: the same bucket-collect + auto skew cap discipline as the
    capped LSH variants (a block key shared by > max({CAP_FLOOR},
    n/{CAP_DIVISOR}) docs is an uninformative quarter-fingerprint —
    its pairs re-surface via their other blocks); one shuffle of
    (block, bkey, doc_id, simhash), pairs generated array-side inside
    capped buckets, then an exact verify on 128 chars per pair.
    """
    cap = table(spark, sf_dir, "documents").agg(
        _auto_cap(F.count("*")).alias("bucket_cap")
    )
    return simhash_hamming_pairs_df(
        cap_df=cap, sig=_simhash_signatures(spark, sf_dir)
    )


def simhash_hamming_pairs_df(
    docs: DataFrame | None = None,
    cap_df: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """SimHash Hamming pairs from a (doc_id, text) frame — see
    q_simhash_hamming. ``cap_df`` is an optional 1-row (bucket_cap)
    frame; None disables the skew cap (tests / pre-capped inputs).
    ``sig`` short-circuits the fingerprint build with a precomputed
    (doc_id, simhash) frame (the shared landing)."""
    if sig is None:
        if docs is None:
            raise ValueError("simhash_hamming_pairs_df needs docs or sig")
        sig = simhash_signatures_df(docs)
    # Convert the 64-char bit string ONCE PER DOC into two bigint
    # halves (each ≤ 2^32 — no signed-overflow risk) so the per-PAIR
    # verify below is two xor+popcounts instead of 64 substring
    # comparisons. The halves ride through the bucket-collect in place
    # of the string; mathematically hamming(sa, sb) ==
    # bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b), so the emitted
    # integer — and the oracle hash — is unchanged (the DuckDB oracle
    # keeps the positional substr form; measured 1.78 → 1.0 s at
    # sf0.1, the verify was the dominant per-pair cost).
    halves = sig.select(
        "doc_id",
        "simhash",
        F.expr("CAST(conv(substring(simhash, 1, 32), 2, 10) AS BIGINT)")
        .alias("hi"),
        F.expr("CAST(conv(substring(simhash, 33, 32), 2, 10) AS BIGINT)")
        .alias("lo"),
    )
    blocks = halves.select(
        "doc_id",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.substring(
                            "simhash",
                            b * SIMHASH_BLOCK_BITS + 1,
                            SIMHASH_BLOCK_BITS,
                        ).alias("bkey"),
                    )
                    for b in range(N_SIMHASH_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "hi", "lo", "bk.block", "bk.bkey")
    buckets = (
        blocks.groupBy("block", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "hi", "lo"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    if cap_df is not None:
        buckets = _cap_buckets(buckets, "ds", cap_df)
    pairs = (
        buckets.select(F.explode(sorted_pairs("ds", "a", "b")).alias("pr"))
        .select(
            F.col("pr.a.doc_id").alias("doc_a"),
            F.col("pr.b.doc_id").alias("doc_b"),
            F.col("pr.a.hi").alias("ha"),
            F.col("pr.a.lo").alias("la"),
            F.col("pr.b.hi").alias("hb"),
            F.col("pr.b.lo").alias("lb"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.expr("ha ^ hb")) + F.bit_count(F.expr("la ^ lb"))
    ).cast("int")
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# "Today's ingest": a deterministic 20% slice (doc_id % 10 < 2) stands in
# for the docs that arrived since the last dedup pass; the rest are the
# already-indexed store.
_INCR_NEW_SQL = "doc_id % 10 < 2"


@query(
    "q_incremental_dedup",
    oracle=f"""
    WITH {MINHASH_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_bands_matched
      FROM bands a
      JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.{_INCR_NEW_SQL} OR b.{_INCR_NEW_SQL}
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_bands_matched,
           CASE WHEN doc_a % 10 < 2 AND doc_b % 10 < 2
                THEN 'new_new' ELSE 'new_old' END AS kind
    FROM pairs
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup — the daily-ingest shape: candidate
    pairs where at least one side is NEW (today's slice), i.e. new-vs-
    store and new-vs-new, while store-vs-store pairs (already emitted by
    yesterday's pass) are never GENERATED, not merely filtered: each
    band bucket splits into old/new id arrays and pairs come from
    new × old plus the new-triangle, so per-bucket cost is
    O(|new| × |bucket|) instead of O(|bucket|²). With a 1% daily delta
    on a 100 TB store that is the difference between a nightly job and
    a re-run of the entire dedup.

    In production the store side's signatures/bands are read back from
    the signature table written by earlier passes (pay the shingle+
    minhash cost once per doc, ever); here both sides derive in-plan so
    the oracle can check the full pipeline. Buckets with no new member
    are dropped before any pair work — at a steady corpus that prunes
    ~99% of buckets.

    Output: (doc_a, doc_b, n_bands_matched, kind ∈ {{new_new, new_old}}),
    doc_a < doc_b — the same contract as q_minhash_lsh restricted to
    pairs touching the delta.
    """
    return incremental_candidate_pairs_df(_minhash_signatures(spark, sf_dir))


def incremental_candidate_pairs_df(sig: DataFrame) -> DataFrame:
    """Delta-only LSH pair generation from a signature frame (doc_id,
    h0..h15) — see q_incremental_dedup. DataFrame-level so the scale
    probe can compare it against the full pair generation on blown-up
    corpora."""
    bands = lsh_bands_df(sig).withColumn(
        "is_new", F.pmod(F.col("doc_id"), F.lit(10)) < 2
    )
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("is_new"), F.col("doc_id")))
            ).alias("new_ids"),
            F.array_sort(
                F.collect_list(F.when(~F.col("is_new"), F.col("doc_id")))
            ).alias("old_ids"),
        )
        .filter(F.size("new_ids") > 0)
        .filter(F.size("new_ids") + F.size("old_ids") > 1)
    )
    # new × old cross (ordered a<b per pair) + triangle over new_ids
    pairs = buckets.select(
        F.explode(
            F.concat(
                F.expr(
                    "flatten(transform(new_ids, x -> "
                    "transform(old_ids, y -> struct("
                    "least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
                ),
                sorted_pairs("new_ids", "doc_a", "doc_b"),
            )
        ).alias("pr")
    )
    kind = F.when(
        (F.pmod(F.col("doc_a"), F.lit(10)) < 2)
        & (F.pmod(F.col("doc_b"), F.lit(10)) < 2),
        "new_new",
    ).otherwise("new_old")
    return (
        pairs.select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_matched"))
        .select("doc_a", "doc_b", "n_bands_matched", kind.alias("kind"))
    )


@query(
    "q_source_contamination",
    oracle=f"""
    WITH {MINHASH_CTES},
    pairs AS (
      {MINHASH_PAIRS_SQL}
    )
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           count(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def q_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: how many near-dup candidate
    pairs (MinHash-LSH) straddle each source pair — the standard audit
    before mixture-weighting a multi-source corpus (a crawl slice that
    heavily duplicates a curated source would otherwise be up-weighted
    twice). Diagonal entries (src_lo = src_hi) measure within-source
    redundancy; off-diagonal entries are the leakage.

    Scale: pair generation is the capped bucket-collect (no all-pairs
    stage); the two source lookups join the pair list — tiny relative
    to the corpus — against the (doc_id, source) projection, AQE-
    broadcast at small SF, co-partitioned id joins at 100 TB. Output is
    bounded by sources², independent of corpus size.
    """
    pairs = minhash_candidate_pairs(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# Prefix-filter join threshold as an exact fraction (3/5) so the prefix
# length uses integer arithmetic — a float 0.6*n that wobbles below an
# integer boundary would shorten the prefix and silently LOSE pairs.
JP_T_NUM, JP_T_DEN = 3, 5


# Width of the per-doc set signature, in 64-bit words (r15). Each
# shingle rank hashes to one of JP_SIG_WORDS*64 bit positions; a doc's
# signature ORs its ranks' bits. popcount(sig_a XOR sig_b) then LOWER-
# bounds |A△B| (a bit set on exactly one side witnesses >= 1 element of
# the symmetric difference, distinct bits witness distinct elements),
# which makes the emission-time prune in q_jaccard_prefix_join exact.
# Sizing: discrimination degrades as sets saturate the bitmap (n >>
# bits leaves XOR near 0 — harmless, the filter just stops pruning);
# 128 bits covers the 8..98-shingle docs here with ~4 sigma of
# separation for dissimilar pairs. At 100 TB size it to ~2x the typical
# distinct-shingle count per doc.
JP_SIG_WORDS = 2


def _jp_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_jaccard_prefix_join's per-doc frame: sorted global-rarity rank
    array (rarest first), integer prefix length, and the fixed-width
    set-signature words b0..b{JP_SIG_WORDS-1} (see JP_SIG_WORDS — the
    signature rides the slim prefix join as 2 extra longs so pairs can
    be pruned at emission). Factored out (and plan-pinned in
    tests/test_plans.py) because the query consumes it through a
    localCheckpoint boundary that hides this subplan: the global
    ranking must stay the TWO-PHASE range rank (rankutil), never a
    single-partition window over the corpus-scale shingle vocabulary.
    """
    from data_engineering_project_spotify_app_spark.operators.rankutil import (
        two_phase_global_rank,
    )

    sets = (
        _bigram_grams(spark, sf_dir)
        .select("doc_id", "bg")
        .filter(F.size("bg") > 0)
    )
    sh = sets.select("doc_id", F.explode("bg").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    ranked = two_phase_global_rank(
        dfreq, [F.col("df").asc(), F.col("sh").asc()], 32
    ).select("sh", F.col("rn").cast("bigint").alias("srank"))
    nbits = 64 * JP_SIG_WORDS
    with_bit = sh.join(ranked, "sh").withColumn(
        "_h", F.pmod(F.xxhash64("srank"), F.lit(nbits)).cast("int")
    )
    sig_words = [
        F.bit_or(
            F.when(
                (F.col("_h") >= 64 * w) & (F.col("_h") < 64 * (w + 1)),
                F.expr(f"shiftleft(cast(1 as bigint), _h - {64 * w})"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias(f"b{w}")
        for w in range(JP_SIG_WORDS)
    ]
    return (
        with_bit.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("srank")).alias("ranks"), *sig_words)
        .withColumn("n", F.size("ranks"))
        .withColumn(
            "p",
            F.col("n")
            - F.floor((JP_T_NUM * F.col("n") + (JP_T_DEN - 1)) / JP_T_DEN)
            + 1,
        )
    )


@query(
    "q_jaccard_prefix_join",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, {{bigrams}} AS bg FROM documents
    ),
    s AS (SELECT doc_id, unnest(bg) AS sh FROM t0 WHERE len(bg) > 0),
    ca AS (SELECT doc_id, len(bg) AS n FROM t0 WHERE len(bg) > 0),
    i AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(ni * 1.0 / (x.n + y.n - ni), 4) AS jaccard
    FROM i
    JOIN ca x ON x.doc_id = i.doc_a
    JOIN ca y ON y.doc_id = i.doc_b
    WHERE ni * {JP_T_DEN} >= (x.n + y.n - ni) * {JP_T_NUM}
    """.replace("{bigrams}", BIGRAMS_SQL.format(tok=TOKENS_SQL.format(col="text"))),
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (Bayardo et al.
    "Scaling Up All Pairs Similarity Search" / PPJoin) — the optimized
    exact algorithm next to the approximate LSH rungs: two bigram sets
    with Jaccard ≥ 0.6 MUST share a shingle among each one's p =
    n − ⌈t·n⌉ + 1 globally-RAREST shingles (if the intersection avoided
    A's prefix it would fit inside A's ⌈t·n⌉−1 most-common tail —
    smaller than t·n ≤ |A∩B|). So candidates form only in rare-shingle
    buckets — the frequent shingles that make the naive shingle
    self-join explode never generate a pair.

    All threshold math is INTEGER (t = 3/5): the prefix length uses
    ⌈3n/5⌉ = (3n+4) div 5 and the final filter cross-multiplies — no
    float boundary can shorten a prefix or flip the ≥ t comparison,
    and the brute-force oracle (every shared-shingle pair, exact
    Jaccard) proves the pruning loses nothing.

    Scale: the global rarity ranking is the two-phase range-partition
    rank (rankutil — the shingle vocabulary is corpus-scale, never a
    single-partition window); candidates form only where two prefixes
    share a shingle (bounded small by rarity). Candidate generation is
    IDS-ONLY and fully codegen'd: a slim (srank, doc_id, n, sig) PREFIX
    self-join on the rare-shingle rank, with doc_a < doc_b, the PPJoin
    length filter (min·den ≥ max·num — Jaccard ≥ t bounds the size
    ratio) and the exact SET-SIGNATURE prune (popcount of the XOR of
    the per-doc bitmap signatures lower-bounds |A△B|; see JP_SIG_WORDS)
    evaluated inside the join, then a two-column distinct; only the
    SURVIVING pairs join the per-doc rank arrays back for the exact
    intersect verify. Two earlier forms were measured and
    replaced: shipping full rank arrays into collect_list buckets
    (37.8 s at sf0.1) and an interpreted array-HOF pair explode over
    ids-only buckets (~21 s — the O(bucket²) transform/slice ran in
    expression-interpreted mode and the pair dedup shuffled 4-column
    structs); the self-join emits the same pairs inside WholeStageCodegen
    and halves it to ~10-12 s. Skipping the distinct entirely was also
    measured and rejected (~100 s: the verify side grows past AQE's
    broadcast threshold AND array_intersect runs per duplicate). The
    corpus is adversarial for prefix filtering — 931 distinct bigrams
    over 5000 docs, so even "rare" shingles have df≈275 and the
    candidate set is ~1/3 of all pairs; DuckDB's naive oracle takes
    59 s on the same input at 32 threads. The approximate rungs
    (q_minhash_lsh / capped) remain the production path for corpora
    this repetitive.
    """
    # localCheckpoint, not persist(): per_doc feeds the prefix explode
    # and the two survivor join-backs, so the cut stops the rank-join
    # lineage re-running — and unlike a persist, the blocks are owned
    # by the RDD and freed with it instead of accumulating across
    # registry/bench invocations in one session (ADVICE r9). The
    # checkpoint boundary hides the upstream plan, so the two-phase
    # rank shape is pinned on _jp_per_doc directly (tests/test_plans.py).
    per_doc = _jp_per_doc(spark, sf_dir).localCheckpoint(eager=False)
    # the prefix table feeds BOTH sides of the self-join: checkpoint so
    # the explode runs once, not once per side
    pref = per_doc.select(
        "doc_id",
        "n",
        *[f"b{w}" for w in range(JP_SIG_WORDS)],
        F.explode(F.slice("ranks", 1, F.col("p").cast("int"))).alias(
            "srank"
        ),
    ).localCheckpoint(eager=False)
    # distinct column names per side: a bare self-join on `srank` would
    # lean on the analyzer's self-join disambiguation (and warns
    # "trivially true equals predicate"); renamed columns make the
    # equi-key unambiguous by construction
    a = pref.select(
        F.col("srank").alias("srank_a"),
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        *[F.col(f"b{w}").alias(f"b{w}_a") for w in range(JP_SIG_WORDS)],
    )
    b = pref.select(
        F.col("srank").alias("srank_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        *[F.col(f"b{w}").alias(f"b{w}_b") for w in range(JP_SIG_WORDS)],
    )
    # Signature prune (r15): popcount(sig_a XOR sig_b) lower-bounds
    # |A△B| exactly (see JP_SIG_WORDS), and J ≥ num/den ⟺
    # den·ni ≥ num·(ni + |A△B|) ⟹ (den−num)·min(na,nb) ≥ num·|A△B|
    # (ni ≤ min). Evaluating it INSIDE the join keeps pruned pairs from
    # ever being emitted — codegen'd long XOR + popcount per probe.
    # Measured at sf0.1: emitted rows 8.46 M → 444 K, surviving
    # candidates 4.1 M → 132 K, output pairs identical (256).
    sym_lb = sum(
        F.bit_count(F.col(f"b{w}_a").bitwiseXOR(F.col(f"b{w}_b")))
        for w in range(JP_SIG_WORDS)
    )
    cand_ids = (
        a.join(
            b,
            (F.col("srank_a") == F.col("srank_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # PPJoin length filter, inside the join so pruned pairs are
            # never emitted. (The PPJoin POSITIONAL filter was measured
            # and rejected on this corpus: it pruned 1.8% of candidates
            # while widening the join payload — prefix positions cannot
            # discriminate when the shingle vocabulary is 3 orders of
            # magnitude smaller than the corpus.)
            & (
                F.least("na", "nb") * JP_T_DEN
                >= F.greatest("na", "nb") * JP_T_NUM
            )
            & (
                F.least("na", "nb") * (JP_T_DEN - JP_T_NUM)
                >= sym_lb * JP_T_NUM
            ),
        )
        # ids-only distinct: 2 longs per row through the dedup shuffle
        # (n_a/n_b ride back in on the verify joins below for free).
        # With the signature prune the dedup input is ~444 K rows →
        # ~132 K groups at sf0.1 — no longer hash-insert-bound, so the
        # r14 explicit repartition(2×cores) was removed (measured; AQE
        # sizes the now-small exchange fine).
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify: the array fetches are un-hinted — per_doc is corpus-sized
    # (AQE broadcasts it at small SF; at 100 TB these are ordinary
    # doc_id-keyed equi-joins against a frame the candidate set usually
    # dwarfs)
    ra = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("ranks").alias("ranks_a"),
    )
    rb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("ranks").alias("ranks_b"),
    )
    cand = cand_ids.join(ra, "doc_a").join(rb, "doc_b")
    ni = F.size(F.array_intersect("ranks_a", "ranks_b"))
    union = F.col("n_a") + F.col("n_b") - ni
    return (
        cand.withColumn("ni", ni)
        .filter(F.col("ni") * JP_T_DEN >= union * JP_T_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("ni") / (F.col("n_a") + F.col("n_b") - F.col("ni")), 4)
            .alias("jaccard"),
        )
    )


# Containment threshold as an exact fraction (4/5) — same integer
# discipline as the prefix join.
CONT_T_NUM, CONT_T_DEN = 4, 5


@query(
    "q_containment_join",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, source, {_BIGRAMS} AS bg FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source, unnest(bg) AS shingle FROM grams
    ),
    cnt AS (
      SELECT doc_id, CAST(len(bg) AS BIGINT) AS n FROM grams
    ),
    kept AS (
      SELECT lang, source, shingle FROM sh
      GROUP BY 1, 2, 3
      HAVING count(*) <= greatest({CAP_FLOOR},
                                  (SELECT count(*) FROM documents)
                                    // {CAP_DIVISOR})
    ),
    shf AS (
      SELECT sh.* FROM sh JOIN kept USING (lang, source, shingle)
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM shf a
      JOIN shf b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.ni * 1.0 / least(ca.n, cb.n), 4) AS containment,
           round(i.ni * 1.0 / (ca.n + cb.n - i.ni), 4) AS jaccard
    FROM inter i
    JOIN cnt ca ON ca.doc_id = i.doc_a
    JOIN cnt cb ON cb.doc_id = i.doc_b
    WHERE i.ni * {CONT_T_DEN} >= least(ca.n, cb.n) * {CONT_T_NUM}
    """,
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) join: pairs where the SMALLER
    bigram set is ≥ 80% inside the larger — the excerpt/quote detector
    Jaccard structurally misses: a paragraph fully copied into a
    10×-longer document has containment 1.0 but Jaccard ≈ 0.1, under
    every symmetric threshold. Emitted with the Jaccard alongside so
    downstream policy can separate true near-dups (both high) from
    asymmetric inclusions (containment high, Jaccard low).

    Same shard-keyed bucket-collect candidate generation as the ngram
    family (pairs only form inside (lang, source) — at scale the
    shard/domain key), with the max(16, n_docs/200) stop-shingle cap
    applied in-plan on BOTH engines (the production skew guard — an
    ultra-common shingle's C(df, 2) explosion is the one serialized
    task at 100 TB); integer cross-multiplied threshold.
    """
    grams = _bigram_grams(spark, sf_dir)
    sh = grams.select(
        "doc_id",
        "lang",
        "source",
        F.size("bg").cast("bigint").alias("n"),
        F.explode("bg").alias("shingle"),
    )
    cap = grams.agg(_auto_cap(F.count("*")).alias("df_cap"))  # 1 row/doc
    buckets = (
        sh.groupBy("lang", "source", "shingle")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    pairs = _cap_buckets(buckets, "ds", cap).select(
        F.explode(sorted_pairs("ds", "a", "b")).alias("pr")
    ).select(
        F.col("pr.a.doc_id").alias("doc_a"),
        F.col("pr.a.n").alias("n_a"),
        F.col("pr.b.doc_id").alias("doc_b"),
        F.col("pr.b.n").alias("n_b"),
    )
    agg = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count("*").alias("ni")
    )
    m = F.least("n_a", "n_b")
    return agg.filter(F.col("ni") * CONT_T_DEN >= m * CONT_T_NUM).select(
        "doc_a",
        "doc_b",
        F.round(F.col("ni") / m, 4).alias("containment"),
        F.round(
            F.col("ni") / (F.col("n_a") + F.col("n_b") - F.col("ni")), 4
        ).alias("jaccard"),
    )


# Calibration truth threshold — deliberately BELOW the banding S-curve's
# sweet spot so recall is informative: at J=0.1 a 4-band/4-row scheme
# catches P = 1-(1-J^4)^4 ~ 4e-4 of pairs, so truth >> hits and the
# report shows exactly what the banding config misses.
LSH_CAL_TAU = 0.1

_LSH_CAL_ORACLE = f"""
    WITH {MINHASH_CTES},
    cand AS ({MINHASH_PAIRS_SQL}),
    cnt AS (
      SELECT doc_id, CAST(len(bg) AS BIGINT) AS n FROM grams
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN cnt ca ON ca.doc_id = i.doc_a
      JOIN cnt cb ON cb.doc_id = i.doc_b
      WHERE i.n_common / (ca.n + cb.n - i.n_common) >= {LSH_CAL_TAU}
    ),
    lab AS (
      SELECT (c.doc_a IS NOT NULL) AS is_c, (t.doc_a IS NOT NULL) AS is_t
      FROM cand c
      FULL JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST(sum(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(CASE WHEN sum(CASE WHEN is_c THEN 1 ELSE 0 END) = 0
                      THEN 0.0
                      ELSE sum(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END)
                           / sum(CASE WHEN is_c THEN 1 ELSE 0 END) END, 4)
             AS precision,
           round(CASE WHEN sum(CASE WHEN is_t THEN 1 ELSE 0 END) = 0
                      THEN 0.0
                      ELSE sum(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END)
                           / sum(CASE WHEN is_t THEN 1 ELSE 0 END) END, 4)
             AS recall
    FROM lab
    """


@query("q_lsh_calibration", oracle=_LSH_CAL_ORACLE)
def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrate the MinHash-LSH banding config BEFORE the 100 TB run:
    precision/recall of the band-bucket candidate pairs against exact
    bigram-set Jaccard >= tau ground truth, on a sample. The one-row
    report answers the question every banding parameter change raises —
    "what fraction of true near-dup pairs does 4x4 banding still catch
    at this threshold, and how much pair-verification work is wasted?"
    — with data instead of the S-curve formula.

    Both sides reuse the production operators unchanged: candidates are
    minhash_candidate_pairs (the q_minhash_lsh plan), truth is the
    unblocked exact shingle-join Jaccard (the q_jaccard_prefix_join
    semantics without the prefix cut — calibration runs on a SAMPLE, so
    the O(pairs-sharing-a-shingle) truth join is affordable; at full
    scale you'd calibrate on a stratified sample, same plan).

    Scale: one FULL OUTER join of two pair sets keyed on (doc_a, doc_b)
    followed by a global 1-row aggregate — no per-pair state survives.
    All counts are integers; precision/recall are single exact
    divisions rounded to 4dp.
    """
    cand = minhash_candidate_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("is_c")
    )

    grams = _bigram_grams(spark, sf_dir).select("doc_id", "bg")
    sh = grams.select(
        "doc_id",
        F.size("bg").cast("bigint").alias("n"),
        F.explode("bg").alias("shingle"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        "shingle",
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("shingle").alias("shingle_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("shingle") == F.col("shingle_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    truth = inter.filter(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        >= LSH_CAL_TAU
    ).select("doc_a", "doc_b", F.lit(True).alias("is_t"))

    lab = cand.join(truth, ["doc_a", "doc_b"], "full")
    n_c = F.sum(F.when(F.col("is_c"), 1).otherwise(0))
    n_t = F.sum(F.when(F.col("is_t"), 1).otherwise(0))
    n_h = F.sum(F.when(F.col("is_c") & F.col("is_t"), 1).otherwise(0))
    return lab.agg(
        n_c.cast("bigint").alias("n_candidates"),
        n_t.cast("bigint").alias("n_truth"),
        n_h.cast("bigint").alias("n_hits"),
        F.round(
            F.when(n_c == 0, F.lit(0.0)).otherwise(n_h / n_c), 4
        ).alias("precision"),
        F.round(
            F.when(n_t == 0, F.lit(0.0)).otherwise(n_h / n_t), 4
        ).alias("recall"),
    )


_AGREEMENT_ORACLE = f"""
    WITH {MINHASH_CTES},
    mh AS ({MINHASH_PAIRS_SQL}),
    {SIMHASH_CTES},
    {SIMHASH_PAIRS_CTES},
    sh_pairs AS (
      SELECT doc_a, doc_b FROM scored WHERE hamming <= {HAMMING_MAX}
    ),
    lab AS (
      SELECT (m.doc_a IS NOT NULL) AS in_mh, (s.doc_a IS NOT NULL) AS in_sh
      FROM mh m
      FULL JOIN sh_pairs s ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_minhash,
           CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_simhash,
           CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both,
           round(CASE WHEN count(*) = 0 THEN 0.0
                      ELSE sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)
                           * 1.0 / count(*) END, 4) AS agreement
    FROM lab
    """


@query("q_dedup_method_agreement", oracle=_AGREEMENT_ORACLE)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup QA: Venn counts of the MinHash-LSH candidate
    pairs against the SimHash Hamming-verified pairs, plus their
    Jaccard agreement (|both| / |either|). The two fingerprint families
    key on different signals (set resemblance vs weighted-feature
    cosine), so high agreement means the near-dup set is robust to
    detector choice; low agreement means the corpus sits near one
    family's blind spot and the pair budget for manual thresholds
    should widen before a destructive dedup run.

    Composes the registered pair generators unchanged; the report is a
    FULL OUTER join of two pair frames on the pair key and a 1-row
    aggregate — same shape as q_lsh_calibration.
    """
    mh = minhash_candidate_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_mh")
    )
    sh_pairs = q_simhash_hamming(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("in_sh")
    )
    lab = mh.join(sh_pairs, ["doc_a", "doc_b"], "full")
    n_mh = F.sum(F.when(F.col("in_mh"), 1).otherwise(0))
    n_sh = F.sum(F.when(F.col("in_sh"), 1).otherwise(0))
    n_both = F.sum(F.when(F.col("in_mh") & F.col("in_sh"), 1).otherwise(0))
    n_all = F.count("*")
    return lab.agg(
        n_mh.cast("bigint").alias("n_minhash"),
        n_sh.cast("bigint").alias("n_simhash"),
        n_both.cast("bigint").alias("n_both"),
        F.round(
            F.when(n_all == 0, F.lit(0.0)).otherwise(n_both / n_all), 4
        ).alias("agreement"),
    )


WJACCARD_THRESHOLD = 0.05


@query(
    "q_weighted_jaccard",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, source, {_BIGRAMS} AS bg
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source, unnest(bg) AS shingle FROM grams
    ),
    nn AS (SELECT count(*) AS n FROM documents),
    w AS (
      SELECT lang, source, shingle,
             ln((SELECT n FROM nn) * 1.0 / count(*)) AS w
      FROM sh GROUP BY 1, 2, 3
    ),
    docw AS (
      SELECT s.doc_id, sum(w.w) AS dw
      FROM sh s JOIN w ON w.lang = s.lang AND w.source = s.source
                      AND w.shingle = s.shingle
      GROUP BY 1
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(w.w) AS wcommon
      FROM sh a
      JOIN sh b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN w ON w.lang = a.lang AND w.source = a.source
            AND w.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.wcommon / (wa.dw + wb.dw - i.wcommon), 4) AS wjaccard
    FROM inter i
    JOIN docw wa ON wa.doc_id = i.doc_a
    JOIN docw wb ON wb.doc_id = i.doc_b
    WHERE i.wcommon / (wa.dw + wb.dw - i.wcommon) >= {WJACCARD_THRESHOLD}
    """,
)
def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs: boilerplate shingles that
    appear everywhere contribute ~ln(1)=0, rare content-bearing
    shingles dominate — the standard fix for plain Jaccard's blindness
    to WHICH shingles overlap (two docs sharing only stock phrases
    stop looking like near-dups; two docs sharing a rare passage light
    up). w(s) = ln(N/df(s)); sim = Σ_{{A∩B}} w / Σ_{{A∪B}} w.

    Same single-shuffle bucket-collect as ngram_jaccard_pairs — and
    the df the weight needs IS the bucket size, so weighting is free:
    each shingle bucket carries its own ln(N/df), pair rows sum w
    instead of counting, per-doc total weights fold from the same
    buckets (one extra explode over bucket doc-lists, no second
    tokenize pass). |A∪B| folds as dwa + dwb − wcommon.
    """
    return weighted_jaccard_pairs(grams=_bigram_grams(spark, sf_dir))


def weighted_jaccard_pairs(
    docs: DataFrame | None = None,
    df_cap: int | str | None = None,
    grams: DataFrame | None = None,
) -> DataFrame:
    """IDF-weighted Jaccard pairs over a (doc_id, lang, source, text)
    frame; see q_weighted_jaccard. ``df_cap`` is the production skew
    guard — buckets (shingles) above the doc-frequency cap are excluded
    from PAIR GENERATION only: weights and per-doc totals still come
    from the full bucket set, so emitted sims stay exact; pairs that
    share ONLY ultra-common shingles are the (deliberate) recall cost,
    and those are precisely the pairs IDF weighting already scores ≈ 0.
    """
    if grams is None:
        if docs is None:
            raise ValueError("weighted_jaccard_pairs needs docs or grams")
        toks = docs.select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("tok")
        )
        grams = toks.select(
            "doc_id", "lang", "source",
            word_bigrams(F.col("tok")).alias("bg"),
        )
    sh = grams.select(
        "doc_id", "lang", "source", F.explode("bg").alias("shingle")
    )
    n_docs = grams.agg(F.count("*").alias("n"))  # one row per doc
    buckets = (
        sh.groupBy("lang", "source", "shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .crossJoin(F.broadcast(n_docs))
        .select("ds", F.log(F.col("n") / F.size("ds")).alias("w"))
        # consumed by the per-doc weight fold AND pair generation —
        # checkpoint so the bucket-collect shuffle (the one data-sized
        # stage here) runs once (r14 plan audit: 18 Exchanges/12 scans
        # without it; guide §2.4)
        .localCheckpoint(eager=False)
    )
    docw = (
        buckets.select(F.explode("ds").alias("doc_id"), "w")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("dw"))
        # doc-sized; feeds BOTH join orientations (dwa, dwb)
        .localCheckpoint(eager=False)
    )
    pair = F.explode(sorted_pairs("ds", "doc_a", "doc_b")).alias("pr")
    pair_buckets = buckets.filter(F.size("ds") > 1)
    if df_cap == "auto":
        cap = grams.agg(_auto_cap(F.count("*")).alias("df_cap"))
        pair_buckets = _cap_buckets(pair_buckets, "ds", cap)
    elif df_cap is not None:
        pair_buckets = pair_buckets.filter(F.size("ds") <= df_cap)
    inter = (
        pair_buckets
        .select(pair, "w")
        .select("pr.doc_a", "pr.doc_b", "w")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("wcommon"))
    )
    wa = docw.select(F.col("doc_id").alias("doc_a"), F.col("dw").alias("dwa"))
    wb = docw.select(F.col("doc_id").alias("doc_b"), F.col("dw").alias("dwb"))
    sim = F.col("wcommon") / (F.col("dwa") + F.col("dwb") - F.col("wcommon"))
    return (
        inter.join(wa, "doc_a")
        .join(wb, "doc_b")
        .filter(sim >= WJACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(sim, 4).alias("wjaccard"))
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): positional char k-gram hashes, min per sliding window of w,
# distinct mins = the document's fingerprint set. Guarantees every shared
# substring of length >= k + w - 1 yields at least one shared fingerprint,
# at a (2/(w+1)) expected selection density — LOCAL overlap detection the
# set-based shingle ladder above cannot give (it loses positions).
# ---------------------------------------------------------------------------

WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (guarantee length = k + w - 1 = 11)
WINNOW_DF_CAP = 20  # stop-fingerprint cull (same role as the shingle df cap)
WINNOW_MIN_SHARED = 5  # report pairs sharing at least this many fingerprints
WINNOW_TOP = 100

# hex→int runs on a NAMED digest variable (one extra transform level)
# so md5 is computed once per gram; inlining md5(g) into _hex2int_sql
# would re-hash each gram 8× — once per hex-digit term — in BOTH
# engines' hot HOF pipeline (ADVICE r10 item 4; the minhash path hashes
# once into a column for the same reason).
_WINNOW_HASH = _hex2int_sql("d", 1)

# identical lambda pipeline in both engines; only the list-function
# surface differs (transform/array_min/slice vs list_transform/list_min/
# bracket slicing — DuckDB slices are 1-based INCLUSIVE on both ends,
# hence j:j+w-1 against Spark's slice(hs, j, w))
_WINNOW_FPS_SPARK = (
    f"array_distinct(transform(sequence(1, size(hs) - {WINNOW_W - 1}),"
    f" j -> array_min(slice(hs, j, {WINNOW_W}))))"
)
_WINNOW_HS_SPARK = (
    f"transform(transform(transform(sequence(1, length(t) - {WINNOW_K - 1}),"
    f" i -> substring(t, i, {WINNOW_K})), g -> md5(g)), d -> {_WINNOW_HASH})"
)
_WINNOW_FPS_DUCK = (
    f"list_distinct(list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),"
    f" j -> list_min(hs[j:j + {WINNOW_W - 1}])))"
)
_WINNOW_HS_DUCK = (
    f"list_transform(list_transform(list_transform(generate_series(1, length(t) - {WINNOW_K - 1}),"
    f" i -> substr(t, i, {WINNOW_K})), g -> md5(g)), d -> {_WINNOW_HASH})"
)

_WINNOW_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
    ),
    hs AS (SELECT doc_id, {_WINNOW_HS_DUCK} AS hs FROM t),
    fp AS (
      SELECT doc_id, unnest({_WINNOW_FPS_DUCK}) AS fp FROM hs
    ),
    df AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
    keep AS (
      SELECT f.doc_id, f.fp FROM fp f JOIN df USING (fp)
      WHERE df.df <= {WINNOW_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT {WINNOW_TOP}
    """


@query("q_winnowing_pairs", oracle=_WINNOW_ORACLE)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) overlap detection: top-{WINNOW_TOP} document
    pairs by shared winnowing fingerprints. Any shared substring of
    {WINNOW_K + WINNOW_W - 1}+ chars is guaranteed to produce a shared
    fingerprint, so this surfaces documents with long verbatim COMMON
    PASSAGES (boilerplate, quotes, partial copies) that whole-document
    shingle-set similarity dilutes away.

    Plan shape: grams → hashes → window-mins run entirely inside array
    HOFs in ONE projection over the document scan (no explode until the
    per-doc fingerprint set is already selected and deduped — the
    selection keeps ~2/(w+1) of positions, so the exploded frame is a
    fraction of the raw gram count). Pair generation is the bucket-join
    on the fingerprint key with the standard stop-fingerprint df cap
    ({WINNOW_DF_CAP}) bounding any bucket's C(df,2) contribution —
    identical skew posture to the shingle ladder's df_cap
    (q_dedup_ngram_jaccard_capped). Hashes are md5-derived through the
    shared _hex2int_sql idiom, so both engines select the SAME
    fingerprints.

    Reads the fp-bucketed fingerprint landing (_winnow_fingerprints):
    the HOF fingerprint pipeline is paid once per corpus, and the
    df-cull aggregate + the pair self-join both key on fp, so the
    bucketed scan feeds them without an Exchange."""
    return winnowing_pairs_from_fps(_winnow_fingerprints(spark, sf_dir))


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprints (doc_id, fp) as a shared bucketed
    landing — bucketed by fp because every consumer stage keys on it
    (df cull, pair join); the streaming maintainer
    (streaming/winnow_stream.py) publishes the same shape and seeds it
    over this prefix. Same derive-once contract as
    _minhash_signatures."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "winnow_fingerprints",
        "fp",
        lambda: winnow_fingerprints_df(
            table_parallel(spark, sf_dir, "documents")
        ),
    )


def winnow_fingerprints_df(docs: DataFrame) -> DataFrame:
    """Per-doc winnowing fingerprints (doc_id, fp) over any
    (doc_id, text) frame — the shared head of the batch pair report and
    the streaming maintainer (streaming/winnow_stream.py). Fingerprints
    are per-doc pure functions of the text, so per-epoch fingerprint
    deltas merge by plain union."""
    t = docs.filter(
        F.length("text") >= WINNOW_K + WINNOW_W - 1
    ).select("doc_id", F.lower(F.col("text")).alias("t"))
    return t.select("doc_id", F.expr(_WINNOW_HS_SPARK).alias("hs")).select(
        "doc_id", F.explode(F.expr(_WINNOW_FPS_SPARK)).alias("fp")
    )


def winnowing_pairs_df(docs: DataFrame) -> DataFrame:
    """q_winnowing_pairs over any (doc_id, text) frame — the frame-
    parametrized form scripts/scale_probe.py grows M×."""
    # fp feeds the df cull AND the pair join — stage it once (the
    # registered query reads the at-rest landing instead, where the
    # table scan is the shared materialization)
    fp = winnow_fingerprints_df(docs).localCheckpoint(eager=False)
    return winnowing_pairs_from_fps(fp)


def winnowing_pairs_from_fps(
    fp: DataFrame,
    df_cap: int = WINNOW_DF_CAP,
    min_shared: int = WINNOW_MIN_SHARED,
    top: int | None = WINNOW_TOP,
) -> DataFrame:
    """The pair report over any (doc_id, fp) fingerprint frame — shared
    by the docs-parametrized form above, the landed/published
    fingerprint table consumers, and the word-gram granularity below.
    ``top=None`` skips the ordered limit and returns the FULL pair set
    at the (df_cap, min_shared) operating point — what the agreement
    report compares (a top-k head would make set overlap arbitrary)."""
    df = fp.groupBy("fp").agg(F.count("*").alias("df"))
    keep = fp.join(
        df.filter(F.col("df") <= df_cap).select("fp"), "fp"
    )
    a = keep.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = keep.select(
        F.col("fp").alias("fp_b"), F.col("doc_id").alias("doc_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("fp") == F.col("fp_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if top is None:
        return pairs
    return pairs.orderBy(
        F.col("n_shared").desc(), "doc_a", "doc_b"
    ).limit(top)


# ---------------------------------------------------------------------------
# Word-gram winnowing (VERDICT r10 item 8's second granularity): the same
# MOSS selection over word 4-grams instead of char 8-grams. Char grams
# catch verbatim byte-level overlap; word grams are whitespace/punctuation
# robust and the guarantee is phrased in WORDS — any shared run of
# k + w - 1 = 7 words yields a shared fingerprint.
# ---------------------------------------------------------------------------

WINNOW_WORD_K = 4  # word k-gram width
WINNOW_WORD_W = 4  # same window as the char form (reuses _WINNOW_FPS_*)
WINNOW_WORD_DF_CAP = 20
WINNOW_WORD_MIN_SHARED = 3
WINNOW_WORD_TOP = 100

_TOK_LOWER = TOKENS_SQL.format(col="lower(text)")

_WINNOW_WORD_HS_SPARK = (
    f"transform(transform(transform(sequence(1, size(tk) - {WINNOW_WORD_K - 1}),"
    f" i -> concat_ws(' ', slice(tk, i, {WINNOW_WORD_K}))),"
    f" g -> md5(g)), d -> {_WINNOW_HASH})"
)
_WINNOW_WORD_HS_DUCK = (
    f"list_transform(list_transform(list_transform("
    f"generate_series(1, len(tk) - {WINNOW_WORD_K - 1}),"
    f" i -> array_to_string(tk[i:i + {WINNOW_WORD_K - 1}], ' ')),"
    f" g -> md5(g)), d -> {_WINNOW_HASH})"
)

_WINNOW_WORD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOK_LOWER} AS tk FROM documents
      WHERE len({_TOK_LOWER}) >= {WINNOW_WORD_K + WINNOW_WORD_W - 1}
    ),
    hs AS (SELECT doc_id, {_WINNOW_WORD_HS_DUCK} AS hs FROM t),
    fp AS (
      SELECT doc_id, unnest({_WINNOW_FPS_DUCK}) AS fp FROM hs
    ),
    df AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
    keep AS (
      SELECT f.doc_id, f.fp FROM fp f JOIN df USING (fp)
      WHERE df.df <= {WINNOW_WORD_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= {WINNOW_WORD_MIN_SHARED}
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT {WINNOW_WORD_TOP}
    """


@query("q_winnowing_pairs_word", oracle=_WINNOW_WORD_ORACLE)
def q_winnowing_pairs_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-gram winnowing overlap: top-{WINNOW_WORD_TOP} document pairs
    by shared word-4-gram winnowing fingerprints — any shared run of
    {WINNOW_WORD_K + WINNOW_WORD_W - 1}+ words is guaranteed a shared
    fingerprint. The word granularity is whitespace/punctuation robust
    where the char form (q_winnowing_pairs) is byte-exact; running both
    and diffing the pair sets separates template boilerplate (char-only)
    from paraphrase-resistant phrase reuse.

    Plan shape: identical to the char form — grams → md5-once hashes →
    window mins, all in array HOFs inside ONE projection over the scan
    (tk is a materialized column so the tokenizer runs once per doc, the
    ProjectCollapsing discipline of functions/text.py); explode only the
    selected ~2/(w+1) fingerprint minima; df-capped pair join; ordered
    limit as TakeOrderedAndProject.

    Reads the fp-bucketed word-fingerprint landing
    (_winnow_word_fingerprints, VERDICT r11 item 8): like the char
    form, the HOF fingerprint pipeline is paid once per corpus and the
    df-cull + pair self-join both key on fp off the bucketed scan."""
    return winnowing_pairs_from_fps(
        _winnow_word_fingerprints(spark, sf_dir),
        df_cap=WINNOW_WORD_DF_CAP,
        min_shared=WINNOW_WORD_MIN_SHARED,
        top=WINNOW_WORD_TOP,
    )


def _winnow_word_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc WORD-gram winnowing fingerprints (doc_id, fp) as a
    shared fp-bucketed landing — the word twin of _winnow_fingerprints
    (same derive-once contract, same bucket key: every consumer stage
    keys on fp). The streaming maintainer publishes the same shape
    under landing_prefix='winnow_word_fingerprints' and seeds it over
    this prefix."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "winnow_word_fingerprints",
        "fp",
        lambda: winnow_word_fingerprints_df(
            table_parallel(spark, sf_dir, "documents")
        ),
    )


def _both_winnow_landings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The (char, word) fingerprint landings, built CONCURRENTLY on a
    cold first touch (VERDICT r12 item 6): the granularity-agreement
    report needs both, and building them serially inside one query made
    its cold first touch ~4× its warm cost (6.1 s vs ~1.5 at sf0.1).
    The two builds are independent single-writer jobs on DIFFERENT
    table names, and Spark's scheduler interleaves jobs submitted from
    separate driver threads, so the two HOF fingerprint pipelines
    overlap instead of queueing. Warm path (both landed): the memo fast
    path returns instantly and the thread pool is just two no-op
    submissions."""
    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(max_workers=2) as ex:
        ch = ex.submit(_winnow_fingerprints, spark, sf_dir)
        wd = ex.submit(_winnow_word_fingerprints, spark, sf_dir)
        return ch.result(), wd.result()


def winnow_word_fingerprints_df(docs: DataFrame) -> DataFrame:
    """Per-doc WORD-gram winnowing fingerprints (doc_id, fp) over any
    (doc_id, text) frame — the word twin of winnow_fingerprints_df;
    per-doc pure function of the text, so it rides the same streaming
    maintainer (StreamingWinnowSink's fingerprints_fn)."""
    t = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
    ).filter(F.size("tk") >= WINNOW_WORD_K + WINNOW_WORD_W - 1)
    return t.select(
        "doc_id", F.expr(_WINNOW_WORD_HS_SPARK).alias("hs")
    ).select("doc_id", F.explode(F.expr(_WINNOW_FPS_SPARK)).alias("fp"))


def winnowing_word_pairs_df(docs: DataFrame) -> DataFrame:
    """q_winnowing_pairs_word over any (doc_id, text) frame — the
    frame-parametrized form scripts/scale_probe.py grows M×."""
    # fp feeds the df cull AND the pair join — stage it once
    fp = winnow_word_fingerprints_df(docs).localCheckpoint(eager=False)
    return winnowing_pairs_from_fps(
        fp,
        df_cap=WINNOW_WORD_DF_CAP,
        min_shared=WINNOW_WORD_MIN_SHARED,
        top=WINNOW_WORD_TOP,
    )


def _winnow_pairs_cte(suffix: str, hs_expr: str, src_expr: str,
                      min_len_expr: str, df_cap: int, min_shared: int) -> str:
    """One granularity's full DuckDB pair pipeline as a named CTE chain
    (suffix-disambiguated so two granularities compose in one WITH)."""
    return f"""
    t{suffix} AS (
      SELECT doc_id, {src_expr} FROM documents
      WHERE {min_len_expr}
    ),
    hs{suffix} AS (SELECT doc_id, {hs_expr} AS hs FROM t{suffix}),
    fpx{suffix} AS (
      SELECT doc_id, unnest({_WINNOW_FPS_DUCK}) AS fp FROM hs{suffix}
    ),
    dfx{suffix} AS (SELECT fp, count(*) AS df FROM fpx{suffix} GROUP BY 1),
    keep{suffix} AS (
      SELECT f.doc_id, f.fp FROM fpx{suffix} f JOIN dfx{suffix} USING (fp)
      WHERE dfx{suffix}.df <= {df_cap}
    ),
    p{suffix} AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keep{suffix} a
      JOIN keep{suffix} b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {min_shared}
    )"""


_GRANULARITY_AGREE_ORACLE = f"""
    WITH {_winnow_pairs_cte(
        "c",
        _WINNOW_HS_DUCK,
        "lower(text) AS t",
        f"length(text) >= {WINNOW_K + WINNOW_W - 1}",
        WINNOW_DF_CAP,
        WINNOW_MIN_SHARED,
    )},
    {_winnow_pairs_cte(
        "w",
        _WINNOW_WORD_HS_DUCK,
        f"{_TOK_LOWER} AS tk",
        f"len({_TOK_LOWER}) >= {WINNOW_WORD_K + WINNOW_WORD_W - 1}",
        WINNOW_WORD_DF_CAP,
        WINNOW_WORD_MIN_SHARED,
    )},
    lab AS (
      SELECT coalesce(pc.doc_a, pw.doc_a) AS doc_a,
             (pc.doc_a IS NOT NULL) AS in_char,
             (pw.doc_a IS NOT NULL) AS in_word
      FROM pc FULL OUTER JOIN pw
        ON pc.doc_a = pw.doc_a AND pc.doc_b = pw.doc_b
    )
    SELECT
      CAST(sum(CASE WHEN in_char THEN 1 ELSE 0 END) AS BIGINT) AS n_char,
      CAST(sum(CASE WHEN in_word THEN 1 ELSE 0 END) AS BIGINT) AS n_word,
      CAST(sum(CASE WHEN in_char AND in_word THEN 1 ELSE 0 END) AS BIGINT)
        AS n_both,
      round(CASE WHEN count(*) = 0 THEN 0.0
                 ELSE sum(CASE WHEN in_char AND in_word THEN 1 ELSE 0 END)
                      * 1.0 / count(*) END, 4) AS agreement
    FROM lab
    """


@query("q_winnow_granularity_agreement", oracle=_GRANULARITY_AGREE_ORACLE)
def q_winnow_granularity_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Char-vs-word winnowing QA: Venn counts of the char-8-gram pair
    set against the word-4-gram pair set (each at its own df-cap /
    min-shared operating point, NO top-k head) plus their Jaccard
    agreement — the diff the word granularity's docstring promises.
    Char-only pairs are byte-level template overlap that tokenization
    splits apart; word-only pairs are phrase reuse whose bytes differ
    (spacing/punctuation variants). High agreement = overlap detection
    robust to granularity; low = pick per use-case before a destructive
    dedup run. Same full-outer-join + 1-row-aggregate shape as
    q_dedup_method_agreement.

    Scale: composes the two registered pair pipelines unchanged (BOTH
    arms read their fp-bucketed landings; both df-capped), then a
    pair-keyed full outer join and one global aggregate — the only
    single-partition stage is the final 4-column row."""
    ch_fps, wd_fps = _both_winnow_landings(spark, sf_dir)
    ch = winnowing_pairs_from_fps(ch_fps, top=None).select(
        "doc_a", "doc_b", F.lit(True).alias("in_char")
    )
    wd = winnowing_pairs_from_fps(
        wd_fps,
        df_cap=WINNOW_WORD_DF_CAP,
        min_shared=WINNOW_WORD_MIN_SHARED,
        top=None,
    ).select("doc_a", "doc_b", F.lit(True).alias("in_word"))
    lab = ch.join(wd, ["doc_a", "doc_b"], "full")
    n_char = F.sum(F.when(F.col("in_char"), 1).otherwise(0))
    n_word = F.sum(F.when(F.col("in_word"), 1).otherwise(0))
    n_both = F.sum(
        F.when(F.col("in_char") & F.col("in_word"), 1).otherwise(0)
    )
    n_all = F.count("*")
    return lab.agg(
        n_char.cast("bigint").alias("n_char"),
        n_word.cast("bigint").alias("n_word"),
        n_both.cast("bigint").alias("n_both"),
        F.round(
            F.when(n_all == 0, F.lit(0.0)).otherwise(n_both / n_all), 4
        ).alias("agreement"),
    )
