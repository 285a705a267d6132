"""Embedding similarity search over the ``embeddings`` table.

ANN building blocks for a training-data pipeline (near-dup by embedding,
semantic retrieval):

- q_cosine_topk:  brute-force exact top-k — the correctness baseline.
  Query set broadcast against the corpus; the corpus is scanned once.
- q_ann_lsh:      sign-random-projection LSH (Charikar hyperplanes) —
  the scale path. Vectors land in 2^P buckets; candidate pairs only form
  inside a bucket, so the pairwise stage is corpus²/2^P in expectation.

Both are exactly oracle-checkable: the "random" hyperplanes are derived
from md5 (identical in both engines), and all arithmetic is double with
a final round(4).

All vector math is built-in higher-order functions (zip_with/aggregate)
— JVM-side, no Python in the loop. A pandas_udf/numpy variant of the
dot product is provided in tests for cross-checking the HOF math.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table, table_parallel

TOPK = 5
N_QUERIES = 5  # query set: vec_id < 5

N_PLANES = 8
DIM = 64
_HEX = "0123456789abcdef"


def _as_double(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) + 0.0 AS sim
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, sim, rnk FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS BIGINT) AS rnk
      FROM pairs
    )
    WHERE rnk <= {TOPK}
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: exact ANN baseline.

    Scale: the query side (small) is broadcast; the corpus is scanned
    once with the dot product fused into the scan projection. Top-k per
    query is a windowed rank over (queries × corpus) — at 100 TB you cap
    the query batch, not the corpus. Ranking uses the *rounded* sim with
    a vec_id tie-break so ordering is reproducible across engines.
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    n = e.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = (
        F.broadcast(q)
        .join(n, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.round(
                    dot(F.col("qv"), F.col("v"))
                    / (F.col("qnrm") * F.col("nrm")),
                    4,
                )
                + F.lit(0.0)  # -0.0 → +0.0, see q_ann_lsh
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOPK)
    )


def _plane_weights(p: int, t: int | None = None) -> list[float]:
    """Deterministic ±1 hyperplane weights for plane ``p`` (and table
    ``t`` in the multi-table variant), one per dimension.

    Computed driver-side with hashlib.md5 — bit-identical to the
    ``md5(concat(...))`` the DuckDB oracle evaluates, so the planes are
    the SAME mathematical objects in both engines while Spark never has
    to materialize a (vector × plane × dim) exploded frame: the weights
    ship to executors as the GEMM weight matrix (see _srp_signatures).
    """
    out = []
    for d in range(1, DIM + 1):
        key = f"{p}_{d}" if t is None else f"{t}_{p}_{d}"
        first_hex = hashlib.md5(key.encode()).hexdigest()[0]
        out.append(1.0 if int(first_hex, 16) >= 8 else -1.0)
    return out


def _srp_signatures(
    e: DataFrame, tables: list[int | None], passthrough_v: bool = False
) -> DataFrame:
    """SRP bucket signatures via an Arrow-batched int64 GEMM.

    Input ``e`` must have (vec_id, v: array<double>). Output is
    (vec_id[, v], t, bucket) with one row per (vector, hash table) —
    ``t`` omitted when a single plane set is requested.

    The projection of every vector onto every (table, plane) hyperplane
    is one numpy matmul per Arrow batch: scaled-int terms
    round(v·1e14) as an N×DIM int64 matrix times the ±1 weight matrix
    DIM×(T·P). Exactness: the weights are ±1 and round is half away
    from zero in numpy (floor(|y|+0.5)·sign), Spark (HALF_UP) and
    DuckDB (std::round) alike, so round(w·x·1e14) = w·round(x·1e14)
    and the int64 sums are bit-identical to the oracle's
    sum(round(w * v[d] * 1e14)) — order-independent, no float
    accumulation anywhere. No overflow: 64 terms × ~1e14 ≪ 2^63.

    Scale: one corpus pass, zero shuffle — the alternatives measured
    worse: an exploded (vector × table × plane × dim) crossJoin+agg
    shuffles T·P·DIM rows per vector, and a per-plane zip_with tree is
    interpreted per element (NOTES: HOF lambdas leave codegen). The
    GEMM is the same applyInPandas/Arrow pattern as mlops.py's
    embedding dedup (measured 50× there).
    """
    import numpy as np
    import pandas as pd

    weight_mat = np.array(
        [_plane_weights(p, t) for t in tables for p in range(N_PLANES)],
        dtype=np.int64,
    ).T  # DIM × (n_tables · N_PLANES)
    n_tables = len(tables)
    with_t = n_tables > 1

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["v"].to_numpy())  # N × DIM float64
            scaled = vecs * 1e14
            terms = (np.floor(np.abs(scaled) + 0.5) * np.sign(scaled)).astype(
                np.int64
            )
            sums = terms @ weight_mat  # N × (n_tables · N_PLANES), exact
            bits = np.where(sums >= 0, "1", "0")
            for ti in range(n_tables):
                seg = bits[:, ti * N_PLANES : (ti + 1) * N_PLANES]
                out = {"vec_id": pdf["vec_id"].to_numpy()}
                if passthrough_v:
                    out["v"] = pdf["v"]
                if with_t:
                    out["t"] = np.full(len(pdf), ti, dtype=np.int32)
                out["bucket"] = ["".join(row) for row in seg.tolist()]
                yield pd.DataFrame(out)

    fields = ["vec_id long"]
    if passthrough_v:
        fields.append("v array<double>")
    if with_t:
        fields.append("t int")
    fields.append("bucket string")
    return e.mapInPandas(gen, ", ".join(fields))


def _weight_sql() -> str:
    """DuckDB expr: deterministic ±1 hyperplane weight for (p, d)."""
    md5_arg = "concat(CAST(p AS VARCHAR), '_', CAST(d AS VARCHAR))"
    return (
        f"CASE WHEN instr('{_HEX}', substr(md5({md5_arg}), 1, 1)) - 1 >= 8 "
        "THEN 1.0 ELSE -1.0 END"
    )


# Shared oracle CTE prefix: per-vector SRP bucket signature + norm
# (identical md5-derived hyperplanes to _plane_weights / _srp_signatures).
_SIG_CTES = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    wts AS (
      SELECT p, d, {_weight_sql()} AS w
      FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p),
           (SELECT unnest(generate_series(1, {DIM})) AS d)
    ),
    proj AS (
      SELECT e.vec_id, wts.p,
             sum(CAST(round(wts.w * e.v[wts.d] * 1e14) AS BIGINT)) AS s
      FROM e CROSS JOIN wts
      GROUP BY e.vec_id, wts.p
    ),
    sig AS (
      SELECT vec_id,
             string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      FROM proj GROUP BY vec_id
    ),
    n AS (
      SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm, sig.bucket
      FROM e JOIN sig ON e.vec_id = sig.vec_id
    )"""

_ANN_ORACLE = f"""{_SIG_CTES}
    SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) + 0.0 AS sim
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """


@query("q_ann_lsh", oracle=_ANN_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN candidates: sign-random-projection (SimHash for
    vectors) with md5-derived deterministic hyperplanes.

    Each vector gets a P-bit bucket id (sign of v·w_p for P pseudo-random
    ±1 hyperplanes); exact cosine is computed only for same-bucket pairs.

    Scale: bucket assignment is one Arrow-batched int64 GEMM over the
    corpus (see _srp_signatures) — no exploded (vector × plane × dim)
    frame, no aggregation, no shuffle until the candidate join on the
    bucket key (2^P buckets; raise P to cut bucket size; multiple hash
    tables = union of P-sets for recall). Expected pairwise work drops
    from N²/2 to N²/2^(P+1) per table.
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    n = _srp_signatures(e, [None], passthrough_v=True).select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        "bucket",
    )
    a = n.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "bucket",
            "vec_a",
            "vec_b",
            (
                F.round(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")),
                    4,
                )
                # + 0.0 folds IEEE -0.0 to +0.0 (exact for all other
                # values): engines disagree on the SIGN of a zero-rounded
                # sim, and stringly row sorts put -0.0 and 0.0 in
                # different positions — observed at sf0.1.
                + F.lit(0.0)
            ).alias("sim"),
        )
    )


N_TABLES = 3  # independent hash tables for the multi-table variant


def _mt_weight_sql() -> str:
    """DuckDB expr: ±1 hyperplane weight for (t, p, d) — the table index
    in the md5 seed makes every table's plane set independent."""
    md5_arg = (
        "concat(CAST(t AS VARCHAR), '_', CAST(p AS VARCHAR), "
        "'_', CAST(d AS VARCHAR))"
    )
    return (
        f"CASE WHEN instr('{_HEX}', substr(md5({md5_arg}), 1, 1)) - 1 >= 8 "
        "THEN 1.0 ELSE -1.0 END"
    )


_MULTITABLE_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    wts AS (
      SELECT t, p, d, {_mt_weight_sql()} AS w
      FROM (SELECT unnest(generate_series(0, {N_TABLES - 1})) AS t),
           (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p),
           (SELECT unnest(generate_series(1, {DIM})) AS d)
    ),
    proj AS (
      SELECT e.vec_id, wts.t, wts.p,
             sum(CAST(round(wts.w * e.v[wts.d] * 1e14) AS BIGINT)) AS s
      FROM e CROSS JOIN wts
      GROUP BY 1, 2, 3
    ),
    sig AS (
      SELECT vec_id, t,
             string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p)
               AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             count(*) AS n_tables_matched
      FROM sig a
      JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    )
    SELECT c.vec_a, c.vec_b, c.n_tables_matched,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) + 0.0 AS sim
    FROM cand c
    JOIN n a ON a.vec_id = c.vec_a
    JOIN n b ON b.vec_id = c.vec_b
    """


@query("q_ann_multitable", oracle=_MULTITABLE_ORACLE)
def q_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP-LSH: union of N_TABLES independent plane sets.

    The recall knob single-table LSH lacks: a true near pair missed by
    one table's bucketing is caught by another (miss probability decays
    exponentially in the table count: (1 - p^P)^T), at T× the bucket
    work. Emits each candidate pair ONCE with how many tables proposed
    it — n_tables_matched doubles as a cheap confidence score.

    Scale: every table's bucket id comes from ONE Arrow-batched int64
    GEMM pass over the corpus (see _srp_signatures) — no exploded
    (vector × table × plane) frame, no signature aggregation.
    Candidates come from one bucket-collect per (table, bucket) key;
    the final exact-cosine pass touches only the distinct candidate set
    (join back to vectors), which is the part you'd budget at 100 TB —
    tune T and P so candidates ≪ corpus².
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    # (vec_id, t, bucket): T bucket strings per vector from one GEMM pass
    sig = _srp_signatures(e, list(range(N_TABLES)))
    # bucket-collect pair generation per (table, bucket) — same shape as
    # the dedup LSH path: one shuffle, no self-join diamond
    buckets = (
        sig.groupBy("t", "bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = (
        buckets.select(
            F.explode(sorted_pairs("ids", "vec_a", "vec_b")).alias("pr")
        )
        .select("pr.vec_a", "pr.vec_b")
        .groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("n_tables_matched"))
    )
    n = e.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm")
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "n_tables_matched",
            (
                F.round(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")),
                    4,
                )
                # + 0.0 folds IEEE -0.0 to +0.0 (exact for all other
                # values): engines disagree on the SIGN of a zero-rounded
                # sim, and stringly row sorts put -0.0 and 0.0 in
                # different positions — observed at sf0.1.
                + F.lit(0.0)
            ).alias("sim"),
        )
    )


_MULTIPROBE_ORACLE = f"""{_SIG_CTES},
    q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket
      FROM n WHERE vec_id < {N_QUERIES}
    ),
    probes AS (
      SELECT query_id, qv, qnrm, bucket AS probe FROM q
      UNION ALL
      SELECT query_id, qv, qnrm,
             substr(bucket, 1, i - 1)
             || (CASE WHEN substr(bucket, i, 1) = '1'
                      THEN '0' ELSE '1' END)
             || substr(bucket, i + 1, {N_PLANES}) AS probe
      FROM q, (SELECT unnest(generate_series(1, {N_PLANES})) AS i)
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(p.qv, c.v) / (p.qnrm * c.nrm), 4)
               + 0.0 AS sim
      FROM probes p
      JOIN n c ON c.bucket = p.probe AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim, rnk FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS BIGINT) AS rnk
      FROM cand
    ) WHERE rnk <= {TOPK}
    """


@query("q_ann_lsh_multiprobe", oracle=_MULTIPROBE_ORACLE)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH top-k: each query probes its home bucket PLUS
    the {N_PLANES} one-bit-flip neighbor buckets (the buckets a
    near-boundary projection most likely fell into). Lv et al.'s
    multi-probe trade: recover most of the recall that extra hash
    TABLES would buy while storing and shuffling only ONE table — at
    100 TB the signature table is the dominant state, so probing is
    (P+1)× more candidate compute for 1× storage instead of T× both.

    Candidates are naturally unique — probe strings are distinct and a
    corpus vector lives in exactly one bucket — so no dedup stage.

    Scale: the probe frame is (queries × (P+1)) rows and broadcast; the
    corpus signature side is scanned once and never shuffled (the
    broadcast-hash join keys on the bucket string). Exact cosine only
    for candidates; top-k is a per-query WindowGroupLimit over the
    candidate set, not the corpus. Recall ≥ the single-table q_ann_lsh
    by construction (superset of probed buckets); pinned in
    tests/test_multiprobe.py.
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    n = _srp_signatures(e, [None], passthrough_v=True).select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        "bucket",
    )
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        "bucket",
    )
    flip = F.transform(
        F.sequence(F.lit(1), F.lit(N_PLANES)),
        lambda i: F.overlay(
            F.col("bucket"),
            F.when(F.substring(F.col("bucket"), i, F.lit(1)) == "1", "0")
            .otherwise("1"),
            i,
            F.lit(1),
        ),
    )
    probes = q.select(
        "query_id",
        "qv",
        "qnrm",
        F.explode(
            F.concat(F.array(F.col("bucket")), flip)
        ).alias("probe"),
    )
    cand = F.broadcast(probes).join(
        n,
        (F.col("bucket") == F.col("probe"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                4,
            )
            + F.lit(0.0)
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOPK)
    )


SEMDEDUP_TAU = 0.35  # fixture-calibrated: synthetic embeddings peak ~0.51

_SEMDEDUP_ORACLE = f"""{_SIG_CTES},
    dropped AS (
      SELECT b.vec_id
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
            >= {SEMDEDUP_TAU}
      GROUP BY b.vec_id
    )
    SELECT n.vec_id, n.bucket,
           (dropped.vec_id IS NULL) AS kept
    FROM n LEFT JOIN dropped ON n.vec_id = dropped.vec_id
    """


@query("q_semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): bucket
    the embedding space, then inside each bucket drop every vector that
    has cosine ≥ τ with an earlier (lower-id) vector — keeping one
    representative per semantic neighborhood. This removes *semantic*
    duplicates (same content, different words) that every lexical rung
    (MinHash/SimHash/n-gram) misses by construction.

    Clustering here is the SRP bucket (deterministic, oracle-exact)
    standing in for SemDeDup's k-means — same pipeline shape: cluster
    assignment is one corpus pass, pair formation is intra-cluster
    only, so pairwise work is corpus^2/2^P not corpus^2. Keep-policy is
    first-occurrence (any higher-sim EARLIER vector kills a row),
    order-independent and exactly SQL-expressible; chains that need
    transitive closure go through the CC rung (q_dedup_clusters).

    τ is fixture-calibrated (the synthetic embeddings top out at ~0.51
    cosine); production SemDeDup uses 0.9+ on real encoder output —
    the plan is threshold-independent.

    Scale: signatures via the zero-shuffle Arrow GEMM; one bucket-keyed
    shuffle forms pairs; the dropped set (ids only) joins back for the
    kept flag WITHOUT a broadcast hint — on a near-dup-heavy corpus it
    is corpus-sized, so AQE picks broadcast only while it fits. No
    global state, no windows.
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    n = _srp_signatures(e, [None], passthrough_v=True).select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        "bucket",
    )
    a = n.select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                4,
            )
            >= SEMDEDUP_TAU
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        n.select("vec_id", "bucket")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.col("is_dropped").isNull().alias("kept"),
        )
    )


LABEL_CONFLICT_TAU = 0.3  # fixture-calibrated, same note as SEMDEDUP_TAU

_LABEL_CONFLICT_ORACLE = f"""{_SIG_CTES},
    lab AS (
      SELECT n.vec_id, n.v, n.nrm, n.bucket, e2.label
      FROM n JOIN embeddings e2 ON n.vec_id = e2.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
             + 0.0 AS sim
    FROM lab a
    JOIN lab b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             AND a.label <> b.label
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
          >= {LABEL_CONFLICT_TAU}
    """


@query("q_label_conflicts", oracle=_LABEL_CONFLICT_ORACLE)
def q_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen over an annotated embedding table: pairs of
    vectors that are close in embedding space (cosine >= tau, candidates
    from the SRP buckets) yet carry DIFFERENT labels — the classic
    confident-learning signal that one of the two is mislabeled, or the
    label taxonomy is conflated. Run before training a classifier on
    scraped/weak labels; the output is a human-review queue sized by
    tau.

    Scale: identical plan family to q_ann_lsh — zero-shuffle GEMM
    signatures, one bucket-keyed join, pair work bounded by bucket
    sizes; the label column rides along from the scan (no second join
    against the corpus on the Spark side — labels join onto the
    signature frame pre-pairing).
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v"), "label"
    )
    n = _srp_signatures(
        e.select("vec_id", "v"), [None], passthrough_v=True
    ).join(e.select("vec_id", "label"), "vec_id")
    # Both self-join orientations consume the signature+norm frame;
    # unpinned, the SRP GEMM + label join ran once per side (the two
    # projections differ, defeating exchange reuse). |vectors|-sized —
    # pin it (guide §2.4).
    n = n.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        "bucket",
        "label",
    ).localCheckpoint(eager=False)
    a = n.select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.col("label").alias("label_a"),
    )
    b = n.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("label").alias("label_b"),
    )
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
    ) + F.lit(0.0)
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b"))
            & (F.col("label_a") != F.col("label_b")),
        )
        .withColumn("sim", sim)
        .filter(F.col("sim") >= LABEL_CONFLICT_TAU)
        .select("vec_a", "vec_b", "label_a", "label_b", "sim")
    )


_RECALL_RANK = (
    "CAST(row_number() OVER (PARTITION BY query_id "
    "ORDER BY sim DESC, neighbor_id) AS BIGINT)"
)

_ANN_RECALL_ORACLE = f"""{_SIG_CTES},
    ex AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
               + 0.0 AS sim
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    ex_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, {_RECALL_RANK} AS r FROM ex
      ) WHERE r <= {TOPK}
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, qnrm, bucket FROM (
        SELECT vec_id, v, nrm AS qnrm, bucket FROM n
        WHERE vec_id < {N_QUERIES}
      )
    ),
    probes AS (
      SELECT query_id, qv, qnrm, bucket AS probe FROM q
      UNION ALL
      SELECT query_id, qv, qnrm,
             substr(bucket, 1, i - 1)
             || (CASE WHEN substr(bucket, i, 1) = '1'
                      THEN '0' ELSE '1' END)
             || substr(bucket, i + 1, {N_PLANES}) AS probe
      FROM q, (SELECT unnest(generate_series(1, {N_PLANES})) AS i)
    ),
    mp_cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(p.qv, c.v) / (p.qnrm * c.nrm), 4)
               + 0.0 AS sim
      FROM probes p
      JOIN n c ON c.bucket = p.probe AND c.vec_id <> p.query_id
    ),
    mp_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, {_RECALL_RANK} AS r FROM mp_cand
      ) WHERE r <= {TOPK}
    ),
    home_cand AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
               + 0.0 AS sim
      FROM n a JOIN n b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    home_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, {_RECALL_RANK} AS r FROM home_cand
      ) WHERE r <= {TOPK}
    ),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_truth FROM ex_topk)
    SELECT 'lsh_home' AS method,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                 / nt.n_truth, 4) AS recall
    FROM home_topk h
    LEFT JOIN ex_topk e
      ON e.query_id = h.query_id AND e.neighbor_id = h.neighbor_id
    CROSS JOIN nt GROUP BY nt.n_truth
    UNION ALL
    SELECT 'lsh_multiprobe' AS method,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                 / nt.n_truth, 4) AS recall
    FROM mp_topk m
    LEFT JOIN ex_topk e
      ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
    CROSS JOIN nt GROUP BY nt.n_truth
    """


@query("q_ann_recall_report", oracle=_ANN_RECALL_ORACLE)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k report for the ANN ladder — the ANN counterpart of
    q_lsh_calibration: retrieved-set recall of (a) home-bucket-only
    SRP-LSH and (b) multi-probe against the exact brute-force top-k,
    one row per method. This is the measurement that decides whether
    to pay for more planes, more probes, or more tables before
    committing an index config to a 100 TB corpus.

    Composes the REGISTERED operators unchanged (q_cosine_topk truth,
    q_ann_lsh_multiprobe retrieval, q_ann_lsh home-bucket pairs) —
    calibration must measure the production plan, not a re-derivation.

    Scale: each side is the underlying operator's plan; the report
    join keys on (query_id, neighbor_id) over top-k-sized frames
    (queries x k rows), then a 2-row union of global aggregates.
    """
    # The brute-force truth set is consumed THREE times (one left join
    # per method report + the n_truth scalar); without materialization
    # each consumer re-runs the full queries×corpus scan — the plan
    # audit showed the Window+WindowGroupLimit brute-force subtree four
    # times (plans/r14/). The frame is tiny (N_QUERIES × TOPK rows), so
    # a lazy localCheckpoint computes it once and every consumer reads
    # blocks (guide §2.4: remove repeated subtrees outright).
    exact = (
        q_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        .localCheckpoint(eager=False)
    )
    nt = exact.agg(F.count("*").cast("double").alias("n_truth"))

    mp = q_ann_lsh_multiprobe(spark, sf_dir).select("query_id", "neighbor_id")

    # Consumed twice (home_a / home_b orientations) — same reasoning;
    # candidate-pair-bounded, far smaller than the corpus.
    lshp = q_ann_lsh(spark, sf_dir).localCheckpoint(eager=False)
    home_a = lshp.filter(F.col("vec_a") < N_QUERIES).select(
        F.col("vec_a").alias("query_id"),
        F.col("vec_b").alias("neighbor_id"),
        "sim",
    )
    home_b = lshp.filter(F.col("vec_b") < N_QUERIES).select(
        F.col("vec_b").alias("query_id"),
        F.col("vec_a").alias("neighbor_id"),
        "sim",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    home = (
        home_a.unionByName(home_b)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOPK)
        .select("query_id", "neighbor_id")
    )

    def report(method: str, got: DataFrame) -> DataFrame:
        return (
            got.join(exact, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count("*").cast("bigint").alias("n_retrieved"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
            )
            .crossJoin(F.broadcast(nt))
            .select(
                F.lit(method).alias("method"),
                "n_retrieved",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_truth"), 4).alias(
                    "recall"
                ),
            )
        )

    return report("lsh_home", home).unionByName(
        report("lsh_multiprobe", mp)
    )


E2_WIDTH = 0.5
E2_PLANES = 2
_E2_SEED = 99  # decorrelates the E2 projections from the SRP planes


def _e2_weight_sql() -> str:
    md5_arg = (
        f"'{_E2_SEED}_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)"
    )
    return (
        f"CASE WHEN instr('{_HEX}', substr(md5({md5_arg}), 1, 1)) - 1 >= 8 "
        "THEN 1.0 ELSE -1.0 END"
    )


_E2_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    wts AS (
      SELECT p, d, {_e2_weight_sql()} AS w
      FROM (SELECT unnest(generate_series(0, {E2_PLANES - 1})) AS p),
           (SELECT unnest(generate_series(1, {DIM})) AS d)
    ),
    proj AS (
      SELECT e.vec_id, wts.p,
             sum(CAST(round(wts.w * e.v[wts.d] * 1e14) AS BIGINT)) AS s
      FROM e CROSS JOIN wts GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id,
             string_agg(
               CAST(CAST(floor(s / 1e14 / {E2_WIDTH}) AS BIGINT) AS VARCHAR),
               '|' ORDER BY p) AS bucket
      FROM proj GROUP BY 1
    ),
    n AS (
      SELECT e.vec_id, e.v, list_dot_product(e.v, e.v) AS sq, sig.bucket
      FROM e JOIN sig ON e.vec_id = sig.vec_id
    )
    SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(sqrt(greatest(0.0,
             a.sq + b.sq - 2 * list_dot_product(a.v, b.v))), 4) AS dist
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """


@query("q_ann_euclidean_lsh", oracle=_E2_ORACLE)
def q_ann_euclidean_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-distance LSH (E2LSH / BucketedRandomProjectionLSH
    semantics): bucket = floor(v.w / width) per projection, candidates
    form only inside a bucket, verified with the exact L2 distance —
    the metric-space complement of the cosine SRP rung (nearby points
    share a quantized projection cell; width trades bucket size for
    recall exactly like Spark ML's bucketLength).

    Determinism for the oracle: Rademacher (+-1) projections derived
    from md5 with a seed disjoint from the SRP planes, and the
    projection is summed as scaled int64 terms (the _srp_signatures
    exactness argument), so the floor() cell boundary cannot straddle a
    cross-engine ulp — both engines divide the SAME integer. Distances
    use d^2 = |a|^2 + |b|^2 - 2ab with a greatest(0,.) clamp against
    float cancellation.

    Scale: projection is a per-row expression (no shuffle); the
    candidate join keys on the bucket string — same posture as
    q_ann_lsh; at sf0.01 the cell width prunes 98% of the N^2/2 pairs.
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    import hashlib as _hl

    def wvec(p: int) -> list[float]:
        out = []
        for d in range(1, DIM + 1):
            h = _hl.md5(f"{_E2_SEED}_{p}_{d}".encode()).hexdigest()[0]
            out.append(1.0 if int(h, 16) >= 8 else -1.0)
        return out

    def s_int(p: int):
        w = F.array(*[F.lit(x) for x in wvec(p)])
        return F.aggregate(
            F.zip_with(
                F.col("v"),
                w,
                lambda x, ww: F.round(ww * x * F.lit(1e14), 0).cast(
                    "bigint"
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    bucket = F.concat_ws(
        "|",
        *[
            F.floor(s_int(p) / F.lit(1e14) / F.lit(E2_WIDTH))
            .cast("bigint")
            .cast("string")
            for p in range(E2_PLANES)
        ],
    )
    n = e.select(
        "vec_id",
        "v",
        dot(F.col("v"), F.col("v")).alias("sq"),
        bucket.alias("bucket"),
    )
    a = n.select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("sq").alias("sqa"),
    )
    b = n.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("sq").alias("sqb"),
    )
    return a.join(
        b,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    ).select(
        "bucket",
        "vec_a",
        "vec_b",
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col("sqa")
                    + F.col("sqb")
                    - 2 * dot(F.col("va"), F.col("vb")),
                )
            ),
            4,
        ).alias("dist"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation quality
# ---------------------------------------------------------------------------

MRL_PREFIXES = [8, 16, 32]  # prefix dims audited against the full DIM=64

_MRL_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (SELECT unnest([{', '.join(str(p) for p in MRL_PREFIXES)}, {DIM}]) AS pd),
    n AS (
      SELECT d.pd, e.vec_id, e.v[1:d.pd] AS pv,
             sqrt(list_dot_product(e.v[1:d.pd], e.v[1:d.pd])) AS nrm
      FROM e CROSS JOIN dims d
    ),
    ranked AS (
      SELECT q.pd, q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.pd, q.vec_id
               ORDER BY round(list_dot_product(q.pv, c.pv)
                              / (q.nrm * c.nrm), 4) DESC, c.vec_id
             ) AS rnk
      FROM n q JOIN n c ON c.pd = q.pd AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    kept AS (
      SELECT pd, query_id, neighbor_id FROM ranked WHERE rnk <= {TOPK}
    ),
    full_k AS (
      SELECT query_id, neighbor_id FROM kept WHERE pd = {DIM}
    )
    SELECT CAST(k.pd AS BIGINT) AS prefix_dim,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(count(*) * 1.0 / {N_QUERIES * TOPK}, 4) + 0.0
             AS overlap_at_k
    FROM kept k
    JOIN full_k f
      ON f.query_id = k.query_id AND f.neighbor_id = k.neighbor_id
    WHERE k.pd <> {DIM}
    GROUP BY 1
    """


@query("q_matryoshka_overlap", oracle=_MRL_ORACLE)
def q_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for each prefix length p in
    MRL_PREFIXES, the overlap@k between exact cosine top-k under the
    FULL embedding and under its first-p-dims truncation — the number
    that tells you whether serving can run ANN on a 8/16/32-dim prefix
    (MRL-trained models promise it; this measures it on YOUR vectors).

    Plan: ONE broadcast of the query rows over ONE corpus scan; all
    |prefixes|+1 dot products are fused into the scan projection (array
    slices of the same row — ~2x the flops of the full dot, vs 4x the
    rows if the prefix axis were exploded before the join), and only
    the (pair, prefix, sim) triple leaves the stage. Top-k per
    (query, prefix) ranks the ROUNDED sim with a neighbor tie-break
    (deterministic cross-engine, q_cosine_topk convention). At 100 TB
    the corpus side stays a single pruned column scan; the result is
    |prefixes| rows.
    """
    dims = [*MRL_PREFIXES, DIM]
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )

    def pref_norm(col: str, p: int) -> Column:
        s = F.slice(F.col(col), 1, p)
        return F.sqrt(dot(s, s))

    n = e.select(
        "vec_id", "v", *[pref_norm("v", p).alias(f"nrm_{p}") for p in dims]
    )
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        *[F.col(f"nrm_{p}").alias(f"qnrm_{p}") for p in dims],
    )
    sims = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).cast("bigint").alias("prefix_dim"),
                    (
                        F.round(
                            dot(
                                F.slice(F.col("qv"), 1, p),
                                F.slice(F.col("v"), 1, p),
                            )
                            / (F.col(f"qnrm_{p}") * F.col(f"nrm_{p}")),
                            4,
                        )
                        + F.lit(0.0)
                    ).alias("sim"),
                )
                for p in dims
            ]
        )
    ).alias("ps")
    pairs = (
        F.broadcast(q)
        .join(n, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), sims
        )
        .select("query_id", "neighbor_id", "ps.prefix_dim", "ps.sim")
    )
    w = Window.partitionBy("prefix_dim", "query_id").orderBy(
        F.col("sim").desc(), "neighbor_id"
    )
    kept = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("prefix_dim", "query_id", "neighbor_id")
    )
    full_k = kept.filter(F.col("prefix_dim") == DIM).select(
        "query_id", "neighbor_id"
    )
    return (
        kept.filter(F.col("prefix_dim") != DIM)
        .join(full_k, ["query_id", "neighbor_id"])
        .groupBy("prefix_dim")
        .agg(
            F.count("*").alias("n_hits"),
            (
                F.round(F.count("*") / F.lit(N_QUERIES * TOPK), 4)
                + F.lit(0.0)
            ).alias("overlap_at_k"),
        )
    )


_SRC_BALANCE_ORACLE = f"""{_SIG_CTES},
    src AS (
      SELECT sig.bucket, d.source
      FROM sig JOIN documents d ON d.doc_id = sig.vec_id
    ),
    per AS (
      SELECT bucket, source, CAST(count(*) AS BIGINT) AS n_docs
      FROM src GROUP BY 1, 2
    ),
    bt AS (SELECT bucket, sum(n_docs) AS bn FROM per GROUP BY 1),
    st AS (SELECT source, sum(n_docs) AS sn FROM per GROUP BY 1),
    tt AS (SELECT sum(n_docs) AS tn FROM per)
    SELECT per.bucket, per.source, per.n_docs,
           round(per.n_docs / bt.bn, 4) AS share,
           round((per.n_docs / bt.bn) / (st.sn / tt.tn), 4) AS lift
    FROM per
    JOIN bt USING (bucket)
    JOIN st USING (source)
    CROSS JOIN tt
    """


@query("q_cluster_source_balance", oracle=_SRC_BALANCE_ORACLE)
def q_cluster_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source balance of embedding-space clusters: for each semantic
    cluster, each source's share of the cluster and its lift over the
    source's global share — lift ≫ 1 marks semantic regions one source
    dominates (the training-mix skew a sampling policy should correct),
    lift ≈ 1 everywhere means the mix is semantically uniform. VERDICT
    r10 item 8's per-source embedding-cluster balance report.

    Clustering is the deterministic SRP bucket standing in for k-means —
    the same documented substitution q_semantic_dedup makes (it keeps
    the report oracle-exact where a k-means assignment would force a
    rows-only carve-out; the IVF/k-means rung remains the ANN index
    path). Documents and embeddings are id-aligned (doc_id = vec_id),
    the fixture contract the RRF/matryoshka family already uses.

    Scale: signatures via the zero-shuffle Arrow GEMM; ONE (bucket,
    source)-keyed aggregate over the joined scan; the three marginals
    (per-bucket, per-source, total) are derived from that aggregate's
    output — bucket count is bounded by 2^{N_PLANES} and source count
    by the catalog, so the joins back are marginal-sized, never
    corpus-sized. The source marginal and the 1-row total are broadcast;
    the bucket marginal joins un-hinted (AQE broadcasts while it fits).
    """
    e = table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    return source_balance_from_buckets(spark, sf_dir, srp_buckets_df(e))


def srp_buckets_df(e: DataFrame) -> DataFrame:
    """Per-vector SRP cluster assignment (vec_id, bucket) over any
    (vec_id, v: array<double>) frame — a per-row pure map (one Arrow
    GEMM, zero shuffle), so it rides the generic doc-landing maintainer
    (streaming/landing_stream.py) as a streamed cluster-assignment
    landing the same way minhash/simhash signatures do."""
    return _srp_signatures(e, [None]).select("vec_id", "bucket")


def source_balance_from_buckets(
    spark: SparkSession, sf_dir: str, b: DataFrame
) -> DataFrame:
    """The q_cluster_source_balance report over ANY (vec_id, bucket)
    cluster-assignment frame — shared by the registered batch query
    (in-plan SRP buckets) and the streaming twin (a maintained bucket
    landing). Plan shape per the query docstring: one corpus-sized
    aggregate, marginal-sized joins back, st/tt broadcast."""
    src = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    per = (
        b.join(src, "vec_id")
        .groupBy("bucket", "source")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=False)  # feeds all three marginals + output
    )
    bt = per.groupBy("bucket").agg(F.sum("n_docs").alias("bn"))
    st = per.groupBy("source").agg(F.sum("n_docs").alias("sn"))
    tt = per.agg(F.sum("n_docs").alias("tn"))
    share = F.col("n_docs") / F.col("bn")
    return (
        per.join(bt, "bucket")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tt))
        .select(
            "bucket",
            "source",
            "n_docs",
            F.round(share, 4).alias("share"),
            F.round(share / (F.col("sn") / F.col("tn")), 4).alias("lift"),
        )
    )
