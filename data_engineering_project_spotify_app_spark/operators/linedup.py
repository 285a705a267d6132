"""Line/paragraph-level corpus dedup + exact substring overlap.

The missing rung of the dedup ladder (doc-level exact / n-gram Jaccard /
MinHash-LSH / SimHash / embedding live in dedup.py + mlops.py): C4-style
INTRA-document dedup, where a *line* duplicated anywhere in the corpus
is kept only at its first occurrence and every document is reassembled
from its surviving lines (Raffel et al. 2020, "Exploring the Limits of
Transfer Learning", §2.2 — the C4 three-sentence/line dedup rule), plus
exact substring-overlap detection between document pairs (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better" — the
ExactSubstr motivation, here via k-gram diagonal runs instead of suffix
arrays).

The synthetic corpus has no newline characters, so a "line" is defined
as a deterministic non-overlapping K-token chunk (K=4; "paragraph"
= K=16) — the same segmentation expressed identically in the DuckDB
oracles, which keeps every query fully hash-checkable.

Scale design (100 TB posture):

- first-occurrence is a min(struct(doc_id, line_idx)) HASH AGGREGATE
  on the line digest followed by a co-partitioned join back, NOT a
  row_number window over the digest: the window form puts every
  occurrence of one line into ONE task, and the motivating C4 case is
  exactly a boilerplate line repeated 10^8 times ("enable JavaScript").
  The aggregate partial-aggregates map-side (a mega-duplicated line
  shuffles one row per map task) and AQE skew-splits the probe join.
  The price is the known two-consumer diamond (the line frame is
  computed twice — NOTES_r2.md); a second linear pass is the right
  trade against an unboundedly-skewed window partition.
- LCS overlap caps k-gram posting lists at max(16, n_docs/200) BEFORE
  pair explosion — the same stop-feature cap as the capped LSH ladder
  (dedup.py): an ultra-common k-gram carries no overlap signal and its
  C(df,2) pairs would serialize one task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.functions.text import (
    TOKENS_SQL,
    tokens,
)
from data_engineering_project_spotify_app_spark.operators.dedup import (
    CAP_DIVISOR,
    CAP_FLOOR,
    MINHASH_CTES,
    _auto_cap,
    _cap_buckets,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table_parallel

_TOK = TOKENS_SQL.format(col="text")

LINE_TOKENS = 4
PARA_TOKENS = 16

LCS_GRAM = 4
MIN_LCS_TOKENS = 8


def _exploded_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) rows, pos 0-based in document order.

    NOTE on the inlining hazard: transform/slice lambdas over a tokens()
    EXPRESSION let ProjectCollapsing inline the tokenizer regex into
    every lambda element (measured 10x, functions/text.py); referencing
    a Generate-produced attribute instead (explode(array(tokens(...))),
    as _chunk_lines and _diag_islands do) blocks the inlining. This
    helper is for consumers that want one row per token.
    """
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    return toks.select("doc_id", F.posexplode("t").alias("pos", "tok"))


def _chunk_lines(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, line_idx, line): non-overlapping k-token chunks.

    ZERO-shuffle chunk build: ``explode(array(tokens(...)))`` puts the
    token array behind a Generate node, so the transform/slice lambdas
    below reference the generated ATTRIBUTE — ProjectCollapsing cannot
    inline the tokenizer regex into each chunk element (the 10x hazard
    documented in functions/text.py). Measured vs the
    posexplode+groupBy-collect build at sf0.1: 0.40s vs 0.50s for the
    line frame, and it removes one whole shuffle per consumer of the
    line frame (this function is on both sides of q_dedup_lines'
    first-occurrence diamond). line_idx is BIGINT to match the
    oracle's floor-division output.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    # empty-doc guard: Spark's sequence(0, -1) DESCENDS ([0, -1]) rather
    # than yielding an empty list, which would fabricate empty lines for
    # tokenless docs (caught by the hypothesis reference test) — guard
    # to an empty array so empty docs drop out, as in the oracle's
    # generate_series(1, 0)
    chunks = F.when(
        F.size("t") > 0,
        F.transform(
            F.sequence(F.lit(0), F.ceil(F.size("t") / k).cast("int") - 1),
            lambda i: F.concat_ws(" ", F.slice("t", i * k + 1, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("line_idx", "line")
    ).select("doc_id", F.col("line_idx").cast("bigint").alias("line_idx"), "line")


def dedup_lines(docs: DataFrame, k: int) -> DataFrame:
    """C4-style chunk dedup: keep each distinct line only at its FIRST
    corpus occurrence (min (doc_id, line_idx)), reassemble documents
    from surviving lines, and report kept/dropped counts per doc."""
    lines = _chunk_lines(docs, k).withColumn("h", F.md5("line"))
    firsts = lines.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_idx")).alias("first")
    )
    flagged = lines.join(firsts, "h").select(
        "doc_id",
        "line_idx",
        "line",
        (
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("line_idx") == F.col("first.line_idx"))
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_dropped"),
    )


def _dedup_lines_oracle(k: int) -> str:
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ex AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) AS pos1
      FROM tok
    ),
    lines AS (
      SELECT doc_id,
             CAST(floor((pos1 - 1) / {k}) AS BIGINT) AS line_idx,
             string_agg(tok, ' ' ORDER BY pos1) AS line
      FROM ex GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, line_idx, line,
             row_number() OVER (
               PARTITION BY md5(line) ORDER BY doc_id, line_idx
             ) AS rn
      FROM lines
    )
    SELECT doc_id,
           coalesce(
             string_agg(line, ' ' ORDER BY line_idx) FILTER (rn = 1), ''
           ) AS clean_text,
           count(*) FILTER (rn = 1) AS n_kept,
           count(*) FILTER (rn > 1) AS n_dropped
    FROM ranked GROUP BY doc_id
    """


@query("q_dedup_lines", oracle=_dedup_lines_oracle(LINE_TOKENS))
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (line = 4-token chunk)."""
    return dedup_lines(table_parallel(spark, sf_dir, "documents"), LINE_TOKENS)


@query("q_dedup_paragraphs", oracle=_dedup_lines_oracle(PARA_TOKENS))
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level twin of q_dedup_lines (paragraph = 16-token
    chunk) — coarser segments, so only near-verbatim boilerplate blocks
    are dropped while shared short phrases survive."""
    return dedup_lines(table_parallel(spark, sf_dir, "documents"), PARA_TOKENS)


# Sliding-4-gram occurrence CTEs shared by every diagonal-machinery
# oracle: tokens → 0-based positions → k-grams → hashed occurrences.
_GRAM_SQL = f"""
    tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ex AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) AS pos1
      FROM tok
    ),
    g0 AS (
      SELECT doc_id, pos1 - 1 AS pos, tok,
             lead(tok, 1) OVER w AS t1,
             lead(tok, 2) OVER w AS t2,
             lead(tok, 3) OVER w AS t3
      FROM ex WINDOW w AS (PARTITION BY doc_id ORDER BY pos1)
    ),
    g AS (
      SELECT doc_id, pos,
             tok || ' ' || t1 || ' ' || t2 || ' ' || t3 AS gram
      FROM g0 WHERE t3 IS NOT NULL
    ),
    occ AS (SELECT md5(gram) AS h, doc_id, pos FROM g)"""

# Shared CTE chain for the CROSS-document k-gram-diagonal machinery:
# capped posting lists → cross-doc position pairs → consecutive-position
# islands per (doc_a, doc_b, diagonal). Used by q_lcs_overlap (max
# island per pair) and the q_remove_overlaps family (islands → doc_b
# token spans → span removal).
_DIAG_RUNS_SQL = f"""{_GRAM_SQL},
    keep AS (
      SELECT h FROM occ GROUP BY h
      HAVING count(*) > 1
         AND count(*) <= greatest({CAP_FLOOR},
                                  (SELECT count(*) FROM documents)
                                    // {CAP_DIVISOR})
    ),
    occf AS (SELECT occ.* FROM occ JOIN keep USING (h)),
    pairs AS (
      SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb
      FROM occf a JOIN occf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, pa - pb AS diag, pa,
             row_number() OVER (
               PARTITION BY da, db, pa - pb ORDER BY pa
             ) AS rn
      FROM pairs
    ),
    islands AS (
      SELECT da, db, diag, min(pa) AS pa0, count(*) AS run
      FROM runs GROUP BY da, db, diag, pa - rn
    )
"""


@query(
    "q_lcs_overlap",
    oracle=f"""
    WITH {_DIAG_RUNS_SQL}
    SELECT da AS doc_a, db AS doc_b,
           CAST(max(run) + {LCS_GRAM} - 1 AS BIGINT) AS lcs_tokens
    FROM islands GROUP BY 1, 2
    HAVING max(run) + {LCS_GRAM} - 1 >= {MIN_LCS_TOKENS}
    """,
)
def q_lcs_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common token-run per document pair (ExactSubstr-style).

    A shared token run of length L >= {LCS_GRAM} appears as L-K+1
    consecutive shared k-grams on one (doc_a, doc_b, pos_a - pos_b)
    DIAGONAL, so the longest exact overlap is K-1 + the longest
    consecutive-position island of shared k-grams per diagonal — the
    gaps-and-islands trick applied to the k-gram match matrix. Exact
    for every overlap >= K tokens, and fully SQL-expressible, unlike
    the suffix-array formulation it replaces.

    Scale: sliding k-grams are built array-side behind a Generate
    barrier (zero shuffle — see _diag_islands); candidate pairs come
    from bucket-collect on the gram digest with posting lists capped
    at max(16, n_docs/200) occurrences BEFORE the C(df,2) explosion —
    stop-grams are dropped, bounding the largest task. Island
    detection windows partition on (doc_a, doc_b, diag), bounded by
    document length.
    """
    islands = _diag_islands(spark, sf_dir)
    return (
        islands.groupBy(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
        )
        .agg((F.max("run") + F.lit(LCS_GRAM - 1)).alias("lcs_tokens"))
        .filter(F.col("lcs_tokens") >= MIN_LCS_TOKENS)
    )


def _diag_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return diag_islands_df(table_parallel(spark, sf_dir, "documents"))


def diag_islands_df(docs: DataFrame) -> DataFrame:
    """(da, db, diag, pa0, run): maximal consecutive-shared-k-gram
    islands per cross-doc diagonal — the Spark twin of _DIAG_RUNS_SQL.
    ``pa0`` is the island's first gram position in doc_a (so the doc_b
    span starts at pa0 - diag); ``run`` its gram count (span length in
    tokens = run + LCS_GRAM - 1)."""
    # sliding k-grams built ARRAY-SIDE behind a Generate barrier (same
    # trick as _chunk_lines): zero shuffle — the lead-window form this
    # replaces needed an Exchange(doc_id) + Sort of the whole token
    # table before the first gram existed. Verified row-identical.
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    grams = F.when(
        F.size("t") >= LCS_GRAM,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - LCS_GRAM),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, F.lit(LCS_GRAM))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toks.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", F.md5("gram").alias("h"))
    # bucket-collect with in-plan cap (cheap scalar from the base table)
    cap = docs.agg(_auto_cap(F.count("*")).alias("df_cap"))
    buckets = (
        g.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "pos"))).alias("occ"))
        .filter(F.size("occ") > 1)
    )
    pairs = (
        _cap_buckets(buckets, "occ", cap)
        .select(F.explode(sorted_pairs("occ", "a", "b")).alias("pr"))
        .select(
            F.col("pr.a.doc_id").alias("da"),
            F.col("pr.a.pos").alias("pa"),
            F.col("pr.b.doc_id").alias("db"),
            F.col("pr.b.pos").alias("pb"),
        )
        .filter(F.col("da") != F.col("db"))
    )
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    wr = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = pairs.select("da", "db", diag, "pa").withColumn(
        "isl", F.col("pa") - F.row_number().over(wr)
    )
    return runs.groupBy("da", "db", "diag", "isl").agg(
        F.min("pa").alias("pa0"), F.count("*").alias("run")
    )


# Span-removal tail shared by every "cut these token intervals out of
# the document" oracle: overlapping [s, e) spans are merged per doc
# (classic running-max interval merge), tokens covered by a merged span
# are flagged, and the document is reassembled from the survivors.
# Callers provide a ``spans(doc_id, s, e)`` CTE; ``tok`` comes from
# _GRAM_SQL.
#
# The DISTINCT before the merge is load-bearing, not cosmetic: the same
# (doc_id, s, e) interval routinely arrives twice (one span shared with
# two partner docs, or two diagonals covering one repeat), and with
# tied (s, e) rows the prev_max and grp windows are evaluated as TWO
# independent sorts — the tie order between the row carrying
# prev_max=NULL and its twin carrying prev_max=e is engine-arbitrary,
# and the unlucky order starts a second interval group, duplicating the
# merged span and double-counting every covered token (observed
# nondeterministically in DuckDB: n_removed flipping 4↔8 run-to-run).
# Distinct intervals make the (s, e) sort tie-free, hence
# deterministic in both engines.
_SPAN_REMOVAL_TAIL_SQL = """
    marked AS (
      SELECT doc_id, s, e,
             max(e) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM (SELECT DISTINCT doc_id, s, e FROM spans) spans
    ),
    grouped AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS grp
      FROM marked
    ),
    merged AS (
      SELECT doc_id, min(s) AS s, max(e) AS e
      FROM grouped GROUP BY doc_id, grp
    ),
    toks AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) - 1 AS pos
      FROM tok
    ),
    flagged AS (
      SELECT tk.doc_id, tk.pos, tk.tok, m.s
      FROM toks tk
      LEFT JOIN merged m
        ON m.doc_id = tk.doc_id AND tk.pos >= m.s AND tk.pos < m.e
    )
    SELECT doc_id,
           coalesce(
             string_agg(tok, ' ' ORDER BY pos) FILTER (s IS NULL), ''
           ) AS clean_text,
           count(*) FILTER (s IS NOT NULL) AS n_removed
    FROM flagged GROUP BY doc_id
"""


def remove_spans(toks: DataFrame, spans: DataFrame) -> DataFrame:
    """Spark twin of _SPAN_REMOVAL_TAIL_SQL: merge overlapping [s, e)
    token intervals per doc and reassemble each document without the
    covered positions. ``toks`` is (doc_id, pos, tok) with 0-based
    positions; ``spans`` is (doc_id, s, e).

    Scale: spans per doc are few and short (windows partition on
    doc_id — bounded by document length); the flagging join is tokens ⋈
    merged-spans on doc_id + range predicate, co-partitioned on the doc
    key; final reassembly reuses the (doc_id)-grouped sorted concat
    from the line dedup family.
    """
    wm = Window.partitionBy("doc_id").orderBy("s", "e")
    # distinct BEFORE the merge windows — see _SPAN_REMOVAL_TAIL_SQL:
    # duplicate (doc_id, s, e) intervals make the (s, e) sort tied and
    # the two-window group assignment engine-arbitrary
    marked = spans.select("doc_id", "s", "e").distinct().withColumn(
        "prev_max",
        F.max("e").over(wm.rowsBetween(Window.unboundedPreceding, -1)),
    )
    grouped = marked.withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).over(wm.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grouped.groupBy("doc_id", "grp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    flagged = toks.join(
        merged,
        (toks["doc_id"] == merged["doc_id"])
        & (F.col("pos") >= F.col("s"))
        & (F.col("pos") < F.col("e")),
        "left",
    ).select(toks["doc_id"], "pos", "tok", "s")
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("s").isNull(), F.struct("pos", "tok"))
                    )
                ),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.when(F.col("s").isNotNull(), 1)).alias("n_removed"),
    )


def _remove_overlaps_oracle(min_tokens: int) -> str:
    return f"""
    WITH {_DIAG_RUNS_SQL},
    spans AS (
      SELECT db AS doc_id, pa0 - diag AS s,
             pa0 - diag + run + {LCS_GRAM} - 1 AS e
      FROM islands
      WHERE run + {LCS_GRAM} - 1 >= {min_tokens}
    ),
    {_SPAN_REMOVAL_TAIL_SQL}
    """


def _remove_overlaps_impl(
    spark: SparkSession, sf_dir: str, min_tokens: int
) -> DataFrame:
    return remove_overlaps_df(
        table_parallel(spark, sf_dir, "documents"), min_tokens
    )


def remove_overlaps_df(docs: DataFrame, min_tokens: int) -> DataFrame:
    islands = diag_islands_df(docs)
    spans = islands.filter(
        F.col("run") + F.lit(LCS_GRAM - 1) >= min_tokens
    ).select(
        F.col("db").alias("doc_id"),
        (F.col("pa0") - F.col("diag")).alias("s"),
        (F.col("pa0") - F.col("diag") + F.col("run") + F.lit(LCS_GRAM - 1)).alias(
            "e"
        ),
    )
    return remove_spans(_exploded_tokens(docs), spans)


@query("q_remove_overlaps", oracle=_remove_overlaps_oracle(MIN_LCS_TOKENS))
def q_remove_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (the second half of Lee et al. 2022): every
    token span of >= {MIN_LCS_TOKENS} tokens that also appears in an
    earlier document (doc_a < doc_b) is cut from the LATER document;
    the earlier occurrence survives. Spans from q_lcs_overlap's
    diagonal islands are projected onto doc_b coordinates, merged per
    document, and the document is reassembled without the covered
    positions (see remove_spans for the scale posture).

    The 8-token floor is a deliberately conservative miniature of the
    published setting — Lee et al. 2022 use a 50-token minimum match;
    q_remove_overlaps_short is the floor-of-the-method twin.
    """
    return _remove_overlaps_impl(spark, sf_dir, MIN_LCS_TOKENS)


@query("q_remove_overlaps_short", oracle=_remove_overlaps_oracle(LCS_GRAM))
def q_remove_overlaps_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-span twin of q_remove_overlaps: the removal floor drops to
    {LCS_GRAM} tokens — the k-gram machinery's structural minimum (a
    single shared 4-gram IS a 4-token span; anything shorter produces
    no gram match at all, and published ExactSubstr floors are far
    HIGHER — 50 tokens in Lee et al. 2022 — so 4 is the method's hard
    lower bound, not a tunable). Same diagonal islands, same interval
    merge; only the threshold differs, so every shared 4-to-7-token
    run that q_remove_overlaps leaves in place is cut here too — the
    aggressive end of the dedup ladder for boilerplate-heavy corpora.
    """
    return _remove_overlaps_impl(spark, sf_dir, LCS_GRAM)


# Intra-document repeated-span removal: per-(doc, gram) posting lists
# above this occurrence count are dropped before self-pair generation —
# the same stop-feature logic as the corpus-level caps, but doc-local.
# A gram repeating >32 times inside ONE document is degenerate
# boilerplate whose C(n,2) self-pairs would dominate the doc's cost;
# such documents are the ones q_gopher_rules / q_repetition_ratio
# reject wholesale anyway.
INTRA_GRAM_CAP = 32
MIN_INTRA_TOKENS = 8

_INTRA_ORACLE = f"""
    WITH {_GRAM_SQL},
    ikeep AS (
      SELECT doc_id, h FROM occ GROUP BY 1, 2
      HAVING count(*) > 1 AND count(*) <= {INTRA_GRAM_CAP}
    ),
    iocc AS (SELECT occ.* FROM occ JOIN ikeep USING (doc_id, h)),
    ipairs AS (
      SELECT a.doc_id, a.pos AS pe, b.pos AS pl
      FROM iocc a
      JOIN iocc b
        ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos
    ),
    iruns AS (
      SELECT doc_id, pl - pe AS diag, pl,
             row_number() OVER (
               PARTITION BY doc_id, pl - pe ORDER BY pl
             ) AS rn
      FROM ipairs
    ),
    iislands AS (
      SELECT doc_id, diag, min(pl) AS pl0, count(*) AS run
      FROM iruns GROUP BY doc_id, diag, pl - rn
    ),
    spans AS (
      SELECT doc_id, pl0 AS s, pl0 + run + {LCS_GRAM} - 1 AS e
      FROM iislands
      WHERE run + {LCS_GRAM} - 1 >= {MIN_INTRA_TOKENS}
    ),
    {_SPAN_REMOVAL_TAIL_SQL}
    """


def intra_doc_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, s, e): token intervals that repeat an EARLIER span of
    the same document — the within-doc twin of the cross-doc diagonal
    islands. For every k-gram occurring 2..{INTRA_GRAM_CAP} times in a
    doc, all later-vs-earlier position pairs land on a (doc_id,
    pl - pe) diagonal; maximal consecutive-later-position islands of
    length run cover a repeated span of run + K - 1 tokens starting at
    the island's first later position. Spans below {MIN_INTRA_TOKENS}
    tokens are kept (Gopher-style natural repetition), longer ones are
    returned for removal.

    Scale: every stage is doc-local — the (doc_id, h) posting-list
    groupBy, the self-pair fanout (bounded by doc length × cap), and
    the (doc_id, diag) island window all partition on the doc key, so
    a 100 TB corpus shards perfectly by document and no stage sees
    cross-doc state. Contrast _diag_islands, whose buckets are
    corpus-global by construction.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    grams = F.when(
        F.size("t") >= LCS_GRAM,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - LCS_GRAM),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, F.lit(LCS_GRAM))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toks.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", F.md5("gram").alias("h"))
    buckets = (
        g.groupBy("doc_id", "h")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps"))
        .filter((F.size("ps") > 1) & (F.size("ps") <= INTRA_GRAM_CAP))
    )
    pairs = buckets.select(
        "doc_id", F.explode(sorted_pairs("ps", "pe", "pl")).alias("pr")
    ).select("doc_id", "pr.pe", "pr.pl")
    diag = (F.col("pl") - F.col("pe")).alias("diag")
    wr = Window.partitionBy("doc_id", "diag").orderBy("pl")
    runs = pairs.select("doc_id", diag, "pl").withColumn(
        "isl", F.col("pl") - F.row_number().over(wr)
    )
    islands = runs.groupBy("doc_id", "diag", "isl").agg(
        F.min("pl").alias("pl0"), F.count("*").alias("run")
    )
    return islands.filter(
        F.col("run") + F.lit(LCS_GRAM - 1) >= MIN_INTRA_TOKENS
    ).select(
        "doc_id",
        F.col("pl0").alias("s"),
        (F.col("pl0") + F.col("run") + F.lit(LCS_GRAM - 1)).alias("e"),
    )


def intra_doc_dedup(docs: DataFrame) -> DataFrame:
    """DataFrame-level q_intra_doc_dedup — see the query docstring."""
    return remove_spans(_exploded_tokens(docs), intra_doc_spans(docs))


@query("q_intra_doc_dedup", oracle=_INTRA_ORACLE)
def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-span REMOVAL — the cleanup rung between
    line-level dedup (q_dedup_lines: cross-corpus first-occurrence) and
    corpus-level near-dup (MinHash/SimHash ladders): a token span of
    >= {MIN_INTRA_TOKENS} tokens that already occurred EARLIER in the
    SAME document is cut at its later position(s); the first occurrence
    survives. q_repetition_ratio *flags* Gopher-style repetition —
    this operator is the surgical counterpart that repairs the document
    instead of discarding it.

    Same gaps-and-islands machinery as q_remove_overlaps, restricted to
    within-doc self-pairs (pe < pl on the pl - pe diagonal), so every
    stage partitions on doc_id and the operator shards embarrassingly
    at 100 TB. Overlapping removal intervals (periodic repeats, e.g. a
    chorus repeated back-to-back) merge before removal, so each
    position is cut at most once. Output: (doc_id, clean_text,
    n_removed) — one row per document, including untouched ones.
    """
    return intra_doc_dedup(table_parallel(spark, sf_dir, "documents"))


def _lcs_token_len(a: list, b: list) -> int:
    """Exact longest-common-substring length (in tokens) via a suffix
    automaton of ``a`` traversed by ``b`` — O(|a|+|b|) states/steps,
    the linear-time algorithm the k-gram diagonal form approximates
    from below. Pure Python on token lists; called only inside the
    Arrow-batched pandas UDF of q_lcs_overlap_short."""
    if not a or not b:
        return 0
    # suffix-automaton construction over the token alphabet
    nxt: list[dict] = [{}]
    link = [-1]
    length = [0]
    last = 0
    for ch in a:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        nxt.append({})
        p = last
        while p != -1 and ch not in nxt[p]:
            nxt[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = nxt[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                nxt.append(dict(nxt[q]))
                while p != -1 and nxt[p].get(ch) == q:
                    nxt[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # traverse with b, tracking the longest match ending at each step
    v = l = best = 0
    for ch in b:
        while v and ch not in nxt[v]:
            v = link[v]
            l = length[v]
        if ch in nxt[v]:
            v = nxt[v][ch]
            l += 1
            if l > best:
                best = l
        else:
            v = l = 0
    return best


_LCS_SHORT_ORACLE = """
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
    ),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bk a
      JOIN bk b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    tok AS (SELECT doc_id, {TOK} AS t FROM documents),
    toks AS (
      SELECT doc_id, unnest(t) AS tk,
             unnest(generate_series(1, len(t))) - 1 AS pos
      FROM tok
    ),
    m AS (
      SELECT p.doc_a, p.doc_b, ta.pos AS pa, tb.pos AS pb
      FROM prs p
      JOIN toks ta ON ta.doc_id = p.doc_a
      JOIN toks tb ON tb.doc_id = p.doc_b AND tb.tk = ta.tk
    ),
    runs AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
             row_number() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa
             ) AS rn
      FROM m
    ),
    isl AS (
      SELECT doc_a, doc_b, max(cnt) AS best FROM (
        SELECT doc_a, doc_b, count(*) AS cnt
        FROM runs GROUP BY doc_a, doc_b, diag, pa - rn
      ) GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(coalesce(i.best, 0) AS BIGINT) AS lcs_tokens
    FROM prs p LEFT JOIN isl i USING (doc_a, doc_b)
"""


@query(
    "q_lcs_overlap_short",
    oracle=_LCS_SHORT_ORACLE.format(
        MINHASH_CTES=MINHASH_CTES,
        CAP_FLOOR=CAP_FLOOR,
        CAP_DIVISOR=CAP_DIVISOR,
        TOK=_TOK,
    ),
)
def q_lcs_overlap_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT longest common token-substring per near-dup candidate pair
    — no length floor. q_lcs_overlap's k-gram diagonals are blind below
    {LCS_GRAM} tokens by construction; this closes that blind spot for
    the pairs that matter (MinHash-LSH capped candidates — the same
    nomination stage the dedup ladder already trusts) by computing the
    true LCS with a suffix automaton (O(|a|+|b|) per pair) instead of
    k-gram seeds.

    Spark-first split: candidate nomination, token extraction, and the
    pair⋈docs joins are declarative (AQE-planned, capped buckets); only
    the per-pair automaton is Python — an Arrow-batched pandas UDF,
    the legitimate escape hatch since linear-time LCS is not
    SQL-expressible (the oracle uses the O(n·m/vocab) single-token
    diagonal-runs form, exact but quadratic — fine at oracle SF, wrong
    at 100 TB). The pair frame is round-robin repartitioned before the
    UDF: its shuffle BYTES are small but per-row work amplifies, the
    AQE-coalesce trap measured on q_triangle_count.

    Cross-engine exactness: LCS length == the longest consecutive run
    of shared single tokens on one (pa - pb) diagonal — integer, no
    rounding; property-tested against brute force and the automaton in
    tests/test_linedup.py.
    """
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    @F.pandas_udf("bigint")
    def lcs_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _lcs_token_len(
                    list(x) if x is not None else [],
                    list(y) if y is not None else [],
                )
                for x, y in zip(ta, tb)
            ],
            dtype="int64",
        )

    pairs = minhash_candidate_pairs(spark, sf_dir, bucket_cap="auto").select(
        "doc_a", "doc_b"
    )
    docs = table_parallel(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    fanout = spark.sparkContext.defaultParallelism
    return j.repartition(fanout).select(
        "doc_a", "doc_b", lcs_udf("ta", "tb").alias("lcs_tokens")
    )
