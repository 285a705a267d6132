"""The reference's full ETL pipeline: point lookup resolved once, then
literal-set filters.

``run_full_etl_process`` (app.py:133–220) hard-codes a physical plan:

  search artist (app.py:140–145)
    → point lookup (147–149)
    → paginate albums (152–163)
    → dedup album ids (164)
    → batch-enrich albums (167–177)
    → per-album track scan (183–189)
    → dedup + batch-enrich tracks (190–199)
    → upload JSON per entity (201–211)
    → summary counts (213–220)

Here the request resolves its two small driver-side values once, as the
reference does: the matched artist and the set of its album ids (one job
each). Everything else is declared over the entity DataFrames with those
values as literals, so the parquet scans can push the ``IN`` filters
down and the request's actions plan no join: the rest of the work is
planned from values observed at run time (Shark, SIGMOD'13), and its
hand-rolled ThreadPoolExecutor barriers become Spark stages, sized by
AQE and the executor/partition config (session.py, SURVEY.md §3).

Inputs are the landed entity tables (any source: load_all_entities over
staging NDJSON, fixture parquet, or live-API snapshots — the transport
is infrastructure, not semantics; SURVEY.md M4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class EtlResult:
    """Pipeline outputs: the enriched frames + the summary frame.

    ``summary`` is the 1-row equivalent of the reference's response dict
    (app.py:216–220): artist name, albums_stored, tracks_stored; it has
    no row when the search misses.
    """

    artist: DataFrame
    albums: DataFrame
    tracks: DataFrame
    summary: DataFrame


def artist_etl(
    artists: DataFrame,
    albums: DataFrame,
    tracks: DataFrame,
    artist_name: str,
) -> EtlResult:
    """The reference pipeline for one artist.

    Building the result runs the point lookup (one job on a miss, two on
    a hit); the returned frames are lazy.

    Stage mapping (reference → here):
    - S1 search+limit1 (app.py:140–145): name-contains filter, best
      (here: lowest-id) match first — deterministic where the API's
      relevance order was not. ``artist`` is this lazy frame; its first
      row is fetched once.
    - S4+A1 album scan and id set (152–164): the ids of the albums whose
      nested ``artists`` array holds the hit (albums_schema.json:81–99),
      collected into a Python set, as the reference keeps it at 164.
    - J1 batch enrich (167–177, 192–199): a literal ``IN`` filter on the
      full entity rows, pushed down to the scan — no join.
    - J2 parent inject (README.md:18): each track carries album_id from
      its embedded album struct (tracks_schema.json:107–170).
    - A3 summary (216–220): one global aggregate over both entities.
    """
    # S1/L1: search scan with predicate + limit 1
    matched = (
        artists.filter(F.col("name").contains(artist_name))
        .orderBy("id")
        .limit(1)
    )
    hit = matched.first()

    # S4/A1: the album-id set (an album lists the artist once per role;
    # the set dedups it, as set() does at app.py:164)
    ids = []
    if hit is not None:
        rows = albums.filter(F.exists("artists", lambda a: a["id"] == hit["id"]))
        ids = sorted({r["id"] for r in rows.select("id").collect()} - {None})

    # J1/J2 + P2: literal-set enrichment with the null-id guard before
    # the sink (app.py:188, 205–206); a null id never matches the set
    valid_albums = albums.filter(F.col("id").isin(ids))
    valid_tracks = tracks.withColumn("album_id", F.col("album.id")).filter(
        F.col("album_id").isin(ids) & F.col("id").isNotNull()
    )

    # A2/A3: the summary row. On a miss the false filter folds the plan
    # to an empty LocalRelation, so summary.first() runs no job.
    summary = (
        valid_albums.select(F.lit(True).alias("is_album"))
        .unionByName(valid_tracks.select(F.lit(False).alias("is_album")))
        .agg(
            F.lit(hit["name"] if hit else "").alias("artist_name"),
            F.count_if("is_album").alias("albums_stored"),
            F.count_if(~F.col("is_album")).alias("tracks_stored"),
        )
        .filter(F.lit(hit is not None))
    )
    return EtlResult(
        artist=matched,
        albums=valid_albums,
        tracks=valid_tracks,
        summary=summary,
    )
