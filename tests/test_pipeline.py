"""Tests for the reference-equivalent ETL DAG (plans/pipeline.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.plans.pipeline import artist_etl
from data_engineering_project_spotify_app_spark.schemas import (
    ALBUMS_SCHEMA,
    ARTISTS_SCHEMA,
    TRACKS_SCHEMA,
)
from tests.spotify_fixtures import album, artist, build_catalog


def _frames(spark, extra_artists=(), extra_albums=()):
    artists, albums_, tracks_ = build_catalog(n_artists=6, albums_per_artist=4)
    return (
        spark.createDataFrame(artists + list(extra_artists), schema=ARTISTS_SCHEMA),
        spark.createDataFrame(albums_ + list(extra_albums), schema=ALBUMS_SCHEMA),
        spark.createDataFrame(tracks_, schema=TRACKS_SCHEMA),
    )


def test_full_pipeline_counts(spark):
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums, tracks, "Artist 2")

    assert res.artist.count() == 1
    assert res.artist.first()["id"] == "ar002"
    # catalog: 4 albums per artist, 3 tracks per album
    assert res.albums.count() == 4
    assert res.tracks.count() == 12
    s = res.summary.first()
    assert s["artist_name"] == "Artist 2"
    assert s["albums_stored"] == 4
    assert s["tracks_stored"] == 12


def test_search_miss_yields_empty(spark):
    """P5: empty search result — engine yields empty frames, not a crash
    (the reference raises ValueError at app.py:144; job-level validation
    is the caller's choice)."""
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums, tracks, "No Such Artist")
    assert res.artist.count() == 0
    assert res.albums.count() == 0
    assert res.summary.count() == 0


def test_tracks_carry_injected_album_id(spark):
    """J2: every track row carries its parent album key (README.md:18)."""
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums, tracks, "Artist 0")
    bad = res.tracks.filter(
        F.col("album_id").isNull() | (F.col("album_id") != F.col("album.id"))
    )
    assert bad.count() == 0


def test_dedup_before_enrich(spark):
    """A1/O1: duplicate album references dedup to one enriched row
    (set() at app.py:164)."""
    artists, albums, tracks = _frames(spark)
    # duplicate the album rows (as if re-paginated twice) — enrichment
    # input has dups, output must not
    res = artist_etl(artists, albums.unionByName(albums), tracks, "Artist 1")
    ids = [r["id"] for r in res.albums.select("id").collect()]
    # left_semi against deduped ids keeps the duplicated full rows only
    # once per underlying album id set
    assert len(set(ids)) == 4


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_request_plans_filter_on_the_resolved_id_set(spark):
    """The point lookup is resolved once when the request is built; the
    enriched frames are literal-set filters (no join, no exchange) and
    the summary is one global aggregate (one exchange)."""
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums, tracks, "Artist 2")
    for df in (res.albums, res.tracks):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in optimized, optimized
        assert "Exchange" not in _plan(df), _plan(df)
    assert _plan(res.summary).count("Exchange") == 1, _plan(res.summary)


def test_search_miss_summary_runs_no_job(spark):
    """A miss's summary folds to an empty local relation: ``first()``
    returns None without launching a Spark job."""
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums, tracks, "No Such Artist")
    sc = spark.sparkContext
    group = "test_search_miss_summary_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        assert res.summary.first() is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_artist_without_albums_gets_zero_counts(spark):
    artists, albums, tracks = _frames(spark, [artist(42)])
    res = artist_etl(artists, albums, tracks, "Artist 42")
    assert tuple(res.summary.first()) == ("Artist 42", 0, 0)
    assert res.albums.count() == 0 and res.tracks.count() == 0


def test_album_listing_the_artist_twice_counts_once(spark):
    artists, albums, tracks = _frames(
        spark, extra_albums=[album(99, ["ar001", "ar001"])]
    )
    res = artist_etl(artists, albums, tracks, "Artist 1")
    # the catalog's 4 albums with their 12 tracks, plus the new album
    # (its tracks are embedded only, the tracks table has none)
    assert tuple(res.summary.first()) == ("Artist 1", 5, 12)


def test_duplicated_album_rows_are_each_stored(spark):
    """Duplicated album rows each pass the id filter: both copies are
    stored and counted."""
    artists, albums, tracks = _frames(spark)
    res = artist_etl(artists, albums.unionByName(albums), tracks, "Artist 1")
    assert tuple(res.summary.first()) == ("Artist 1", 8, 12)


def test_summary_schema_is_the_same_for_hit_and_miss(spark):
    artists, albums, tracks = _frames(spark)
    want = [
        ("artist_name", "string"),
        ("albums_stored", "bigint"),
        ("tracks_stored", "bigint"),
    ]
    for name in ("Artist 3", "No Such Artist"):
        assert artist_etl(artists, albums, tracks, name).summary.dtypes == want
