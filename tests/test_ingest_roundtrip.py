"""Golden round-trip tests for the ingest layer (SURVEY.md §5.2).

NDJSON staging → schema'd load → overwrite table → re-read == input;
plus the BQ-semantics edge cases: missing REPEATED → empty array, extra
unknown fields dropped by the declared schema, null-id rows filtered by
the sink, keyed one-object-per-row layout parity.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.schemas import (
    ARTISTS_SCHEMA,
    release_date_as_date,
)
from data_engineering_project_spotify_app_spark.sources.ingest import (
    load_all_entities,
    load_entity_quarantine,
    stage_entity,
    stage_entity_keyed,
)
from tests.spotify_fixtures import artist, build_catalog, write_staging


def test_roundtrip_all_entities(spark, tmp_path):
    artists, albums_, tracks_ = build_catalog()
    staging = str(tmp_path / "staging")
    warehouse = str(tmp_path / "warehouse")
    write_staging(staging, artists, albums_, tracks_)

    loaded = load_all_entities(spark, staging, warehouse)
    assert loaded["artists"].count() == len(artists)
    assert loaded["albums"].count() == len(albums_)
    assert loaded["tracks"].count() == len(tracks_)

    # 3-level nesting survived: albums.tracks.items[].artists[].id
    n_nested_artists = (
        loaded["albums"]
        .select(F.explode("tracks.items").alias("it"))
        .select(F.explode("it.artists").alias("a"))
        .filter(F.col("a.id").isNotNull())
        .count()
    )
    assert n_nested_artists > 0

    # re-stage the loaded frame and re-load: fixpoint (schema'd round-trip)
    staging2 = str(tmp_path / "staging2")
    stage_entity(loaded["albums"], staging2, "albums")
    reloaded, _ = load_entity_quarantine(
        spark, staging2, "albums", str(tmp_path / "wh2")
    )
    assert reloaded.count() == len(albums_)
    a = sorted(loaded["albums"].select("id", "total_tracks").collect())
    b = sorted(reloaded.select("id", "total_tracks").collect())
    assert a == b


def test_missing_repeated_is_empty_array_not_null(spark, tmp_path):
    """BQ REPEATED semantics (SURVEY.md §1.3 item 2)."""
    row = artist(1)
    del row["genres"]  # missing repeated field in the staged JSON
    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    (d / "p.json").write_text(json.dumps(row) + "\n")

    loaded, _ = load_entity_quarantine(
        spark, str(tmp_path / "staging"), "artists", str(tmp_path / "wh")
    )
    got = loaded.select("genres").first()[0]
    assert got == []  # empty array, NOT None


def test_unknown_fields_dropped_by_declared_schema(spark, tmp_path):
    """Lenient extraction, strict landing (SURVEY.md §1.2)."""
    row = artist(2)
    row["totally_new_api_field"] = {"x": 1}
    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    (d / "p.json").write_text(json.dumps(row) + "\n")

    loaded, _ = load_entity_quarantine(
        spark, str(tmp_path / "staging"), "artists", str(tmp_path / "wh")
    )
    assert loaded.columns == [f.name for f in ARTISTS_SCHEMA.fields]


def test_null_id_rows_filtered_at_sink(spark, tmp_path):
    """P2/P3: the sink drops null-key rows (app.py:188, 205-206).

    In-flight rows are lenient (nullable id — the reference's dicts);
    strictness applies at landing, which is exactly why the sink filters.
    """
    import pyspark.sql.types as T

    lenient = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in ARTISTS_SCHEMA.fields]
    )
    rows = [artist(1), artist(2, id=None)]
    df = spark.createDataFrame(rows, schema=lenient)
    out = stage_entity(df, str(tmp_path / "stage"), "artists")
    back = spark.read.schema(ARTISTS_SCHEMA).json(out)
    assert back.count() == 1


def test_keyed_sink_one_object_per_row(spark, tmp_path):
    """S6 exact layout: {entity}/{id}.json, one JSON object per file
    (app.py:204-208)."""
    rows = [artist(i) for i in range(5)]
    df = spark.createDataFrame(rows, schema=ARTISTS_SCHEMA)
    out = stage_entity_keyed(df, str(tmp_path / "stage"), "artists")
    files = sorted(f for f in os.listdir(out) if f.endswith(".json"))
    assert files == [f"ar{i:03d}.json" for i in range(5)]
    payload = json.loads(open(os.path.join(out, "ar001.json")).read())
    assert payload["id"] == "ar001"
    # distributed writer's commit manifest records every object written
    manifest = open(os.path.join(out, "_MANIFEST")).read().split()
    assert sorted(manifest) == files


def test_release_date_precision_matrix(spark):
    """§1.3 item 1: year/month/day precisions anchor correctly."""
    rows = [
        ("a", "1973", "year"),
        ("b", "1994-05", "month"),
        ("c", "2001-08-15", "day"),
    ]
    df = spark.createDataFrame(
        rows, ["id", "release_date", "release_date_precision"]
    )
    got = {
        r["id"]: str(r["d"])
        for r in df.select(
            "id",
            release_date_as_date(
                F.col("release_date"), F.col("release_date_precision")
            ).alias("d"),
        ).collect()
    }
    assert got == {"a": "1973-01-01", "b": "1994-05-01", "c": "2001-08-15"}


def test_malformed_row_fails_load_like_bq(spark, tmp_path):
    """BQ load-time schema check equivalent: a row whose value can't
    cast to the declared type does not land (not even as a null field);
    its raw line goes to the quarantine sink, and the table keeps the
    declared type."""
    d = tmp_path / "staging" / "albums"
    d.mkdir(parents=True)
    bad = {"id": "al999", "total_tracks": "not-a-number"}
    good = {"id": "al001", "total_tracks": 3}
    lines = [json.dumps(good), json.dumps(bad)]
    (d / "p.json").write_text("\n".join(lines) + "\n")
    loaded, quarantined = load_entity_quarantine(
        spark, str(tmp_path / "staging"), "albums", str(tmp_path / "wh")
    )
    assert [tuple(r) for r in loaded.select("id", "total_tracks").collect()] == [
        ("al001", 3)
    ]
    assert [r["raw"] for r in quarantined.collect()] == [lines[1]]
    assert dict(loaded.dtypes)["total_tracks"] == "bigint"


def test_staging_retention_ttl(spark, tmp_path):
    """S9: rows older than the TTL are expired (main.tf:50-57 parity)."""
    import json as _json

    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    rows = [
        {**artist(1), "ingest_ts": "2026-08-01T00:00:00Z"},  # 12 days old
        {**artist(2), "ingest_ts": "2026-08-12T00:00:00Z"},  # 1 day old
    ]
    with open(d / "p.json", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    from data_engineering_project_spotify_app_spark.sources.ingest import expire_staging

    kept = expire_staging(
        spark, str(tmp_path / "staging"), "artists", ttl_days=7,
        now="2026-08-13T00:00:00",
    )
    assert [r["id"] for r in kept.select("id").collect()] == ["ar002"]


def test_corrupt_records_quarantined_not_dropped(spark, tmp_path):
    """load_entity_quarantine: malformed NDJSON lines land whole in the
    quarantine sink; clean rows load normally; nothing silently
    disappears (clean + quarantined == staged lines)."""
    stage = tmp_path / "stage" / "artists"
    os.makedirs(stage)
    good = [artist(i) for i in range(5)]
    bad_lines = ['{"id": "broken', "not json at all"]
    with open(stage / "part-0.json", "w") as fh:
        for r in good[:3]:
            fh.write(json.dumps(r) + "\n")
        fh.write(bad_lines[0] + "\n")
        for r in good[3:]:
            fh.write(json.dumps(r) + "\n")
        fh.write(bad_lines[1] + "\n")
    clean, bad = load_entity_quarantine(
        spark, str(tmp_path / "stage"), "artists", str(tmp_path / "wh")
    )
    assert sorted(r["id"] for r in clean.collect()) == sorted(
        r["id"] for r in good
    )
    quarantined = sorted(r["raw"] for r in bad.collect())
    assert quarantined == sorted(bad_lines)
    # quarantine is durable: re-readable from the warehouse sink
    replay = spark.read.json(str(tmp_path / "wh" / "artists__quarantine"))
    assert replay.count() == 2


def test_compact_entity_preserves_rows_and_shrinks_files(spark, tmp_path):
    """Compaction must preserve every row byte-for-byte and reduce the
    folder to the target part-file count; the staged path stays the
    same so downstream readers are untouched."""
    import glob
    import json as _json

    from data_engineering_project_spotify_app_spark.sources.ingest import (
        compact_entity,
    )

    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    rows = [{"id": f"a{i}", "name": f"artist {i}"} for i in range(40)]
    # 40 tiny files — the keyed / high-frequency staging shape
    for i, r in enumerate(rows):
        with open(d / f"{i}.json", "w") as fh:
            fh.write(_json.dumps(r) + "\n")

    before = spark.read.json(str(d)).collect()
    out = compact_entity(spark, str(tmp_path / "staging"), "artists", 2)
    assert out == str(d)
    after = spark.read.json(str(d)).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    parts = glob.glob(f"{d}/part-*.json")
    assert len(parts) == 2, parts
    assert not glob.glob(f"{tmp_path}/staging/artists__*")


def test_loaded_tables_read_back_with_the_inferred_schema(spark, tmp_path):
    """The load returns the table read with the schema it just wrote
    (no schema-inference job); it must equal the schema Spark infers
    from the parquet footers, so no consumer sees a different frame."""
    artists, albums_, tracks_ = build_catalog(n_artists=2, albums_per_artist=1)
    staging = str(tmp_path / "staging")
    write_staging(staging, artists, albums_, tracks_)
    warehouse = str(tmp_path / "wh")
    rows = {"artists": artists, "albums": albums_, "tracks": tracks_}
    loaded = load_all_entities(spark, staging, warehouse)
    for entity, staged in rows.items():
        inferred = spark.read.parquet(f"{warehouse}/{entity}").schema
        assert loaded[entity].schema == inferred, entity
        assert loaded[entity].count() == len(staged)


def test_load_all_entities_lands_no_bad_line(spark, tmp_path):
    """The CLI load path (load_all_entities) quarantines a truncated
    line and an un-castable one: neither lands as a null-keyed or
    null-field row in the table."""
    artists, albums_, tracks_ = build_catalog(n_artists=2, albums_per_artist=1)
    staging = str(tmp_path / "staging")
    write_staging(staging, artists, albums_, tracks_)
    bad = ['{"id": "ar900", "name": "trunc', json.dumps(
        artist(901, popularity="not-a-number")
    )]
    with open(os.path.join(staging, "artists", "part-001.json"), "w") as fh:
        fh.write("\n".join(bad) + "\n")
    loaded = load_all_entities(spark, staging, str(tmp_path / "wh"))
    got = sorted(
        tuple(r) for r in loaded["artists"].select("id", "popularity").collect()
    )
    assert got == sorted((a["id"], a["popularity"]) for a in artists)
    assert loaded["albums"].count() == len(albums_)
    assert loaded["tracks"].count() == len(tracks_)
