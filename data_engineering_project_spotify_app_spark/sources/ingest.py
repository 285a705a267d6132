"""Ingest/load parity with the reference's staging + load path.

Reference flow (SURVEY.md §2.1 S6/S7):
- S6  sink: one JSON object per entity row under ``{entity}/{id}.json``
  in the staging bucket (app.py:84–92, 204–208);
- S7  load: ``bq load --source_format=NEWLINE_DELIMITED_JSON --replace``
  into schema-declared tables (README.md:185–204).

Spark mapping:
- ``stage_entity``     → ``df.write.json(dir)`` — NDJSON part-files per
  entity folder. The semantic contract (every row lands exactly once
  under its entity folder, readable back with the declared schema) is
  what round-trip tests pin down; one-FILE-per-row parity is an
  anti-pattern at scale (100 TB = billions of tiny objects) and is
  provided separately as ``stage_entity_keyed`` for small dimension
  snapshots only.
- ``load_entity_quarantine`` → schema'd PERMISSIVE NDJSON read →
  ``mode("overwrite")`` parquet table, with truncated or un-castable
  lines split off to a quarantine sink instead of landing as null rows.
  Spark's file-commit protocol makes the overwrite job-atomic — an
  intentional upgrade over the reference's non-atomic partial-upload
  failure mode (app.py:203–211, SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.schemas import (
    ENTITY_SCHEMAS,
    coalesce_repeated,
)


def stage_entity(df: DataFrame, staging_dir: str, entity: str) -> str:
    """S6: write rows as NDJSON under ``{staging_dir}/{entity}/``.

    Directory-per-entity mirrors the reference's folder routing
    (``albums/`` vs ``tracks`` — app.py:207). Nulls are dropped on the
    primary key first (P2/P3 semantics, app.py:188, 205–206).
    """
    out = f"{staging_dir}/{entity}"
    df.filter(F.col("id").isNotNull()).write.mode("overwrite").json(out)
    return out


def stage_entity_keyed(df: DataFrame, staging_dir: str, entity: str) -> str:
    """S6 exact-layout variant: one ``{id}.json`` object per row.

    Layout parity with app.py:204–208 (single JSON object per file,
    keyed filename), written DISTRIBUTED through the ``keyed_json``
    DataSource batch writer: every partition writes its own rows
    (write-then-rename per object, commit manifest, abort cleanup) — no
    driver-side row iteration anywhere. The layout itself remains the
    small-files anti-pattern at 100 TB, which is why ``stage_entity``
    (part-file NDJSON) is the default sink; keep this for dimension
    snapshots where per-key object addressing is the contract.
    """
    from data_engineering_project_spotify_app_spark.sources.keyed_json_source import (
        KeyedJsonDataSource,
    )

    spark = df.sparkSession
    spark.dataSource.register(KeyedJsonDataSource)
    out = f"{staging_dir}/{entity}"
    (
        df.filter(F.col("id").isNotNull())
        .write.format("keyed_json")
        .option("path", out)
        .mode("append")
        .save()
    )
    return out


def load_entity_quarantine(
    spark: SparkSession,
    staging_dir: str,
    entity: str,
    warehouse_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """S7 with bad-record QUARANTINE instead of fail-or-corrupt.

    The reference's load either hard-fails the whole `bq load` or lets
    BigQuery drop bad rows (README.md:185–204 gives no bad-record
    story). The production pattern at 100 TB: PERMISSIVE read with
    ``columnNameOfCorruptRecord`` — malformed lines (truncated JSON, or
    a value that can't cast to the declared type) land whole in a
    quarantine column instead of killing the job — then split the
    frame: clean rows land in the warehouse table, corrupt raw lines
    land in ``{entity}__quarantine`` for replay/inspection. REPEATED
    fields are coalesced to empty arrays (BQ semantics, SURVEY.md
    §1.3); ``--replace`` maps to ``mode("overwrite")``. Returns
    (clean, quarantined).

    One pass over the staging files; the split is two filters over the
    same cached read (corrupt rows are the rare side, so the second
    scan is cheap and keeps the path declarative). The clean table is
    read back with the schema just written, which skips the
    footer-reading job of schema inference.
    """
    from pyspark.sql import types as T

    schema = ENTITY_SCHEMAS[entity]
    with_cr = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(with_cr)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{staging_dir}/{entity}")
        # cache REQUIRED: Spark disallows queries that reference only
        # the internal corrupt-record column of a raw JSON read
        # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
        # parsed result must be materialized before the split
        .cache()
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    clean = coalesce_repeated(
        df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record"),
        schema,
    )
    target = f"{warehouse_dir}/{entity}"
    clean.write.mode("overwrite").parquet(target)
    bad.write.mode("overwrite").json(f"{warehouse_dir}/{entity}__quarantine")
    quarantined = spark.read.json(
        f"{warehouse_dir}/{entity}__quarantine",
        schema="raw string",
    )
    df.unpersist()  # both sinks are durable; drop the split cache
    return (spark.read.schema(clean.schema).parquet(target), quarantined)


def load_all_entities(
    spark: SparkSession, staging_dir: str, warehouse_dir: str
) -> dict[str, DataFrame]:
    """The reference's three-table load loop (README.md:185–204): the
    clean table of each entity's quarantining load."""
    return {
        entity: load_entity_quarantine(
            spark, staging_dir, entity, warehouse_dir
        )[0]
        for entity in ENTITY_SCHEMAS
    }


def expire_staging(
    spark: SparkSession,
    staging_dir: str,
    entity: str,
    ttl_days: int = 7,
    now=None,
) -> DataFrame:
    """S9: staging retention — the GCS lifecycle TTL as an engine pass.

    The reference expires staged objects after ``staging_file_ttl_days``
    = 7 via a bucket lifecycle rule (terraform/main.tf:50–57,
    terraform.tfvars:7). File-granular deletes don't map to a columnar
    engine; the equivalent is a retention *filter* on the staged rows'
    ingest time. Returns the surviving rows (callers rewrite the staging
    area, or at scale: drop whole date partitions, which is a metadata
    operation when staging is partitioned by ingest_date — the reason
    stage_entity at 100 TB should partitionBy ingest_date).
    """
    from pyspark.sql import functions as F  # local to keep module header slim

    df = spark.read.json(f"{staging_dir}/{entity}")
    now_col = F.lit(now).cast("timestamp") if now else F.current_timestamp()
    if "ingest_ts" not in df.columns:
        # legacy staging without the sidecar: everything survives
        return df
    return df.filter(
        F.col("ingest_ts").cast("timestamp")
        >= F.timestamp_add("DAY", F.lit(-ttl_days), now_col)
    )


def land_partitioned(
    df: DataFrame, warehouse_dir: str, name: str, partition_col: str
) -> str:
    """Land a table partitioned by a derived date column (100 TB layout).

    The warehouse posture for big fact tables: hive-style
    ``{name}/{partition_col}=.../part-*.parquet`` so date-range predicates
    become partition PRUNING (directories never opened) instead of row
    filtering. tests/test_partition_pruning.py asserts the plan shows
    PartitionFilters and reads only matching partitions.
    """
    target = f"{warehouse_dir}/{name}"
    df.write.mode("overwrite").partitionBy(partition_col).parquet(target)
    return target


def compact_entity(
    spark: SparkSession,
    staging_dir: str,
    entity: str,
    target_files: int = 1,
) -> str:
    """Small-files compaction for a staged entity folder — the
    operational counterpart of S6/S9: high-frequency staging (or the
    keyed one-object-per-row layout) accretes thousands of tiny
    objects, and at 100 TB listing+opening them dominates every
    downstream scan. Rewrite the folder as ``target_files`` part files.

    Safety protocol (the part the naive version gets wrong): never
    overwrite a directory you are lazily reading from — Spark reads are
    lazy, so ``read.json(d).write.overwrite(d)`` deletes its own input
    before the first task runs. Write to a ``{entity}__compacting``
    sibling first (job-atomic via the file-commit protocol), then swap
    directories; the swap window is two renames instead of a full
    rewrite. Returns the entity directory path.

    Sizing: ``target_files`` should come from bytes/128 MB at real
    scale; ``repartition`` (not ``coalesce``) so the write
    parallelizes and output files are even — this is a maintenance job
    where the shuffle is the point.
    """
    import shutil

    src = f"{staging_dir}/{entity}"
    tmp = f"{staging_dir}/{entity}__compacting"
    old = f"{staging_dir}/{entity}__old"
    df = spark.read.json(src)
    n_in = df.count()
    df.repartition(target_files).write.mode("overwrite").json(tmp)
    # Verify the compacted output BEFORE touching src: a bad write must
    # never cost the original data.
    n_out = spark.read.json(tmp).count()
    if n_out != n_in:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_entity({entity}): compacted row count {n_out} != "
            f"input {n_in}; src left untouched"
        )
    shutil.rmtree(old, ignore_errors=True)
    shutil.move(src, old)
    try:
        shutil.move(tmp, src)
    except BaseException:
        # Crash window between the two renames: restore src from the
        # backup so readers never see a missing entity directory.
        shutil.move(old, src)
        raise
    # Only after the swap is verified on disk do we drop the backup.
    if not os.path.isdir(src):  # pragma: no cover - belt and braces
        shutil.move(old, src)
        raise RuntimeError(f"compact_entity({entity}): swap failed")
    shutil.rmtree(old)
    return src
