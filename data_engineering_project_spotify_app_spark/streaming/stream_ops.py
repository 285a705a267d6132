"""Structured Streaming surface — the streaming twins of the batch ops.

The reference is batch/HTTP-triggered; its staging file-drop pattern
(app.py:201–211: objects appearing under ``{entity}/`` folders) is
exactly Spark's file-source streaming contract, so the engine's ingest
lifts to streaming unchanged (SURVEY.md §2.9). Every transformation here
reuses the *same* logic as its batch twin:

- ``stream_events``        — file source over an events directory
- ``tumbling_counts``      — q_tumbling_window's transformation + watermark
- ``sessionized``          — q_sessionize via session_window
- ``dedup_stream``         — A1's streaming twin (dropDuplicates + watermark)
- ``stage_watch``          — streaming quarantining load of a staged
                             entity folder

Scale notes: watermarks bound state (late data beyond the horizon is
dropped — the reference had no late-data story at all); windowed aggs
shuffle on (window, key); ``maxFilesPerTrigger`` is the streaming
equivalent of the reference's admission semaphore (app.py:36–45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spotify_app_spark.schemas import (
    ENTITY_SCHEMAS,
    coalesce_repeated,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source event stream (the staging file-drop contract)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(events_dir)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of q_tumbling_window: watermarked tumbling agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of q_sessionize via the native session_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of A1 (q_distinct): bounded-state exact dedup.

    dropDuplicates keyed by event_id with a watermark so state for keys
    older than the horizon is evicted — unbounded dedup state is the #1
    streaming OOM at scale.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stage_watch(
    spark: SparkSession, staging_dir: str, entity: str
) -> tuple[DataFrame, DataFrame]:
    """Streaming S7: watch a staged entity folder, schema-enforced, with
    bad-record quarantine. Returns (clean, quarantined) streaming frames.

    The streaming lift of ingest.load_entity_quarantine, split the same
    way: a line that is malformed or holds a value that cannot cast to
    the declared type goes whole to the quarantine frame (column
    ``raw``); the rest are clean rows with REPEATED fields coalesced to
    empty arrays. Each line is parsed with ``from_json`` in PERMISSIVE
    mode rather than read by the JSON source, whose corrupt-record
    column a query may not reference on its own
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) and a stream cannot cache.
    """
    schema = ENTITY_SCHEMAS[entity]
    with_cr = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    lines = spark.readStream.text(f"{staging_dir}/{entity}").filter(
        F.trim("value") != ""
    )
    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": "_corrupt_record",
    }
    parsed = lines.select(
        "value", F.from_json("value", with_cr, opts).alias("r")
    )
    corrupt = F.col("r._corrupt_record").isNotNull()
    clean = coalesce_repeated(
        parsed.filter(~corrupt).select(
            *(F.col(f"r.{f.name}").alias(f.name) for f in schema.fields)
        ),
        schema,
    )
    return clean, parsed.filter(corrupt).select(F.col("value").alias("raw"))


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming DF to completion against a memory sink (tests).

    processAllAvailable drains every pending file synchronously — the
    local-mode smoke pattern for file-source streams. Use
    ``output_mode="complete"`` for aggregations (append only emits
    windows the watermark has closed, which a single drained batch never
    reaches).
    """
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def clicks_to_purchases_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior click.

    The canonical attribution join — each purchase matches clicks by the
    same user within the preceding attribution window. Both sides are
    watermarked so the join state is bounded: click state can be evicted
    once no purchase within the window can still arrive.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "amount")


def clicks_to_purchases_left_outer(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER attribution: every purchase emits, with
    its click when one exists and NULL click columns when none does.

    The outer side is where streaming joins earn their state semantics: a
    purchase cannot be declared *unmatched* until the watermark proves no
    qualifying click can still arrive, so null-padded rows emit only once
    event time passes ``purchase_ts + watermark`` — and the same horizon
    is what lets the engine EVICT buffered click/purchase state instead
    of holding it forever (the unbounded-state OOM that kills naive
    stream joins at scale). Both sides must be watermarked and the join
    condition time-bounded or Spark rejects the outer join outright.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
        "leftOuter",
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "amount")


def interval_join_stream(
    clicks: DataFrame,
    errors: DataFrame,
    band_seconds: int = 300,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream twin of q_interval_join (scale_ops.py): clicks
    matched to errors within ±band_seconds, as a NATIVE stream-stream
    inner join with a time-range condition.

    Stream-stream joins REQUIRE an equality predicate (the join state
    store is keyed by it; a pure range condition raises
    streamJoinStreamWithoutEqualityPredicate) — so this reuses the batch
    twin's construction verbatim: bucket each side by
    floor(epoch/band), explode the error side to bucket ± 1, equi-join
    on the bucket key, then apply the exact band predicate. The time-
    range condition on the watermarked columns additionally lets the
    engine evict join state older than (watermark + band) — the
    bounded-state contract. Emits one row per matched (click, error)
    pair as matches arrive (append mode); the per-click error count is
    a downstream aggregation (chained stateful operators) or a batch
    rollup over the emitted pairs, which is how
    tests/test_streaming_depth.py pins equivalence with the batch twin.
    """
    c_sec = F.col("c_ts").cast("double")
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", watermark)
        .withColumn(
            "b", F.floor(c_sec / band_seconds).cast("bigint")
        )
    )
    e_sec = F.col("e_ts").cast("double")
    e_bucket = F.floor(e_sec / band_seconds).cast("bigint")
    e = (
        errors.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
        )
        .withWatermark("e_ts", watermark)
        .withColumn(
            "b", F.explode(F.array(e_bucket - 1, e_bucket, e_bucket + 1))
        )
    )
    band = F.expr(
        f"e_ts BETWEEN c_ts - INTERVAL {band_seconds} SECONDS "
        f"AND c_ts + INTERVAL {band_seconds} SECONDS"
    )
    return c.join(e, (c["b"] == e["b"]) & band).select(
        "click_id", "c_ts", "error_id", "e_ts"
    )


def lm_score_stream(
    docs: DataFrame,
    lm_bigrams: DataFrame,
    lm_unigrams: DataFrame,
    vocab_size: int,
) -> DataFrame:
    """Streaming twin of the q_lm_decontaminate SCORING stage: score
    arriving documents' avg ln P(w2|w1) under a fixed, pre-trained
    add-one-smoothed bigram LM via stream-static joins (the production
    shape: the LM is (re)trained batch-side on the eval corpus; the
    ingest stream is scored continuously against it).

    ``docs`` is a streaming (doc_id, text) frame; ``lm_bigrams`` is a
    static (w1, w2, cb) frame, ``lm_unigrams`` a static (tok, cu) frame,
    and ``vocab_size`` the LM's distinct-token count — a scalar passed
    as a literal rather than a 1-row cross join because stream-static
    cross joins are unsupported and the vocab size is training-time
    metadata anyway.

    OOV discipline matches the batch twin exactly: LEFT stream-static
    joins + coalesce(0), so every bigram of every arriving doc scores
    (equivalence to the batch scorer is pinned in
    tests/test_stateful_streaming.py).

    Output mode: update. The per-doc aggregation keys state by doc_id;
    with file/queue sources delivering whole documents per batch the
    final update per doc is its score. Production streams should bound
    that state with a watermark on an arrival-time column at the horizon
    where re-chunked late parts of a doc no longer arrive.

    Scale: the static LM sides are broadcast when benchmark-sized (the
    common case — AQE decides); candidate bigrams never shuffle except
    on doc_id for the final agg, the same join ladder as the batch twin.
    """
    from data_engineering_project_spotify_app_spark.functions.text import (
        adjacent_pairs,
        bigram_struct,
        tokens,
    )

    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    pairs = adjacent_pairs("t", bigram_struct)
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    return (
        bg.join(lm_bigrams, ["w1", "w2"], "left")
        .join(lm_unigrams, F.col("tok") == F.col("w1"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                        / (F.coalesce(F.col("cu"), F.lit(0))
                           + F.lit(vocab_size))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )


def classifier_score_stream(
    docs: DataFrame, weights: DataFrame, bias: float
) -> DataFrame:
    """Streaming twin of q_quality_classifier's scoring stage: hash each
    arriving document's tokens into the model's buckets, stream-static
    join the (static, broadcast-sized) weight vector, sigmoid the mean
    weight + bias per doc. The model is trained/loaded batch-side;
    ingest is scored continuously — the standard online quality gate in
    front of a training-data lake. Purely stateless signals + one keyed
    aggregation (same update-mode/state-TTL caveat as lm_score_stream).

    ``weights`` must carry (bucket, wt); bucket space must match the
    scorer's hash (md5 first-8-hex % D with D = the weight count).

    Stateless Gopher-rule screens (q_gopher_rules) need none of this
    machinery: a single codegen projection lifts to readStream
    unchanged — this twin exists for the JOIN-shaped scorer.
    """
    from data_engineering_project_spotify_app_spark.functions.text import (
        tokens,
    )

    d = weights.count()
    hashed = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        (
            F.expr(
                "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
            )
            % d
        ).alias("bucket"),
    )
    scored = (
        hashed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("wt").alias("mean_wt"),
        )
    )
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(bias) + F.col("mean_wt")))),
        4,
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )


def burst_detect_stream(
    events: DataFrame, baseline_stats: DataFrame, z_threshold: float = 2.0
) -> DataFrame:
    """Streaming twin of q_burst_detection's FLAGGING stage: windowed
    per-type event counts in the live stream, z-scored against a fixed
    per-type baseline (mu, sd) trained batch-side on history — the
    production shape for traffic anomaly alerting (the baseline is
    re-fit on a schedule; the stream is scored continuously).

    ``events`` is a streaming frame with (ts, event_type); ``baseline_
    stats`` is a static (event_type, mu, sd) frame — stream-static LEFT
    join, so a type never seen in history still flows (z = NULL, which
    downstream alerting treats as "no baseline yet" rather than a
    silent drop).

    Watermark + 1-day tumbling window: counts finalize once the
    watermark passes the day; output mode update emits refinements as
    late events land inside the horizon.

    Scale: the windowed count is the standard partial-aggregated
    streaming agg keyed by (type, window); the baseline side is
    O(types) and broadcast.
    """
    counted = (
        events.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    z = F.when(F.col("sd") == 0, F.lit(0.0)).otherwise(
        (F.col("n_events") - F.col("mu")) / F.col("sd")
    )
    return counted.join(baseline_stats, "event_type", "left").select(
        F.col("w.start").alias("day_start"),
        "event_type",
        "n_events",
        F.round(z, 4).alias("z"),
        (F.round(z, 4) >= z_threshold).alias("is_burst"),
    )


def burst_detect_refit(
    events: DataFrame,
    store_dir: str,
    z_threshold: float = 2.0,
) -> "object":
    """Burst flagging with a CONTINUOUSLY RE-FIT baseline (foreachBatch).

    burst_detect_stream scores against a baseline trained once batch-side;
    production re-fits that baseline on a schedule. This is the re-fit
    loop as one self-contained streaming pipeline:

    per micro-batch (epoch):
      1. BASELINE — read the persistent day-count store and fit per-type
         (mu, sd) over complete history days STRICTLY BEFORE the batch's
         first day (train on history, score the live window; a day never
         scores against partials of itself).
      2. SCORE — z-score the batch's per-(type, day) counts against that
         baseline; a type with no history flows with z = NULL ("no
         baseline yet", not a silent drop). Flags land in
         ``store_dir/flags/epoch_part={epoch}``.
      3. MERGE — write the batch's (type, day, n) partials to the store
         at ``store_dir/daycounts/epoch_part={epoch}``. The store is
         MERGE-ON-READ (partial rows summed at read time), and each
         epoch's slice is written with OVERWRITE into its own partition
         subdir — a replayed/retried epoch rewrites its deterministic
         slice instead of double-appending (a duplicated slice would
         silently inflate every later baseline's mu/sd). Periodic
         compaction of the partials is sources.ingest.compact_entity's
         verified-swap job.

    Returns the DataStreamWriter with a checkpointLocation already set
    (``store_dir/_checkpoint``; caller may override with another
    .option before .start()) — durable monotone epoch ids are what make
    the per-epoch overwrite slices replay-correct across restarts.
    Scale: each batch reduces to O(types × days) tuples before anything
    is written; the baseline frame is O(types) and broadcast into the
    score join.
    """
    import os

    from pyspark.sql import functions as SF

    from data_engineering_project_spotify_app_spark.streaming.sinks import (
        resolve_checkpoint,
    )

    counts_path = os.path.join(store_dir, "daycounts")
    flags_path = os.path.join(store_dir, "flags")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        day_counts = (
            batch_df.select(SF.to_date("ts").alias("day"), "event_type")
            .groupBy("event_type", "day")
            .agg(SF.count("*").alias("n"))
            .cache()
        )
        try:
            first_day = day_counts.agg(SF.min("day")).collect()[0][0]
            if first_day is None:
                return
            try:
                store = spark.read.parquet(counts_path)
            except Exception:
                store = None
            if store is not None:
                baseline = (
                    store.filter(SF.col("day") < SF.lit(first_day))
                    .groupBy("event_type", "day")
                    .agg(SF.sum("n").alias("dn"))
                    .groupBy("event_type")
                    .agg(
                        SF.avg("dn").alias("mu"),
                        SF.stddev_pop("dn").alias("sd"),
                    )
                )
                scored = day_counts.join(
                    SF.broadcast(baseline), "event_type", "left"
                )
            else:
                scored = day_counts.select(
                    "*",
                    SF.lit(None).cast("double").alias("mu"),
                    SF.lit(None).cast("double").alias("sd"),
                )
            z = SF.when(SF.col("sd") == 0, SF.lit(0.0)).otherwise(
                (SF.col("n") - SF.col("mu")) / SF.col("sd")
            )
            # Per-epoch partition subdirs written with OVERWRITE, not a
            # blind append to the shared root: a replayed epoch (task
            # retry, or restart re-delivering a batch) then rewrites its
            # own deterministic slice instead of double-appending — a
            # duplicated day-count slice would silently inflate every
            # future baseline's mu/sd. Plain spark.read.parquet(root)
            # still reads the stores via partition discovery (the
            # epoch_part column is metadata and ignored by consumers).
            (
                scored.select(
                    SF.lit(epoch_id).alias("epoch"),
                    "day",
                    "event_type",
                    SF.col("n").alias("n_events"),
                    SF.round(z, 4).alias("z"),
                    (SF.round(z, 4) >= z_threshold).alias("is_burst"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(flags_path, f"epoch_part={epoch_id}"))
            )
            day_counts.write.mode("overwrite").parquet(
                os.path.join(counts_path, f"epoch_part={epoch_id}")
            )
        finally:
            day_counts.unpersist()

    return (
        events.writeStream.option(
            "checkpointLocation", resolve_checkpoint(store_dir)
        )
        .foreachBatch(process)
        .outputMode("update")
    )
