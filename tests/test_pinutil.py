"""When a pin's work runs: ``pinned`` is ``localCheckpoint(eager=False)``,
which is lazy only with AQE off."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.pinutil import pinned


def test_pin_call_runs_shuffle_stages_only_with_aqe_on(spark):
    """With AQE on (Spark's default) AdaptiveSparkPlanExec runs the
    frame's shuffle stage when the checkpoint asks for its RDD, so the
    pin call itself fires a job; with AQE off the call fires none."""
    sc = spark.sparkContext
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for aqe, want in (("true", 1), ("false", 0)):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            grouped = spark.range(1000).groupBy(
                (F.col("id") % 10).alias("k")
            ).count()
            group = f"test_pin_call_jobs_aqe_{aqe}"
            sc.setJobGroup(group, group)
            try:
                pinned(grouped)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            # job events reach the status store through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == want
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
