"""Shared-frame pinning with plan observability.

``pinned(df)`` is ``df.localCheckpoint(eager=False)`` — the repo-wide
idiom for a frame consumed by more than one downstream branch (an
unpinned multi-consumer frame re-executes its whole lineage once per
consumer; Catalyst's exchange reuse does not fire when column pruning
specializes the branches). The checkpoint hides the pinned lineage from
consumer ``explain()`` output behind a ``Scan ExistingRDD`` node, so
plan-pin tests register a ``PIN_OBSERVERS`` callback to capture the
PRE-checkpoint plan of every pinned frame and assert shape properties
(pushed filters, join strategies, window partitioning) on the real
lineage — the same observation-hook contract as
``rankutil.PHASE1_OBSERVERS`` (ADVICE r13: a bare "Scan ExistingRDD"
assertion is satisfied by ANY RDD-backed frame and pins nothing).

``eager=False`` is lazy only with AQE off. With AQE on — Spark's
default — the call itself runs the frame's shuffle stages, because
AdaptiveSparkPlanExec materializes every query stage as soon as the
checkpoint asks for the RDD; only the final stage waits for the
consumer's first action, and every later consumer reads blocks.
Measured on a grouped 1,000-row frame (local[2]): AQE on, 1 job at
the call and 2 at the first action; AQE off, 0 and 1
(tests/test_pinutil.py pins the call's count under both settings).
So a pin placed during query construction runs the frame's shuffle
work then, not at the action. ``eager=False`` still saves the
separate full-materialization job an eager checkpoint adds (e.g. the
triangle family's 3.63 → 1.71 s swap). ``localCheckpoint``, not
``persist``: the SQL CacheManager holds strong references to
persisted plans, so GC never frees them in long-lived sessions;
checkpoint blocks die with the DataFrame.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

PIN_OBSERVERS: list[Callable[[DataFrame], None]] = []


def pinned(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` a multi-consumer frame, after
    offering its pre-checkpoint plan to any registered observer (with
    AQE on the call runs the frame's shuffle stages — module doc)."""
    for obs in PIN_OBSERVERS:
        obs(df)
    return df.localCheckpoint(eager=False)
