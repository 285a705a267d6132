#!/usr/bin/env python
"""One-shot timing sweep of EVERY registered query at a given SF.

The correctness gate runs at sf0.01 and perfbench times a fixed set of
workloads — this sweep is the registry-wide safety net: it times (and
smoke-runs) every registered query once at the given SF, so an
sf0.1-only crash or a pathological plan surfaces immediately.

Each query runs as a ``noop``-sink write, the same action perfbench
times: every output column is materialized, so column pruning cannot
skip work that a ``count()`` would never ask for.

Single-run timings are ±30% noisy on this box — treat anything under
~2× of its family's norm as noise and only chase real outliers.

Usage: python scripts/full_sweep.py [sf_dir] [threshold_sec]
Prints every query slower than threshold (default 3 s) plus all errors;
writes the full map to /tmp/full_sweep.json.
"""

from __future__ import annotations

import gc
import json
import sys
import time

sys.path.insert(0, ".")

from data_engineering_project_spotify_app_spark.operators import (  # noqa: E402
    registry,
)
from data_engineering_project_spotify_app_spark.session import (  # noqa: E402
    get_spark,
)


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 3.0
    registry.load_all_modules()
    spark = get_spark(app_name="full_sweep")
    names = sorted(registry.QUERIES)
    # warm pass at the smallest SF amortizes JVM/codegen cost
    for n in names:
        try:
            _run(registry.QUERIES[n](spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"WARM FAIL {n}: {type(e).__name__}")
    # pre-register the shared landings CONCURRENTLY (VERDICT r13 item
    # 1): without this the build cost lands inside whichever consumer
    # touches each landing first and reads as a false slow-query
    # outlier in the sweep report. The sweep only needs them built —
    # per-landing timing is perfbench's job — so the concurrent cold
    # path is the right form here.
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        build_all_landings,
    )

    t0 = time.perf_counter()
    try:
        per = build_all_landings(spark, sf_dir, max_workers=4)
    except Exception as e:
        print(f"LANDING FAIL: {type(e).__name__}: {e}")
        per = {}
    print(
        f"landings prebuilt in {time.perf_counter() - t0:.1f}s "
        f"(concurrent; per-task {per})"
    )
    out: dict[str, object] = {}
    for n in names:
        t0 = time.perf_counter()
        try:
            _run(registry.QUERIES[n](spark, sf_dir))
            out[n] = round(time.perf_counter() - t0, 2)
        except Exception as e:
            out[n] = f"ERR {type(e).__name__}"
        gc.collect()
        spark.catalog.clearCache()
    with open("/tmp/full_sweep.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    errs = {k: v for k, v in out.items() if isinstance(v, str)}
    slow = sorted(
        ((v, k) for k, v in out.items() if isinstance(v, float) and v > threshold),
        reverse=True,
    )
    print(f"swept {len(out)} queries at {sf_dir}")
    print(f"errors: {errs or 'none'}")
    print(f"> {threshold}s: {slow or 'none'}")
    spark.stop()


if __name__ == "__main__":
    main()
