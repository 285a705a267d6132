#!/usr/bin/env python
"""Capture .explain('formatted') for registered queries and audit for
red-flag plan shapes (guide §7.2): BatchEvalPython (row-at-a-time UDF),
CartesianProduct, missing PushedFilters on filtered scans, Exchange
counts, SortMergeJoin where a side is tiny, single-partition windows.

Usage:
  python scripts/plan_audit.py [out_dir] [name ...]
With no names: every registered query. Writes <out_dir>/<name>.txt and a
summary JSON to <out_dir>/_audit.json. Plans are built lazily (no
execution), so this is cheap; it does NOT time anything. The session's
warehouse path (per process by default, see session.py) is written as
``<warehouse>``, so two audits of unchanged code save identical text.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from data_engineering_project_spotify_app_spark.operators import registry
from data_engineering_project_spotify_app_spark.session import get_spark


def plan_text(df) -> str:
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:  # noqa: BLE001 — private JVM API; fall back to
        # the public explain capture if it ever changes (ADVICE r14)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def audit(text: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", text)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", text)),
        "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b", text)),
        "shuffled_hash_joins": len(re.findall(r"\bShuffledHashJoin\b", text)),
        "nested_loop": len(re.findall(r"NestedLoop|CartesianProduct", text)),
        "batch_eval_python": len(re.findall(r"BatchEvalPython", text)),
        "arrow_eval_python": len(
            re.findall(r"ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", text)
        ),
        "single_part_window": len(
            re.findall(r"Exchange SinglePartition", text)
        ),
        "scans": len(re.findall(r"Scan parquet", text)),
        "rdd_scans": len(re.findall(r"Scan ExistingRDD", text)),
        "codegen_spans": len(re.findall(r"WholeStageCodegen", text)),
    }


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/audit"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all_modules()
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_audit")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    todo = names or list(registry.QUERIES)
    summary: dict[str, dict] = {}
    for name in todo:
        try:
            # lookup inside the try: a mistyped CLI name is recorded in
            # the summary like any per-query error instead of aborting
            # the whole audit with a KeyError (ADVICE r14)
            fn = registry.QUERIES[name]
            df = fn(spark, sf_dir)
            text = plan_text(df).replace(warehouse, "<warehouse>")
        except Exception as exc:  # noqa: BLE001 — record and move on
            summary[name] = {"error": str(exc)[:200]}
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(text)
        summary[name] = audit(text)
    with open(os.path.join(out_dir, "_audit.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # stdout: the red flags only
    for name, row in sorted(summary.items()):
        if row.get("error"):
            print(f"{name}: ERROR {row['error']}")
            continue
        flags = []
        if row["batch_eval_python"]:
            flags.append(f"BatchEvalPython x{row['batch_eval_python']}")
        if row["nested_loop"]:
            flags.append(f"NestedLoop x{row['nested_loop']}")
        if row["single_part_window"]:
            flags.append(f"SinglePartition x{row['single_part_window']}")
        if row["exchanges"] >= 8:
            flags.append(f"Exchanges x{row['exchanges']}")
        if flags:
            print(f"{name}: {', '.join(flags)}")
    spark.stop()


if __name__ == "__main__":
    main()
