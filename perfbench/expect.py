"""Recompute perfbench/expected.json: DuckDB oracle results of the
curation workload's COMMITTED queries over its seed-independent
documents table.

    python3 perfbench/expect.py

Run from the checkout root after changing the document generator, the
corpus shape of a workload, or a committed query's oracle. The oracles
of these queries take minutes; the rest are checked live on every run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from perfbench import gen, workloads  # noqa: E402
from perfbench.check import Oracle  # noqa: E402


def main() -> int:
    from data_engineering_project_spotify_app_spark.operators import registry

    registry.load_all_modules()
    wl = workloads.make("curation-4x")
    os.makedirs(os.path.join(os.getcwd(), ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(os.getcwd(), ".perfbench"))
    try:
        # any seed: the committed queries read only the documents table
        gen.write_corpus(tmp, 0, wl.sf, wl.shards, wl.n_docs)
        oracle = Oracle(tmp)
        entry = {"documents": oracle.expect("SELECT * FROM documents"), "queries": {}}
        for q in workloads.COMMITTED:
            entry["queries"][q] = oracle.expect(registry.ORACLES[q])
            print(q, entry["queries"][q], flush=True)
        oracle.close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(workloads.EXPECTED_JSON, "w") as f:
        json.dump({wl.name: entry}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
