"""Every upper-case doc a code comment or docstring cites must exist.

A comment that justifies a conf or a plan choice by pointing at a
design note (``SURVEY.md §3``) is only as good as that note; a citation
of a file that was never committed is an unverifiable claim. This scans
the package, tests/, scripts/ and the repo-root modules — no Spark.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "data_engineering_project_spotify_app_spark"
# An upper-case-led name ending in .md, with an optional relative
# directory prefix (perfbench/README.md resolves under perfbench/).
CITATION = re.compile(r"\b((?:[\w.-]+/)*[A-Z][A-Za-z0-9_]*\.md)\b")


def _sources() -> list[Path]:
    files = sorted(ROOT.glob("*.py"))
    for sub in (PACKAGE, "tests", "scripts"):
        files += sorted((ROOT / sub).rglob("*.py"))
    return files


def test_cited_docs_exist():
    sources = _sources()
    # an empty scan would pass vacuously
    assert {"__spark_entry__.py", "session.py", "full_sweep.py"} <= {
        p.name for p in sources
    }
    missing = []
    for path in sources:
        text = path.read_text(encoding="utf-8")
        for lineno, line in enumerate(text.splitlines(), 1):
            for ref in CITATION.findall(line):
                if not (ROOT / ref).is_file():
                    missing.append(f"{path.relative_to(ROOT)}:{lineno}: {ref}")
    assert not missing, "cited docs not in the repo:\n" + "\n".join(missing)
