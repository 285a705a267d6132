"""Candidate-pair generation over a sorted array column.

Near-duplicate dedup, similarity search and co-occurrence all end in the
same step: group rows on a blocking key (a shingle, an LSH band key, a
term set), collect the members into one sorted array per bucket, and
emit every unordered pair of members. ``sorted_pairs`` is that step.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_pairs(arr: str, left: str, right: str) -> Column:
    """array<struct<left, right>> of ``(arr[i], arr[j])`` for every
    ``i < j`` of the array column named ``arr``, in (i, j) order.

    Explode the result to get one row per pair. On a sorted array with
    distinct elements each pair comes out once, with ``left < right``,
    which is what makes a bucket-collect equal to the ``a.id < b.id``
    self-join it replaces. The elements may be structs (sort them on
    their first field, e.g. ``array_sort(collect_list(struct(doc_id,
    n)))``); the whole element rides along, so payload fields are read
    back as ``pr.<left>.n``. Arrays of size 0 or 1 yield no pairs.

    The pairs are built with built-in higher-order functions inside one
    projection (codegen, no UDF): ``slice(arr, i + 2, ...)`` is the
    1-based tail after element ``i`` (0-based), so a bucket of k members
    costs C(k, 2) structs and nothing else. Skewed buckets make that
    quadratic inside one task; the capped dedup variants drop them
    before this runs.
    """
    return F.expr(
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr}) - i - 1), "
        f"y -> struct(x AS {left}, y AS {right}))))"
    )
