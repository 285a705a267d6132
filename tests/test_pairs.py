"""The shared pair builders: ``functions.pairs.sorted_pairs`` (every
i < j pair of an array) and ``functions.text.adjacent_pairs`` (every
adjacent pair). All cases sit in one DataFrame and are checked with one
collect, so the whole file costs one Spark job."""

from __future__ import annotations

from itertools import combinations

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.functions.text import (
    adjacent_pairs,
    bigram_str,
    bigram_struct,
)

CASES = [[], [7], [3, 9], [1, 2, 4, 8, 16, 32, 64]]
TOKENS = [[], ["a"], ["a", "b"], ["to", "be", "or", "not", "to", "be"]]


def test_pair_builders_match_itertools(spark):
    rows = [
        (k, ids, [(v, f"p{v}") for v in ids], toks)
        for k, (ids, toks) in enumerate(zip(CASES, TOKENS))
    ]
    df = spark.createDataFrame(
        rows,
        "k int, ids array<int>, ss array<struct<id:int,tag:string>>, "
        "toks array<string>",
    )
    got = {
        r["k"]: r
        for r in df.select(
            "k",
            sorted_pairs("ids", "lo", "hi").alias("ip"),
            sorted_pairs("ss", "a", "b").alias("sp"),
            adjacent_pairs("toks", bigram_str).alias("bs"),
            adjacent_pairs("toks", bigram_struct).alias("bt"),
        ).collect()
    }
    assert sorted(got) == list(range(len(CASES)))
    for k, (ids, toks) in enumerate(zip(CASES, TOKENS)):
        r = got[k]
        assert [(p["lo"], p["hi"]) for p in r["ip"]] == list(
            combinations(ids, 2)
        )
        assert [
            (p["a"]["id"], p["a"]["tag"], p["b"]["id"], p["b"]["tag"])
            for p in r["sp"]
        ] == [(x, f"p{x}", y, f"p{y}") for x, y in combinations(ids, 2)]
        adjacent = list(zip(toks, toks[1:]))
        assert r["bs"] == [f"{x} {y}" for x, y in adjacent]
        assert [(p["w1"], p["w2"]) for p in r["bt"]] == adjacent
