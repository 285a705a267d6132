"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``: the same seed
writes byte-identical inputs. Two families:

- ``write_corpus``: the ten fixture tables the registry queries read
  (TPC-H-shaped star schema, an ``events`` stream, ``documents`` with
  planted near-duplicates, ``embeddings``), shaped like the repository's
  TESTDATA fixtures so every registered oracle applies unchanged.
  ``shards > 1`` grows ``documents``, ``embeddings`` and ``lineitem`` into
  disjoint shards the way ``scripts/scale_probe_queries.py`` does.
- ``write_catalog``: a Spotify-shaped artists / albums / tracks catalog as
  NDJSON with the nested and repeated fields of ``schemas.py``, skewed
  albums per artist, and the generator's own expected answers.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64
SHARD_OFFSET = 10_000_000  # same key offset as scale_probe_queries.OFF
# The documents table does not vary with the seed: the DuckDB oracles of
# the MinHash / connected-components / n-gram queries over it take minutes,
# so their expectations are committed (expected.json) for this one corpus.
DOCS_SEED = 20_240_101

_DAY = 86_400_000_000  # microseconds


def _dates(rng, lo: str, hi: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi)."""
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    return pa.array(v - v % _DAY, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx].tolist(), pa.string())


def _tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _choice(rng, ("F", "O"), n_li),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    return out


def _events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = np.sort(
        rng.integers(
            np.datetime64("2024-01-01", "us").astype(np.int64),
            np.datetime64("2024-01-31", "us").astype(np.int64),
            n,
        )
    )
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": np.round(rng.gamma(2.0, 40.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; about 5% are near-copies
    of an earlier document with one ``dup`` token inserted, and 0.2% are
    exact copies — the planted structure the dedup operators look for."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel(), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        }
    )


def _shard(name: str, t: pa.Table, shards: int) -> pa.Table:
    """Disjoint shards as in scripts/scale_probe_queries.py: shard-tagged
    document tokens, rotated (and on odd shards negated) embeddings with
    shard 0 kept as is, and key-offset lineitem."""
    parts = []
    for i in range(shards):
        off = SHARD_OFFSET * i
        if name == "documents":
            texts = [
                " ".join(f"s{i}x{w}" for w in s.split())
                for s in t.column("text").to_pylist()
            ]
            parts.append(
                t.set_column(0, "doc_id", pc.add(t.column("doc_id"), off))
                .set_column(1, "text", pa.array(texts))
                .set_column(4, "n_chars", pa.array([len(s) for s in texts], pa.int64()))
            )
        elif name == "embeddings":
            if i == 0:
                parts.append(t)
                continue
            v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
            v = np.roll(v, -(i % DIM), axis=1) * (-1.0 if i % 2 else 1.0)
            emb = pa.FixedSizeListArray.from_arrays(
                pa.array(v.astype(np.float32).ravel()), DIM
            ).cast(pa.list_(pa.float32()))
            parts.append(
                t.set_column(0, "vec_id", pc.add(t.column("vec_id"), off))
                .set_column(1, "embedding", emb)
            )
        else:
            parts.append(
                t.set_column(0, "l_orderkey", pc.add(t.column("l_orderkey"), off))
                .set_column(1, "l_partkey", pc.add(t.column("l_partkey"), off))
            )
    return pa.concat_tables(parts)


def corpus_tables(seed: int, sf: float, shards: int, n_docs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = _tpch(rng, sf)
    tables["events"] = _events(rng, sf)
    tables["documents"] = _documents(np.random.default_rng(DOCS_SEED), n_docs)
    tables["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    if shards > 1:
        for name in ("documents", "embeddings", "lineitem"):
            tables[name] = _shard(name, tables[name], shards)
    return tables


def write_corpus(out_dir: str, seed: int, sf: float, shards: int, n_docs: int) -> dict:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns
    ``{name: {"rows": n, "bytes": b}}``. ``n_docs`` documents per shard."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in corpus_tables(seed, sf, shards, n_docs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# --------------------------------------------------------------------------
# Spotify-shaped catalog
# --------------------------------------------------------------------------


def artist_name(i: int) -> str:
    # fixed width: no artist name is a substring of another, so the
    # pipeline's name-contains search matches exactly one artist
    return f"Artist {i:06d}"


def _simplified(aid: str, name: str) -> dict:
    return {
        "id": aid,
        "name": name,
        "type": "artist",
        "uri": f"spotify:artist:{aid}",
        "href": f"https://api.example/v1/artists/{aid}",
        "external_urls": {"spotify": f"https://open.example/artist/{aid}"},
    }


@dataclass
class Catalog:
    """The generated catalog plus what a correct engine must report."""

    n_artists: int
    lines: dict[str, int] = field(default_factory=dict)  # valid NDJSON rows
    corrupt: dict[str, list[str]] = field(default_factory=dict)
    albums_of: dict[int, int] = field(default_factory=dict)
    tracks_of: dict[int, int] = field(default_factory=dict)
    bytes: dict[str, int] = field(default_factory=dict)

    def expected_summary(self, artist: int) -> tuple[str, int, int] | None:
        if not 0 <= artist < self.n_artists:
            return None
        return (
            artist_name(artist),
            self.albums_of.get(artist, 0),
            self.tracks_of.get(artist, 0),
        )


ALBUMS_PER_ARTIST = 5
TRACKS_PER_ALBUM = 8  # mean; uniform on [1, 15]
CORRUPT_SHARE = 0.002


def write_catalog(out_dir: str, seed: int, n_artists: int) -> Catalog:
    """Write ``<out_dir>/{artists,albums,tracks}/part-0.json`` (valid rows
    only) and return the catalog's expectations. Albums per artist follow
    a Zipf-like skew; a quarter of albums name a second, featured artist.
    ``Catalog.corrupt`` holds per-entity truncated lines for the caller to
    add to staging."""
    rng = np.random.default_rng(seed)
    cat = Catalog(n_artists=n_artists)
    weights = 1.0 / np.arange(1, n_artists + 1) ** 0.8
    weights /= weights.sum()
    n_albums = n_artists * ALBUMS_PER_ARTIST
    owners = rng.permutation(n_artists)[rng.choice(n_artists, n_albums, p=weights)]
    artists, albums, tracks = [], [], []
    for a in range(n_artists):
        aid = f"ar{a:06d}"
        artists.append(
            {
                "id": aid,
                "name": artist_name(a),
                "popularity": int(rng.integers(0, 101)),
                "genres": [f"genre{g}" for g in rng.integers(0, 20, int(rng.integers(0, 3)))],
                "href": f"https://api.example/v1/artists/{aid}",
                "uri": f"spotify:artist:{aid}",
                "type": "artist",
                "followers": {"total": int(rng.integers(0, 10**6)), "href": None},
                "external_urls": {"spotify": f"https://open.example/artist/{aid}"},
                "images": [{"height": 640, "width": 640, "url": f"https://img.example/{aid}"}],
            }
        )
    for b in range(n_albums):
        owner = int(owners[b])
        credited = [owner]
        if rng.random() < 0.25:
            feat = int(rng.integers(0, n_artists))
            if feat != owner:
                credited.append(feat)
        arts = [_simplified(f"ar{c:06d}", artist_name(c)) for c in credited]
        bid = f"al{b:07d}"
        n_tr = int(rng.integers(1, 2 * TRACKS_PER_ALBUM))
        rd = f"{int(rng.integers(1960, 2024))}-{int(rng.integers(1, 13)):02d}-01"
        items = []
        for t in range(n_tr):
            tid = f"tr{b:07d}x{t:02d}"
            items.append(
                {
                    "id": tid,
                    "name": f"Track {t + 1} of {bid}",
                    "track_number": t + 1,
                    "disc_number": 1,
                    "duration_ms": int(rng.integers(90_000, 400_000)),
                    "explicit": bool(rng.random() < 0.2),
                    "uri": f"spotify:track:{tid}",
                    "is_local": False,
                    "available_markets": ["US", "DE", "JP"],
                    "href": f"https://api.example/v1/tracks/{tid}",
                    "preview_url": None,
                    "type": "track",
                    "external_urls": {"spotify": f"https://open.example/track/{tid}"},
                    "artists": arts,
                    "linked_from": None,
                    "restrictions": None,
                }
            )
            tracks.append(
                {
                    "id": tid,
                    "name": f"Track {t + 1} of {bid}",
                    "popularity": int(rng.integers(0, 101)),
                    "disc_number": 1,
                    "track_number": t + 1,
                    "duration_ms": items[-1]["duration_ms"],
                    "explicit": items[-1]["explicit"],
                    "is_local": False,
                    "type": "track",
                    "uri": f"spotify:track:{tid}",
                    "href": f"https://api.example/v1/tracks/{tid}",
                    "preview_url": None,
                    "available_markets": ["US", "DE", "JP"],
                    "external_urls": {"spotify": f"https://open.example/track/{tid}"},
                    "external_ids": {"isrc": f"USX{b:07d}{t:02d}", "ean": None, "upc": None},
                    "artists": arts,
                    "album": {
                        "id": bid,
                        "name": f"Album {bid}",
                        "album_type": "album",
                        "album_group": "album",
                        "total_tracks": n_tr,
                        "release_date": rd,
                        "release_date_precision": "day",
                        "uri": f"spotify:album:{bid}",
                        "href": f"https://api.example/v1/albums/{bid}",
                        "type": "album",
                        "available_markets": ["US", "DE", "JP"],
                        "external_urls": {"spotify": f"https://open.example/album/{bid}"},
                        "restrictions": None,
                        "images": [],
                        "artists": arts,
                    },
                }
            )
        albums.append(
            {
                "id": bid,
                "name": f"Album {bid}",
                "album_type": "album",
                "total_tracks": n_tr,
                "release_date": rd,
                "release_date_precision": "day",
                "popularity": int(rng.integers(0, 101)),
                "label": f"Label {int(rng.integers(0, 50))}",
                "type": "album",
                "uri": f"spotify:album:{bid}",
                "href": f"https://api.example/v1/albums/{bid}",
                "available_markets": ["US", "DE", "JP"],
                "external_urls": {"spotify": f"https://open.example/album/{bid}"},
                "images": [{"url": f"https://img.example/{bid}", "height": 640, "width": 640}],
                "artists": arts,
                "copyrights": [{"text": f"(C) {rd[:4]}", "type": "C"}],
                "external_ids": {"upc": f"{b:012d}"},
                "genres": [],
                "tracks": {
                    "href": None,
                    "limit": 50,
                    "next": None,
                    "offset": 0,
                    "previous": None,
                    "total": n_tr,
                    "items": items,
                },
            }
        )
        for c in credited:
            cat.albums_of[c] = cat.albums_of.get(c, 0) + 1
            cat.tracks_of[c] = cat.tracks_of.get(c, 0) + n_tr
    for entity, rows in (("artists", artists), ("albums", albums), ("tracks", tracks)):
        d = os.path.join(out_dir, entity)
        os.makedirs(d, exist_ok=True)
        encoded = [json.dumps(r, separators=(",", ":")) for r in rows]
        path = os.path.join(d, "part-0.json")
        with open(path, "w") as f:
            f.write("\n".join(encoded) + "\n")
        cat.lines[entity] = len(encoded)
        cat.bytes[entity] = os.path.getsize(path)
        # truncated mid-object: the shape of a partial upload
        n_bad = max(1, int(len(encoded) * CORRUPT_SHARE))
        picks = rng.choice(len(encoded), n_bad, replace=False)
        cat.corrupt[entity] = [encoded[int(i)][: len(encoded[int(i)]) // 2] for i in picks]
    return cat
