"""Deterministic Spotify-shaped fixture rows (FIXTURES.md §B).

Small literal entity rows exercising the nested-type semantics the
TPC-H fixtures can't: 3-level nesting (albums.tracks.items[].artists[]),
REPEATED-field empty-vs-null, release_date precision matrix, duplicate
ids and null-id rows for the dedup/filter paths.
"""

from __future__ import annotations

import json
import os
from typing import Any


def artist(i: int, **over: Any) -> dict[str, Any]:
    row = {
        "id": f"ar{i:03d}",
        "name": f"Artist {i}",
        "popularity": (i * 17) % 101,
        "genres": [f"genre{i % 5}", f"genre{(i + 2) % 5}"] if i % 10 else [],
        "href": f"https://api.example/v1/artists/ar{i:03d}",
        "uri": f"spotify:artist:ar{i:03d}",
        "type": "artist",
        "followers": None if i % 7 == 0 else {"total": i * 1000, "href": None},
        "external_urls": {"spotify": f"https://open.example/artist/ar{i:03d}"},
        "images": [
            {"height": 640, "width": 640, "url": f"https://img.example/ar{i:03d}"}
        ],
    }
    row.update(over)
    return row


_PRECISIONS = [("1973", "year"), ("1994-05", "month"), ("2001-08-15", "day")]


def album(i: int, artist_ids: list[str], **over: Any) -> dict[str, Any]:
    rd, prec = _PRECISIONS[i % 3]
    row = {
        "id": f"al{i:03d}",
        "name": f"Album {i}",
        "album_type": ["album", "single", "compilation"][i % 3],
        "total_tracks": (i % 12) + 1,
        "release_date": rd,
        "release_date_precision": prec,
        "popularity": (i * 31) % 101,
        "label": f"Label {i % 4}",
        "type": "album",
        "uri": f"spotify:album:al{i:03d}",
        "href": f"https://api.example/v1/albums/al{i:03d}",
        "available_markets": ["US", "DE", "JP"][: (i % 4)],
        "external_urls": {"spotify": f"https://open.example/album/al{i:03d}"},
        "images": [],
        "artists": [
            {
                "id": a,
                "name": f"Artist {a}",
                "type": "artist",
                "uri": f"spotify:artist:{a}",
                "href": None,
                "external_urls": {"spotify": None},
            }
            for a in artist_ids
        ],
        "copyrights": [{"text": f"(C) Label {i % 4}", "type": "C"}],
        "external_ids": {"upc": f"{i:012d}"},
        "genres": [],
        "tracks": {
            "href": None,
            "limit": 50,
            "next": None,
            "offset": 0,
            "previous": None,
            "total": (i % 12) + 1,
            "items": [
                {
                    "id": f"tr{i:03d}x{j}",
                    "name": f"Track {j} of Album {i}",
                    "track_number": j + 1,
                    "disc_number": 1,
                    "duration_ms": 180000 + j * 1000,
                    "explicit": j % 2 == 0,
                    "uri": f"spotify:track:tr{i:03d}x{j}",
                    "is_local": False,
                    "available_markets": ["US"],
                    "href": None,
                    "preview_url": None,
                    "type": "track",
                    "external_urls": {"spotify": None},
                    "artists": [
                        {
                            "id": a,
                            "name": f"Artist {a}",
                            "type": "artist",
                            "uri": f"spotify:artist:{a}",
                            "href": None,
                            "external_urls": {"spotify": None},
                        }
                        for a in artist_ids
                    ],
                    "linked_from": None,
                    "restrictions": None,
                }
                for j in range((i % 12) + 1)
            ],
        },
    }
    row.update(over)
    return row


def track(i: int, album_id: str, artist_ids: list[str], **over: Any) -> dict[str, Any]:
    rd, prec = _PRECISIONS[i % 3]
    row = {
        "id": f"tr{i:04d}",
        "name": f"Track {i}",
        "popularity": (i * 13) % 101,
        "disc_number": 1,
        "track_number": (i % 12) + 1,
        "duration_ms": 120000 + (i % 200) * 1000,
        "explicit": i % 3 == 0,
        "is_local": False,
        "type": "track",
        "uri": f"spotify:track:tr{i:04d}",
        "href": None,
        "preview_url": None if i % 2 else f"https://p.example/tr{i:04d}",
        "available_markets": ["US", "DE"],
        "external_urls": {"spotify": None},
        "external_ids": {"isrc": f"USX{i:09d}", "ean": None, "upc": None},
        "artists": [
            {
                "id": a,
                "name": f"Artist {a}",
                "type": "artist",
                "uri": f"spotify:artist:{a}",
                "href": None,
                "external_urls": {"spotify": None},
            }
            for a in artist_ids
        ],
        "album": {
            "id": album_id,
            "name": f"Album of {album_id}",
            "album_type": "album",
            "album_group": "album",
            "total_tracks": 10,
            "release_date": rd,
            "release_date_precision": prec,
            "uri": f"spotify:album:{album_id}",
            "href": None,
            "type": "album",
            "available_markets": ["US"],
            "external_urls": {"spotify": None},
            "restrictions": None,
            "images": [],
            "artists": [],
        },
    }
    row.update(over)
    return row


def build_catalog(n_artists: int = 6, albums_per_artist: int = 4):
    """A small consistent catalog: artists, albums (FK), tracks (FK)."""
    artists = [artist(i) for i in range(n_artists)]
    albums_, tracks_ = [], []
    k = 0
    for i in range(n_artists):
        for j in range(albums_per_artist):
            aid = f"ar{i:03d}"
            al = album(len(albums_), [aid])
            albums_.append(al)
            for _ in range(3):
                tracks_.append(track(k, al["id"], [aid]))
                k += 1
    return artists, albums_, tracks_


def write_staging(staging_dir: str, artists, albums_, tracks_) -> None:
    """Serialize as NDJSON per entity folder — the reference's staging
    layout (app.py:204–208) as consumed by ingest.load_entity_quarantine."""
    for entity, rows in (
        ("artists", artists),
        ("albums", albums_),
        ("tracks", tracks_),
    ):
        d = os.path.join(staging_dir, entity)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-000.json"), "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
