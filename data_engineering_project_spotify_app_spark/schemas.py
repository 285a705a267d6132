"""Spotify entity schemas — StructType port of the reference's BigQuery DDL.

The reference declares its landing schemas as BigQuery JSON schema files
bound at table-creation time (terraform/main.tf:76–96; files under
terraform/schemas/). The engine's contract mirrors it (SURVEY.md §1.2):
*lenient dynamic extraction, strict declared landing schema* — staging
NDJSON is read WITH these schemas, never inferred, so a malformed row
fails the load exactly like `bq load` would (README.md:186–204).

Type mapping (SURVEY.md §1.3): BQ INTEGER→LongType (64-bit), STRING
REPEATED→ArrayType(StringType) (missing repeated ⇒ empty array, not
null — see ``coalesce_repeated``), RECORD→StructType, REQUIRED→
nullable=False on the primary key.

Source schema files: artists_schema.json:1–21, albums_schema.json:1–210,
tracks_schema.json:1–171.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _s(name: str, nullable: bool = True) -> T.StructField:
    return T.StructField(name, T.StringType(), nullable)


def _i(name: str) -> T.StructField:
    return T.StructField(name, T.LongType(), True)


def _b(name: str) -> T.StructField:
    return T.StructField(name, T.BooleanType(), True)


def _arr_s(name: str) -> T.StructField:
    return T.StructField(name, T.ArrayType(T.StringType()), True)


_EXTERNAL_URLS = T.StructType([_s("spotify")])

_IMAGE = T.StructType([_s("url"), _i("height"), _i("width")])

# artists_schema.json:16–20 orders image fields (height, width, url)
_ARTIST_IMAGE = T.StructType([_i("height"), _i("width"), _s("url")])

_SIMPLIFIED_ARTIST = T.StructType(
    [
        _s("id"),
        _s("name"),
        _s("type"),
        _s("uri"),
        _s("href"),
        T.StructField("external_urls", _EXTERNAL_URLS, True),
    ]
)

# artists_schema.json:1–21
ARTISTS_SCHEMA = T.StructType(
    [
        _s("id", nullable=False),  # REQUIRED (artists_schema.json:2)
        _s("name"),
        _i("popularity"),
        _arr_s("genres"),  # REPEATED (artists_schema.json:5)
        _s("href"),
        _s("uri"),
        _s("type"),
        T.StructField(
            "followers",
            T.StructType([_i("total"), _s("href")]),  # :9–12
            True,
        ),
        T.StructField("external_urls", _EXTERNAL_URLS, True),  # :13–15
        T.StructField("images", T.ArrayType(_ARTIST_IMAGE), True),  # :16–20
    ]
)

_ALBUM_TRACK_ITEM = T.StructType(
    [
        _s("id"),
        _s("name"),
        _i("track_number"),
        _i("disc_number"),
        _i("duration_ms"),
        _b("explicit"),
        _s("uri"),
        _b("is_local"),
        _arr_s("available_markets"),
        _s("href"),
        _s("preview_url"),
        _s("type"),
        T.StructField("external_urls", _EXTERNAL_URLS, True),
        T.StructField("artists", T.ArrayType(_SIMPLIFIED_ARTIST), True),
        T.StructField(
            "linked_from",
            T.StructType(
                [
                    _s("id"),
                    _s("type"),
                    _s("uri"),
                    _s("href"),
                    T.StructField("external_urls", _EXTERNAL_URLS, True),
                ]
            ),
            True,
        ),
        T.StructField("restrictions", T.StructType([_s("reason")]), True),
    ]
)

# albums_schema.json:1–210 (tracks.items[].artists[] is the 3-level nest)
ALBUMS_SCHEMA = T.StructType(
    [
        _s("id", nullable=False),
        _s("name"),
        _s("album_type"),
        _i("total_tracks"),
        _s("release_date"),  # STRING + precision sidecar (:22–31)
        _s("release_date_precision"),  # 'year' | 'month' | 'day'
        _i("popularity"),
        _s("label"),
        _s("type"),  # routing key (app.py:207)
        _s("uri"),
        _s("href"),
        _arr_s("available_markets"),  # :58–61
        T.StructField("external_urls", _EXTERNAL_URLS, True),
        T.StructField("images", T.ArrayType(_IMAGE), True),
        T.StructField("artists", T.ArrayType(_SIMPLIFIED_ARTIST), True),  # :81–99
        T.StructField(
            "copyrights",
            T.ArrayType(T.StructType([_s("text"), _s("type")])),  # :101–108
            True,
        ),
        T.StructField("external_ids", T.StructType([_s("upc")]), True),  # :110–116
        _arr_s("genres"),
        T.StructField(  # :123–209
            "tracks",
            T.StructType(
                [
                    _s("href"),
                    _i("limit"),
                    _s("next"),
                    _i("offset"),
                    _s("previous"),
                    _i("total"),
                    T.StructField("items", T.ArrayType(_ALBUM_TRACK_ITEM), True),
                ]
            ),
            True,
        ),
    ]
)

_TRACK_ALBUM = T.StructType(
    [
        _s("id"),
        _s("name"),
        _s("album_type"),
        _s("album_group"),
        _i("total_tracks"),
        _s("release_date"),
        _s("release_date_precision"),
        _s("uri"),
        _s("href"),
        _s("type"),
        _arr_s("available_markets"),
        T.StructField("external_urls", _EXTERNAL_URLS, True),
        T.StructField("restrictions", T.StructType([_s("reason")]), True),
        T.StructField("images", T.ArrayType(_IMAGE), True),
        T.StructField("artists", T.ArrayType(_SIMPLIFIED_ARTIST), True),
    ]
)

# tracks_schema.json:1–171
TRACKS_SCHEMA = T.StructType(
    [
        _s("id", nullable=False),
        _s("name"),
        _i("popularity"),
        _i("disc_number"),
        _i("track_number"),
        _i("duration_ms"),
        _b("explicit"),
        _b("is_local"),
        _s("type"),  # routing key
        _s("uri"),
        _s("href"),
        _s("preview_url"),
        _arr_s("available_markets"),
        T.StructField("external_urls", _EXTERNAL_URLS, True),
        T.StructField(
            "external_ids",
            T.StructType([_s("isrc"), _s("ean"), _s("upc")]),  # :76–85
            True,
        ),
        T.StructField("artists", T.ArrayType(_SIMPLIFIED_ARTIST), True),
        T.StructField("album", _TRACK_ALBUM, True),  # :107–170 (J2 parent key)
    ]
)

ENTITY_SCHEMAS: dict[str, T.StructType] = {
    "artists": ARTISTS_SCHEMA,
    "albums": ALBUMS_SCHEMA,
    "tracks": TRACKS_SCHEMA,
}


def repeated_fields(schema: T.StructType) -> list[str]:
    """Top-level REPEATED (array) fields of a schema."""
    return [f.name for f in schema.fields if isinstance(f.dataType, T.ArrayType)]


def coalesce_repeated(df: DataFrame, schema: T.StructType) -> DataFrame:
    """BQ REPEATED semantics: a missing repeated field is an EMPTY array,
    never NULL (SURVEY.md §1.3 item 2). Apply at ingest. One projection
    for all fields: a withColumn per field analyzes one plan per field."""
    return df.withColumns(
        {
            name: F.coalesce(
                F.col(name), F.array().cast(schema[name].dataType)
            )
            for name in repeated_fields(schema)
        }
    )


def release_date_as_date(
    release_date: Column, precision: Column
) -> Column:
    """Precision-aware date normalization (SURVEY.md §1.3 item 1).

    ``release_date`` is a STRING ('1973' | '1973-03' | '1973-03-01') with
    a precision sidecar ∈ {year, month, day} (albums_schema.json:22–31).
    Returns a DateType anchored at the start of the declared precision
    window, so comparisons happen at the correct granularity.
    """
    return F.to_date(
        F.when(precision == "year", F.concat(release_date, F.lit("-01-01")))
        .when(precision == "month", F.concat(release_date, F.lit("-01")))
        .otherwise(release_date)
    )
