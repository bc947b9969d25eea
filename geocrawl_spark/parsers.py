"""Filename-regex parse + timestamp derivation — geoparse/geoparser.go:40-115.

The 13 product patterns are carried VERBATIM from parserStrings
(geoparse/geoparser.go:40-52).  The reference iterates a Go map, whose
iteration order is random (geoparser.go:64), so with overlapping patterns
(e.g. 'MCD43A4...' matches both modis43A4 and modis1) the reference's
winner is nondeterministic.  We fix DECLARATION ORDER as the deterministic
pattern order (documented divergence, SURVEY.md G1) in every dialect.

parse_time (geoparser.go:84-115) exact semantics, replicated here:
  year -> Jan 1 of year;
  julian_day -> add (jd-1) days;
  month AND day present -> REPLACE the date with (year, month, day)
    (discarding the julian add, and zeroing the clock);
  then hour / minute / second are ADDED.
  no 'year' field -> Go zero time 0001-01-01T00:00:00Z (kept for parity).

Dialects: Spark column expressions (JVM, used on the asset hot path),
pure Python (pyref oracle), and pattern access for DuckDB oracle SQL
(DuckDB's RE2 accepts the verbatim (?P<name>...) syntax).
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# verbatim from geoparse/geoparser.go:40-52, in declaration order
PATTERNS: dict[str, str] = {
    "landsat": r"LC(?P<mission>\d)(?P<path>\d\d\d)(?P<row>\d\d\d)(?P<year>\d\d\d\d)(?P<julian_day>\d\d\d)(?P<processing_level>[a-zA-Z0-9]+)_(?P<band>[a-zA-Z0-9]+)",
    "modis43A4": r"^MCD43A4.A(?P<year>\d\d\d\d)(?P<julian_day>\d\d\d).(?P<horizontal>h\d\d)(?P<vertical>v\d\d).(?P<resolution>\d\d\d).[0-9]+",
    "modis1": r"^(?P<product>MCD\d\d[A-Z]\d).A(?P<year>\d\d\d\d)(?P<julian_day>\d\d\d).(?P<horizontal>h\d\d)(?P<vertical>v\d\d).(?P<resolution>\d\d\d).[0-9]+",
    "modis2": r"M(?P<satellite>[OD|YD])(?P<product>[0-9]+_[A-Z0-9]+).A[0-9]+.[0-9]+.(?P<collection_version>\d\d\d).(?P<year>\d\d\d\d)(?P<julian_day>\d\d\d)(?P<hour>\d\d)(?P<minute>\d\d)(?P<second>\d\d)",
    "modisJP": r"^(?P<product>FC).v302.(?P<root_product>MCD\d\d[A-Z]\d).h(?P<horizontal>\d\d)v(?P<vertical>\d\d).(?P<year>\d\d\d\d).(?P<resolution>\d\d\d).",
    "modisJP_LR": r"^(?P<product>FC_LR).v302.(?P<root_product>MCD\d\d[A-Z]\d).h(?P<horizontal>\d\d)v(?P<vertical>\d\d).(?P<year>\d\d\d\d).(?P<resolution>\d\d\d).",
    "himawari8": r"^(?P<year>\d\d\d\d)(?P<month>\d\d)(?P<day>\d\d)(?P<hour>\d\d)(?P<minute>\d\d)(?P<second>\d\d)-P1S-(?P<product>ABOM[0-9A-Z_]+)-PRJ_GEOS141_(?P<resolution>\d+)-HIMAWARI8-AHI",
    "agdc_landsat1": r"LS(?P<mission>\d)_(?P<sensor>[A-Z]+)_(?P<correction>[A-Z]+)_(?P<epsg>\d+)_(?P<x_coord>-?\d+)_(?P<y_coord>-?\d+)_(?P<year>\d\d\d\d).",
    "elevation_ga": r"^Elevation_1secSRTM_DEMs_v1.0_DEM-S_Tiles_e(?P<longitude>\d+)s(?P<latitude>\d+)dems.nc$",
    "chirps2.0": r"^chirps-v2.0.(?P<year>\d\d\d\d).dekads.nc$",
    "era-interim": r"^(?P<product>[a-z0-9]+)_3hrs_ERAI_historical_fc-sfc_(?P<start_year>\d\d\d\d)(?P<start_month>\d\d)(?P<start_day>\d\d)_(?P<end_year>\d\d\d\d)(?P<end_month>\d\d)(?P<end_day>\d\d).nc$",
    "agdc_landsat2": r"LS(?P<mission>\d)_OLI_(?P<sensor>[A-Z]+)_(?P<product>[A-Z]+)_(?P<epsg>\d+)_(?P<x_coord>-?\d+)_(?P<y_coord>-?\d+)_(?P<year>\d\d\d\d).",
    "agdc_dem": r"SRTM_(?P<product>[A-Z]+)_(?P<x_coord>-?\d+)_(?P<y_coord>-?\d+)_(?P<year>\d\d\d\d)(?P<month>\d\d)(?P<day>\d\d)(?P<hour>\d\d)(?P<minute>\d\d)(?P<second>\d\d)",
}

_COMPILED = {k: re.compile(v) for k, v in PATTERNS.items()}

# group names per pattern, in group-index order (for positional extraction)
GROUPS: dict[str, list[str]] = {
    k: [g for g, _ in sorted(_COMPILED[k].groupindex.items(), key=lambda kv: kv[1])]
    for k in PATTERNS
}

ZERO_TIME = dt.datetime(1, 1, 1, tzinfo=dt.timezone.utc)  # Go time.Time{}


def java_pattern(key: str) -> str:
    """Java-regex form: positional groups (Java rejects '_' in group names)."""
    return re.sub(r"\(\?P<[A-Za-z_]+>", "(", PATTERNS[key])


# ---------------------------------------------------------------------------
# Python dialect (pyref oracle)
# ---------------------------------------------------------------------------

def basename_py(path_or_url: str) -> str:
    return re.sub(r"\?.*$", "", path_or_url).rsplit("/", 1)[-1]


def parse_name_py(path_or_url: str):
    """(pattern_key, fields, ts) or (None, None, None) — geoparser.go:62-82,
    with deterministic declaration-order pattern trial."""
    name = basename_py(path_or_url)
    for key, rx in _COMPILED.items():
        m = rx.search(name)
        if m:
            fields = {g: m.group(g) or "" for g in GROUPS[key]}
            return key, fields, parse_time_py(fields)
    return None, None, None


def parse_time_py(fields: dict[str, str]) -> dt.datetime:
    if "year" not in fields:
        return ZERO_TIME
    year = int(fields["year"])
    t = dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc)
    if "julian_day" in fields:
        t += dt.timedelta(days=int(fields["julian_day"]) - 1)
    if "month" in fields and "day" in fields:
        t = dt.datetime(year, int(fields["month"]), int(fields["day"]), tzinfo=dt.timezone.utc)
    if "hour" in fields:
        t += dt.timedelta(hours=int(fields["hour"]))
    if "minute" in fields:
        t += dt.timedelta(minutes=int(fields["minute"]))
    if "second" in fields:
        t += dt.timedelta(seconds=int(fields["second"]))
    return t


# ---------------------------------------------------------------------------
# Spark dialect (pure column expressions)
# ---------------------------------------------------------------------------

def basename_expr(url: Column) -> Column:
    return F.element_at(F.split(F.regexp_replace(url, r"\?.*$", ""), "/"), -1)


def parse_name_expr(url: Column) -> Column:
    """struct<pattern:string, fields:map<string,string>, ts:timestamp>;
    pattern/fields/ts are null when no pattern matches (dead-letter path,
    geoparser.go:214-216)."""
    name = basename_expr(url)
    result = F.struct(
        F.lit(None).cast("string").alias("pattern"),
        F.lit(None).cast("map<string,string>").alias("fields"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    # build the cascade back-to-front so earlier patterns win
    for key in reversed(list(PATTERNS)):
        jp = java_pattern(key)
        groups = {
            g: F.regexp_extract(name, jp, i)
            for i, g in enumerate(GROUPS[key], start=1)
        }
        # the timestamp reads the pattern's own group extracts (group
        # names are static), never the map: a map lookup would copy the
        # whole create_map into the tree once per time field
        cand = F.struct(
            F.lit(key).alias("pattern"),
            F.create_map(*[c for g, e in groups.items() for c in (F.lit(g), e)]).alias(
                "fields"
            ),
            parse_time_expr(groups).alias("ts"),
        )
        result = F.when(name.rlike(jp), cand).otherwise(result)
    return result


def parse_time_expr(fields: dict[str, Column]) -> Column:
    """parse_time over one pattern's {group name: string column}; a
    field the pattern lacks reads as null."""
    absent = F.lit(None).cast("string")
    year = fields.get("year", absent).cast("int")
    jd = fields.get("julian_day", absent).cast("int")
    month = fields.get("month", absent).cast("int")
    day = fields.get("day", absent).cast("int")
    hour = F.coalesce(fields.get("hour", absent).cast("int"), F.lit(0))
    minute = F.coalesce(fields.get("minute", absent).cast("int"), F.lit(0))
    second = F.coalesce(fields.get("second", absent).cast("int"), F.lit(0))

    jan1 = F.make_timestamp(year, F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0))
    with_jd = F.when(
        jd.isNotNull(),
        jan1 + F.make_interval(F.lit(0), F.lit(0), F.lit(0), jd - 1, F.lit(0), F.lit(0), F.lit(0)),
    ).otherwise(jan1)
    base = F.when(
        month.isNotNull() & day.isNotNull(),
        F.make_timestamp(year, month, day, F.lit(0), F.lit(0), F.lit(0)),
    ).otherwise(with_jd)
    t = base + F.make_interval(
        F.lit(0), F.lit(0), F.lit(0), F.lit(0), hour, minute, second
    )
    zero = F.make_timestamp(
        F.lit(1), F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0)
    )
    return F.when(year.isNotNull(), t).otherwise(zero)
