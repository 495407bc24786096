"""The reference's five scalar parse functions (F1-F5) as pure Column
expression builders — no Python UDFs, so Catalyst folds/pushes them and the
DuckDB oracle can express them in ANSI SQL.

Reference semantics (Go, /root/reference/utils.go:193-297) are pinned by
golden fixtures in tests/test_parsing.py. Spark 4 runs with ANSI mode on,
so every fallible conversion uses a `try_` form to get the reference's
null-on-failure behavior instead of a runtime error.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from dsacord_spark.config import URL_TEMPLATE

DISCORD_EPOCH_MS = 1420070400000  # 2015-01-01T00:00:00Z, utils.go:295


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_time(col: Column | str) -> Column:
    """F1, utils.go:193-202: layout `2006-01-02 15:04:05`; empty or
    unparseable -> NULL.

    r12 optimization (guide §4.1 "prefer built-ins", measured): the
    original `try_to_timestamp(c, 'yyyy-MM-dd HH:mm:ss')` runs a
    DateTimeFormatter per cell — 7 timestamp columns added ~1.8s to the
    sf0.1 ingest transform. The strict layout is enforced by an anchored
    shape regex (exactly the reference's accepted shape — and exactly the
    model regex tests/test_parsing_properties.py pins), and the parse
    itself uses the codegen `try_cast(timestamp)` fast path. Value parity
    with the formatter expression verified cell-exact on the edge battery
    (invalid month/day/hour/min/sec, leap days, year 0000/9999,
    whitespace, T-separator, fractional seconds): 0 mismatches; same
    select measured 2.86s -> 1.35s (noop sink, 2.7M rows x 7 cols,
    local[32])."""
    c = _c(col)
    return F.when(
        c.rlike(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"),
        c.try_cast("timestamp"),
    )


def parse_array_field(col: Column | str) -> Column:
    """F2, utils.go:248-261: empty -> NULL; JSON `[]string` parse; any JSON
    failure -> singleton array of the raw string.

    `from_json` yields NULL for malformed input (PERMISSIVE), and also for
    JSON `null`; the reference's json.Unmarshal succeeds on `null` yielding
    a nil slice — both end up NULL-ish, but Go nil slice round-trips as
    NULL while our fallback would wrap it; from_json('null') -> NULL then
    coalesce -> array('null'). The dumps never contain bare `null`, and the
    fixtures pin only the documented cases.

    r12 optimization (guide §4.1): `from_json` runs a Jackson parse per
    cell even when the value cannot possibly be a JSON array. Gate it on
    the value starting with '[' after optional JSON whitespace (space,
    tab, CR, LF — exactly the set both Go's json.Unmarshal and Jackson
    skip; \\x0b/\\f are NOT JSON whitespace and both parsers reject
    them, landing in the singleton fallback on both sides). Non-'['
    values go straight to the singleton fallback the failed parse would
    have produced. Parity verified cell-exact on a 24-case battery incl.
    every whitespace prefix; mismatches: 0.

    r13 optimization (guide §4.1, measured): the overwhelmingly common
    dump shape is a FLAT array of plain strings (no escapes, no control
    chars) — for cells matching that exact shape, `regexp_extract_all`
    of the quoted segments replaces the Jackson parse (7-column noop
    select over the bench fixture: 2.89s -> 1.96s, min-of-3). The
    simple-shape gate is strict so the two parsers cannot diverge:
    elements must contain no '\"', no backslash (no JSON escapes to
    decode) and no raw control chars < 0x20 (Jackson REJECTS those by
    default — allowUnquotedControlChars=false — and falls back to the
    singleton, so they must not take the fast path), with only JSON
    whitespace between tokens. On a gated cell the extraction yields
    exactly Jackson's element list (raw bytes between quotes, in
    order, including empty strings and the empty array). Everything
    else falls through to the r12 Jackson path unchanged. Parity
    re-verified cell-exact on the widened battery in
    tests/test_parsing.py / test_round13_properties.py."""
    c = _c(col)
    parsed = F.from_json(c, "array<string>")
    simple = (
        r'^[ \t\r\n]*\[[ \t\r\n]*("[^"\\\x00-\x1f]*"[ \t\r\n]*'
        r'(,[ \t\r\n]*"[^"\\\x00-\x1f]*"[ \t\r\n]*)*)?\][ \t\r\n]*$'
    )
    fast = F.regexp_extract_all(c, F.lit(r'"([^"\\]*)"'), 1)
    return F.when(c == F.lit(""), F.lit(None).cast("array<string>")).otherwise(
        F.when(c.rlike(simple), fast).otherwise(
            F.when(
                c.rlike("^[ \t\r\n]*\\["), F.coalesce(parsed, F.array(c))
            ).otherwise(F.array(c))
        )
    )


def parse_bool(col: Column | str) -> Column:
    """F3, utils.go:263-272: case-insensitive yes/no; anything else NULL."""
    low = F.lower(_c(col))
    return (
        F.when(low == "yes", F.lit(True))
        .when(low == "no", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def parse_snowflake(col: Column | str) -> Column:
    """F5, utils.go:290-297: Discord snowflake -> creation timestamp.
    `(int64(s) >> 22) + 1420070400000` UnixMilli; non-numeric -> NULL
    (reference returns Go zero-time + error; divergence Q6 documents the
    NULL choice)."""
    as_long = _c(col).try_cast("long")
    return F.timestamp_millis(
        F.shiftright(as_long, 22) + F.lit(DISCORD_EPOCH_MS)
    )


def platform_uid_parts(col: Column | str) -> dict[str, Column]:
    """F4, utils.go:274-288: split platform_uid on `-`;
    >=3 parts -> (snowflake_time, entity_id, entity_type) from parts[0..2]
    (extra parts ignored); <3 parts -> (NULL, '', '').
    Snowflake unparseable -> NULL time but id/type kept (utils.go:282-284).
    """
    c = _c(col)
    parts = F.split(c, "-")
    enough = F.size(parts) >= 3
    return {
        "snowflake_time": F.when(enough, parse_snowflake(parts.getItem(0))),
        "entity_id": F.when(enough, parts.getItem(1)).otherwise(F.lit("")),
        "entity_type": F.when(enough, parts.getItem(2)).otherwise(F.lit("")),
    }


def url_for_day(day: Column | str) -> Column:
    """F6, main.go:148: daily dump URL from a date column, filled into
    config.URL_TEMPLATE."""
    prefix, suffix = URL_TEMPLATE.split("%s")
    return F.concat(
        F.lit(prefix), F.date_format(_c(day), "yyyy-MM-dd"), F.lit(suffix)
    )
