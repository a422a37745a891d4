"""Rewrite rules.

Reference: lib/rewrite/* — set(), subst(), unset(), set-tag(),
clear-tag(), groupset(), set-severity(), set-facility(), set-pri().
Each is a narrow DataFrame transformation; conditions (`condition()`
option on rewrite rules) map to `F.when(cond, new).otherwise(old)`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from syslog_ng_spark.datamodel import FACILITY_NAMES, SEVERITY_NAMES


def set_field(df: DataFrame, field: str, value: Column, condition: Column | None = None) -> DataFrame:
    """set('value', value(field)) (reference: lib/rewrite/rewrite-set.c).
    A dotted NV name that is not a column (".app.name") is set in the
    `sdata` map: NV pairs live there in this datamodel (SURVEY §1), not
    as literal dotted columns, so templates and filters resolve it like
    any NV pair."""
    if "." in field and field not in df.columns:
        empty = F.create_map().cast("map<string,string>")
        if "sdata" not in df.columns:
            df = df.withColumn("sdata", empty)
        updated = F.map_concat(
            F.map_filter(F.coalesce(F.col("sdata"), empty),
                         lambda k, _: k != F.lit(field)),
            F.create_map(F.lit(field), value.cast("string")))
        if condition is not None:
            updated = F.when(condition, updated).otherwise(F.col("sdata"))
        return df.withColumn("sdata", updated)
    if condition is not None and field in df.columns:
        value = F.when(condition, value).otherwise(F.col(field))
    return df.withColumn(field, value)


def subst(
    df: DataFrame,
    field: str,
    pattern: str,
    replacement: str,
    condition: Column | None = None,
) -> DataFrame:
    """subst(pattern, replacement, value(field), flags(global))
    (reference: lib/rewrite/rewrite-subst.c). Spark's regexp_replace is
    global like the reference's flags(global)."""
    new = F.regexp_replace(F.col(field), pattern, replacement)
    if condition is not None:
        new = F.when(condition, new).otherwise(F.col(field))
    return df.withColumn(field, new)


def unset(df: DataFrame, *fields: str, condition: Column | None = None) -> DataFrame:
    """unset(value(field)) (lib/rewrite/rewrite-unset.c). With a
    condition the matching rows' values become NULL; the column stays."""
    if condition is None:
        return df.drop(*fields)
    for f in fields:
        df = df.withColumn(f, F.when(condition, F.lit(None)).otherwise(F.col(f)))
    return df


def unset_map_keys(df: DataFrame, map_field: str, *keys: str) -> DataFrame:
    """groupunset() on NV-pair maps — remove keys from a map column."""
    key_arr = F.array(*[F.lit(k) for k in keys])
    return df.withColumn(
        map_field, F.map_filter(F.col(map_field), lambda k, _: ~F.array_contains(key_arr, k))
    )


def set_tag(
    df: DataFrame, tag: str, tags_field: str = "tags", condition: Column | None = None
) -> DataFrame:
    """set-tag() (lib/rewrite/rewrite-set-tag.c); idempotent like the
    ref. A frame without a tags column gets an empty one first."""
    if tags_field not in df.columns:
        df = df.withColumn(tags_field, F.array().cast("array<string>"))
    new = F.array_union(F.col(tags_field), F.array(F.lit(tag)))
    if condition is not None:
        new = F.when(condition, new).otherwise(F.col(tags_field))
    return df.withColumn(tags_field, new)


def clear_tag(
    df: DataFrame, tag: str, tags_field: str = "tags", condition: Column | None = None
) -> DataFrame:
    new = F.array_remove(F.col(tags_field), tag)
    if condition is not None:
        new = F.when(condition, new).otherwise(F.col(tags_field))
    return df.withColumn(tags_field, new)


def groupset(
    df: DataFrame, map_field: str, fn: Callable[[Column, Column], Column]
) -> DataFrame:
    """groupset() (lib/rewrite/rewrite-groupset.c) — apply a transform to
    every value of an NV-pair map; fn(key, value) -> new value."""
    return df.withColumn(map_field, F.transform_values(F.col(map_field), fn))


def set_severity(df: DataFrame, level: int | str, condition: Column | None = None) -> DataFrame:
    """set-severity() (lib/rewrite/rewrite-set-severity.c)."""
    n = level if isinstance(level, int) else SEVERITY_NAMES.index(level)
    return set_field(df, "severity", F.lit(n).cast("int"), condition)


def set_facility(df: DataFrame, fac: int | str, condition: Column | None = None) -> DataFrame:
    n = fac if isinstance(fac, int) else FACILITY_NAMES.index(fac)
    return set_field(df, "facility", F.lit(n).cast("int"), condition)


def map_value_pairs(df: DataFrame, map_field: str, key_map: dict[str, str]) -> DataFrame:
    """map-value-pairs() (modules/map-value-pairs) — rename keys of an
    NV-pair map."""
    mapping = F.create_map(*[F.lit(x) for kv in key_map.items() for x in kv])
    return df.withColumn(
        map_field,
        F.transform_keys(F.col(map_field), lambda k, _: F.coalesce(mapping[k], k)),
    )


def fix_timezone(df: DataFrame, tz: str, ts_col: str = "ts") -> DataFrame:
    """fix-timezone(): the timestamp was PARSED in the wrong zone —
    reinterpret the wall-clock reading as `tz` local time (reference:
    modules/timestamp/rewrite-fix-timezone.c). Spark stores UTC
    instants, so this is to_utc_timestamp over the naive reading."""
    return df.withColumn(ts_col, F.to_utc_timestamp(F.col(ts_col), tz))


def set_timezone(df: DataFrame, tz: str, ts_col: str = "ts", target: str = "ts_local") -> DataFrame:
    """set-timezone(): render the instant in another zone for display
    grouping (reference: modules/timestamp/rewrite-set-timezone.c);
    the instant itself is unchanged."""
    return df.withColumn(target, F.from_utc_timestamp(F.col(ts_col), tz))


# ---------------------------------------------------------------------------
# credit-card masking (scl/rewrite/cc-mask.conf)
# ---------------------------------------------------------------------------

# scl/rewrite/cc-mask.conf:41 `balabit.credit-card-regexp`: Visa,
# MasterCard, Discover, Amex, Diners Club, JCB. The conf's literal
# starts "(:4..." — a stray ':' that would demand a colon before every
# Visa number and break the documented examples; the alternation below
# is the evident intent (it matches the blog post the conf cites).
# [0-9] instead of \d keeps the pattern portable across Java regex
# (Spark) and RE2 (DuckDB oracles).
CREDIT_CARD_REGEX = (
    "(4[0-9]{12}(?:[0-9]{3})?"
    "|5[1-5][0-9]{14}"
    "|6(?:011|5[0-9][0-9])[0-9]{12}"
    "|3[47][0-9]{13}"
    "|3(?:0[0-5]|[68][0-9])[0-9]{11}"
    "|(?:2131|1800|35[0-9]{3})[0-9]{11})"
)


def subst_per_match(
    df: DataFrame,
    field: str,
    pattern: str,
    render: Callable[[Column], Column],
    condition: Column | None = None,
) -> DataFrame:
    """subst(flags(global, store-matches)) with a COMPUTED replacement
    (reference: lib/rewrite/rewrite-subst.c + the store-matches $1
    templates of scl/rewrite/cc-mask.conf): regexp_replace can't apply
    a function to each match, so split the string on the pattern (the
    between-match text, trailing empties kept), extract every $1,
    render each match, and stitch back — three array expressions, all
    inside whole-stage codegen, no UDF. Spark's split/regexp_extract_all
    and DuckDB's string_split_regex/regexp_extract_all agree on every
    edge (leading/trailing/adjacent/zero matches — probed), so renders
    built from engine-portable functions stay oracle-replayable."""
    col = F.col(field)
    parts = F.split(col, pattern, -1)
    hits = F.regexp_extract_all(col, F.lit(pattern), F.lit(1))
    stitched = F.concat(
        F.element_at(parts, 1),
        F.aggregate(
            F.zip_with(
                F.transform(hits, render),
                F.slice(parts, 2, F.size(parts) - 1),
                lambda a, b: F.concat(a, b),
            ),
            F.lit(""),
            lambda acc, x: F.concat(acc, x),
        ),
    )
    if condition is not None:
        stitched = F.when(condition, stitched).otherwise(col)
    return df.withColumn(field, stitched)


def _cc_mask_render(m: Column) -> Column:
    """'$(substr $1 0 6)******$(substr $1 -4 4)' — first six (IIN) +
    fixed six asterisks + last four, per cc-mask.conf:55."""
    return F.concat(
        F.substring(m, 1, 6), F.lit("******"), m.substr(F.length(m) - 3, F.lit(4))
    )


def credit_card_mask(
    df: DataFrame, field: str = "message", condition: Column | None = None
) -> DataFrame:
    """credit-card-mask() (scl/rewrite/cc-mask.conf:52): every card
    number in the field becomes IIN + '******' + last4 — the PCI-DSS
    display format (first six / last four are the maximum displayable
    digits)."""
    return subst_per_match(df, field, CREDIT_CARD_REGEX, _cc_mask_render, condition)


def credit_card_hash(
    df: DataFrame,
    field: str = "message",
    length: int = 16,
    algo: str = "sha1",
    condition: Column | None = None,
) -> DataFrame:
    """credit-card-hash() (scl/rewrite/cc-mask.conf:43): every card
    number is replaced by '$(sha1 --length 16 $1)' — a truncated hex
    digest, so equal cards correlate across messages without exposing
    the number. algo='sha1' is the conf's exact behavior (pytest-pinned
    to hashlib); algo='sha256' is offered for deployments that need a
    non-deprecated digest and is what the DuckDB-gated catalog entry
    uses (DuckDB has no sha1 — the split/stitch plumbing under test is
    identical either way)."""
    if algo == "sha1":
        digest = F.sha1
    elif algo == "sha256":
        def digest(c):
            return F.sha2(c, 256)
    else:
        raise ValueError(f"unknown credit_card_hash algo {algo!r}")
    return subst_per_match(
        df,
        field,
        CREDIT_CARD_REGEX,
        lambda m: F.substring(digest(m), 1, length),
        condition,
    )
