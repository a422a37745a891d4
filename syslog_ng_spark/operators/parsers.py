"""Parsers: raw line → structured columns.

Reference semantics:
- RFC3164/BSD: modules/syslogformat/syslog-format.c (log_msg_parse_legacy)
- RFC5424/IETF: same file, log_msg_parse_syslog_proto
- csv-parser: modules/csvparser/csvparser.c
- kv-parser: modules/kvformat/kv-scanner.c
- json-parser: modules/json/json-parser.c
- date-parser: modules/timestamp/date-parser.c
- db-parser (patterndb): modules/dbparser/patterndb.c + radix.c —
  ordered first-match ruleset; the reference uses a radix trie, we emit
  a Catalyst CASE/WHEN chain (constant-folded, codegen'd) which the
  optimizer can short-circuit per row.

Everything is `regexp_extract` / `from_json` / `str_to_map` on the JVM:
no Python in the row path, so parses vectorize inside whole-stage
codegen and scale linearly with executors.

The regex-group parsers (the two syslog header parsers here, and the
apache, cisco and URL parsers elsewhere) share `_parse_once`: one
regexp_replace per row materialised in a Project, and the output
fields emitted by a generator. The generator is what makes the regex
run once per row: a Filter, template or rewrite downstream reads the
generated columns, which Catalyst cannot substitute back into the
parse expression, so no reference to a parsed field re-runs it.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

# <PRI>MMM dd HH:mm:ss HOST PROGRAM[PID]: MSG
RFC3164_RE = (
    r"^(?:<(\d{1,3})>)?"  # 1 pri (optional)
    r"([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "  # 2 timestamp
    r"(\S+) "  # 3 host
    r"([^\s:\[]+)(?:\[(\d+)\])?: "  # 4 program, 5 pid
    r"(.*)$"  # 6 message
)

# <PRI>VERSION ISOTIMESTAMP HOST APP-NAME PROCID MSGID [SD] MSG
RFC5424_RE = (
    r"^<(\d{1,3})>(\d) "  # 1 pri, 2 version
    r"(\S+) "  # 3 timestamp
    r"(\S+) (\S+) (\S+) (\S+) "  # 4 host, 5 app, 6 procid, 7 msgid
    r"(-|(?:\[.*?\])+)"  # 8 structured data
    r"(?: (.*))?$"  # 9 message
)


_SEP = "\x1f"


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _group(i: int) -> Column:
    """Capture group i of the line `_parse_once` parses; NULL on a
    line its regex does not match."""
    return F.element_at(F.col("_g"), i)


def _parse_once(
    df: DataFrame, col: str, regex: str, n_groups: int, fields: dict[str, Column]
) -> DataFrame:
    """Run a parser's anchored regex over `col` once per row and add
    its output columns: `fields` maps each output name to an
    expression over `_group(i)`. Columns keep `df`'s order; a field
    named like an existing column replaces it in place, others are
    appended.

    The line is rewritten into a \\x1f-delimited group list
    (regexp_replace) and split, materialised in a Project with no
    CASE around it. regexp_replace leaves a non-matching line as it
    is, so a match is told by the array's size, and a second Project
    nulls any other array: every element_at then reads a NULL array
    or one of exactly `n_groups` entries, never out of range (ANSI
    mode raises there). split's limit keeps a separator inside the
    last group in that group.

    The fields are built in one struct, in a Project (which has
    subexpression elimination, so a value several fields share is
    computed once), and leave through a generator,
    inline(array(struct)), so that what is downstream reads parsed
    values. Without the generator, predicate pushdown substitutes the
    parse's aliases into a Filter with no cost check, and Filter
    codegen has no subexpression elimination, nor does Project
    codegen hoist a subexpression out of a CASE branch: a parse
    Project under a three-reference filter re-ran the whole regex 14
    times per row. A Generate's output cannot be substituted, so the
    regex runs once."""
    repl = _SEP.join(f"${i}" for i in range(1, n_groups + 1))
    groups = F.col("_g")
    staged = df.withColumn(
        "_g", F.split(F.regexp_replace(F.col(col), regex, repl), _SEP, n_groups)
    ).withColumn("_g", F.when(F.size(groups) == n_groups, groups))
    packed = staged.withColumn("_p", F.struct(*[c.alias(n) for n, c in fields.items()]))
    parsed = packed.select(
        *[_quoted(c) for c in df.columns if c not in fields], F.inline(F.array(F.col("_p")))
    )
    return parsed.select(
        *[_quoted(c) for c in df.columns],
        *[_quoted(n) for n in fields if n not in df.columns],
    )


def syslog_parser_3164(df: DataFrame, raw: str = "raw", year: int = 2024,
                       default_pri: int = 13) -> DataFrame:
    """Parse BSD-syslog lines. BSD stamps carry no year; the reference
    infers it from the current time (syslog-format.c), we take it as an
    argument for determinism.

    Lines WITHOUT a <PRI> header take ``default_pri`` — the
    reference's log_msg_parse_pri falls back to default_pri when set
    and user.notice (13) otherwise (syslog-format.c:96); the conf
    front-end sets it from default-facility()/default-severity()
    (cfg-grammar.y msg_format_option)."""
    g = lambda i: F.nullif(_group(i), F.lit(""))  # noqa: E731
    pri = F.coalesce(g(1).cast("int"), F.lit(int(default_pri)))
    # normalize space-padded day ('Jan  5') for to_timestamp
    stamp_norm = F.replace(g(2), F.lit("  "), F.lit(" "))
    fields = {
        "facility": (pri / 8).cast("int"),
        "severity": (pri % 8).cast("int"),
        "ts": F.to_timestamp(
            F.concat(F.lit(str(year) + " "), stamp_norm), "yyyy MMM d HH:mm:ss"
        ),
        "host": g(3),
        "program": g(4),
        "pid": g(5).cast("int"),
        "message": F.coalesce(_group(6), F.lit("")),
    }
    return _parsed_first(_parse_once(df, raw, RFC3164_RE, 6, fields), df, raw, fields)


def _sd_pairs(sd: Column) -> Column:
    """'[id k="v" k2="v2"][id2 ...]' → map('id.k' -> 'v', ...)"""
    return F.map_from_entries(F.flatten(F.transform(
        F.regexp_extract_all(sd, F.lit(r"\[([^\]]*)\]"), 1),
        lambda elem: F.transform(
            F.regexp_extract_all(elem, F.lit(r'(\S+)="([^"]*)"'), 0),
            lambda kv: F.struct(
                F.concat(F.split(elem, " ")[0], F.lit("."),
                         F.regexp_extract(kv, r'(\S+)="', 1)).alias("key"),
                F.regexp_extract(kv, r'="([^"]*)"', 1).alias("value"),
            ),
        ),
    )))


def syslog_parser_5424(df: DataFrame, raw: str = "raw",
                       default_pri: int = 13) -> DataFrame:
    """Parse RFC5424 lines incl. structured-data → map<string,string>
    of 'sdid.param' keys (reference flattens SD the same way into
    .SDATA.sdid.param name-value pairs). A line whose <PRI> is absent
    (parse failure) takes ``default_pri`` — log_msg_parse_pri's
    fallback (syslog-format.c:96, user.notice unless configured)."""
    g = lambda i: F.nullif(_group(i), F.lit("-"))  # noqa: E731
    pri = F.coalesce(g(1).cast("int"), F.lit(int(default_pri)))
    sd = _group(8)
    fields = {
        "facility": (pri / 8).cast("int"),
        "severity": (pri % 8).cast("int"),
        "version": g(2).cast("int"),
        "ts": F.to_timestamp(g(3)),
        "host": g(4),
        "program": g(5),
        "pid": g(6).cast("int"),
        "msgid": g(7),
        "sdata": F.when(sd == "-", F.create_map().cast("map<string,string>"))
        .otherwise(_sd_pairs(sd)),
        "message": F.coalesce(_group(9), F.lit("")),
    }
    return _parsed_first(_parse_once(df, raw, RFC5424_RE, 9, fields), df, raw, fields)


def _parsed_first(parsed: DataFrame, df: DataFrame, raw: str,
                  names: Iterable[str]) -> DataFrame:
    """The syslog parsers' column order: the parsed fields `names`,
    then `df`'s other columns without the raw line."""
    return parsed.select(
        *[_quoted(c) for c in names],
        *[_quoted(c) for c in df.columns if c != raw and c not in names],
    )


def csv_parser(
    df: DataFrame,
    col: str,
    names: Sequence[str],
    sep: str = ",",
    drop: bool = True,
    greedy: bool = False,
    drop_invalid: bool = False,
) -> DataFrame:
    """csv-parser(columns(...) flags(greedy, drop-invalid)).

    Default path uses `from_csv` for quote-aware splitting
    (lib/scanner/csv-scanner supports quote pairs); plain split would
    break on quoted separators.

    `greedy` (CSV_SCANNER_GREEDY, csv-scanner.c:367): the LAST column
    swallows the raw rest of the input, separators included —
    implemented as one anchored regexp shared verbatim with the DuckDB
    oracle, so this path is separator-literal (quote-aware + greedy is
    not combined, matching typical message-tail usage).

    `drop_invalid` (csvparser.c:164 csv_scanner_is_scan_complete):
    a row must consume ALL input with EXACTLY the declared columns
    (>= for greedy, the tail eats the surplus) or the whole message is
    dropped, not half-parsed."""
    import re as _re

    nsep = F.size(F.split(F.col(col), _re.escape(sep), -1)) - 1
    if greedy:
        rx = "^" + "".join(f"([^{_re.escape(sep)}]*){_re.escape(sep)}" for _ in names[:-1]) + "(.*)$"
        out = df
        for i, n in enumerate(names):
            out = out.withColumn(n, F.regexp_extract(F.col(col), rx, i + 1))
        if drop_invalid:
            out = out.where(nsep >= len(names) - 1)
    else:
        schema = ", ".join(f"`{n}` string" for n in names)
        parsed = F.from_csv(F.col(col), schema, {"sep": sep})
        out = df.withColumn("_csv", parsed)
        if drop_invalid:
            # completeness = exactly the declared separator count; a
            # null surviving that check is an EMPTY field, which the
            # reference scanner yields as '' (scan still complete) —
            # univocity maps unquoted empties to null unconditionally
            out = out.where(nsep == len(names) - 1)
            for n in names:
                out = out.withColumn(n, F.coalesce(F.col(f"_csv.{n}"), F.lit("")))
        else:
            for n in names:
                out = out.withColumn(n, F.col(f"_csv.{n}"))
        out = out.drop("_csv")
    return out.drop(col) if drop else out


def tags_parser(df: DataFrame, col: str, tags_col: str = "tags") -> DataFrame:
    """tags-parser(): parse a comma-separated list and SET each
    element as a message tag (modules/tagsparser/tags-parser.c over
    lib/scanner/list-scanner). Elements are trimmed, empties dropped,
    and merged set-wise into an existing tags column
    (log_msg_set_tag_by_name is idempotent)."""
    parsed = F.filter(
        F.transform(F.split(F.col(col), ",", -1), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    if tags_col in df.columns:
        merged = F.array_union(
            F.coalesce(F.col(tags_col), F.array().cast("array<string>")), parsed
        )
    else:
        merged = F.array_distinct(parsed)
    return df.withColumn(tags_col, merged)


def _fold_kv_entries(entries) -> F.Column:
    """entry array → map with LAST-wins key override (kv-scanner
    overwrites repeated keys; map_from_entries would throw
    DUPLICATED_MAP_KEY under the default ANSI dedup policy the moment
    a dirty line repeats a key).

    Implemented as map_from_entries under
    spark.sql.mapKeyDedupPolicy=LAST_WIN — O(pairs) per row vs the
    r1-r4 per-entry filter+concat fold, whose acc rebuild made it
    O(pairs²): kv_parse measured 23.7s → 6.3s at sf10 (0.42M → 1.6M
    msgs/s), kv_parse_quoted 17.2s → 8.7s. Same policy precedent as
    functions/format._merge_maps
    (last-wins IS this engine's stated map semantics); a shadowed key
    keeps its FIRST position with the LAST value — no consumer
    observes entry order. Requires an active session at plan-build
    time, like _merge_maps."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "_fold_kv_entries requires an active SparkSession to set "
            "spark.sql.mapKeyDedupPolicy=LAST_WIN (kv re-assignment is "
            "last-wins); build plans via syslog_ng_spark.session.get_session()"
        )
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    return F.map_from_entries(F.filter(entries, lambda e: e["key"] != ""))


def kv_parser(
    df: DataFrame, col: str, target: str = "kv", pair_sep: str = " ", kv_sep: str = "="
) -> DataFrame:
    """kv-parser(): 'k=v k2=v2' → map<string,string>.

    Reference: modules/kvformat/kv-scanner.c — repeated keys overwrite
    (last wins), malformed tokens never abort the scan. Values
    containing the pair separator need the quoted form
    (kv_parser_quoted below)."""
    toks = F.split(F.col(col), pair_sep)
    entries = F.transform(
        toks,
        lambda t: F.struct(
            F.substring_index(t, kv_sep, 1).alias("key"),
            F.when(
                t.contains(kv_sep),
                t.substr(
                    F.length(F.substring_index(t, kv_sep, 1)) + 1 + len(kv_sep),
                    F.length(t),
                ),
            ).alias("value"),
        ),
    )
    return df.withColumn(target, _fold_kv_entries(entries))


def kv_parser_quoted(df: DataFrame, col: str, target: str = "kv") -> DataFrame:
    """kv-scanner's quoted-value mode: k="v with spaces" k2=v2.

    Key charclass is [^\\s="]+ — keys cannot contain '=' or '"'
    (reference: modules/kvformat/kv-scanner.c key scan stops at '=').
    A greedy \\S+ key would backtrack INTO the opening quote when a
    quoted value contains '=' (e.g. a="= " parsed key as 'a="'), starving
    the quoted alternative and truncating the value at the next space
    — found by hypothesis (tests/test_property_parsers.py), frozen as a
    regression case there."""
    entries = F.expr(
        f"""
        transform(
          regexp_extract_all({col}, '([^\\\\s="]+)=("[^"]*"|\\\\S*)', 0),
          kv -> struct(
            regexp_extract(kv, '^([^=]+)=', 1) as key,
            regexp_replace(regexp_extract(kv, '=(.*)$', 1), '^"|"$', '') as value)
        )
        """.strip()
    )
    return df.withColumn(target, _fold_kv_entries(entries))


# Fields the Linux kernel audit subsystem hex-encodes when the value
# contains characters outside 0x21..0x7e or a double quote
# (reference: modules/kvformat/linux-audit-parser.c hexcoded_fields[])
_AUDIT_HEX_FIELDS = ("name", "proctitle", "path", "dir", "comm", "ocomm", "data", "old", "new")


def linux_audit_parser(df: DataFrame, col: str, target: str = "kv") -> DataFrame:
    """linux-audit() kv mode: auditd lines ('type=SYSCALL msg=audit(…):
    a0=… proctitle=2F62696E…') where the kernel hex-encodes certain
    fields. Reference: modules/kvformat/linux-audit-parser.c
    (parse_linux_audit_style_hexdump), exercised by its criterion
    suite — those cases are replicated in tests/test_parsers.py.

    A value is decoded iff ALL of: the key is a known hexcoded field
    (or a0/a1/… arg), the value was NOT quoted, has even nonzero
    length, is entirely hex digits, at least one decoded byte is
    outside 0x21..0x7e or is '"' (otherwise the kernel would not have
    hex-encoded it — '41607E' stays as-is), and the decode is valid
    UTF-8. NUL bytes become tabs (the kernel's argv separator).
    Everything is Catalyst array/string expressions; UTF-8 validity
    uses is_valid_utf8 over the raw bytes (decode() would abort the
    job on malformed input), exactly g_utf8_validate's role in the
    reference."""
    entries = F.expr(
        f"""
        transform(
          regexp_extract_all({col}, '([^\\\\s="]+)=("[^"]*"|\\\\S*)', 0),
          kv -> struct(
            regexp_extract(kv, '^([^=]+)=', 1) as key,
            regexp_extract(kv, '=(.*)$', 1) as raw)
        )
        """.strip()
    )

    def decode_value(key: Column, raw: Column) -> Column:
        unq = F.regexp_replace(raw, '^"|"$', "")
        hexish = (
            (~raw.startswith('"'))
            & (F.length(raw) > 0)
            & (F.length(raw) % 2 == 0)
            & raw.rlike("^[0-9A-Fa-f]+$")
        )
        applicable = key.isin(*_AUDIT_HEX_FIELDS) | key.rlike("^a[0-9]")
        pairs = F.regexp_extract_all(raw, F.lit("[0-9A-Fa-f]{2}"), 0)
        byte_vals = F.transform(pairs, lambda p: F.conv(p, 16, 10).cast("int"))
        kernel_would = F.exists(
            byte_vals, lambda b: (b < 0x21) | (b > 0x7E) | (b == 0x22)
        )
        hex2 = F.array_join(
            F.transform(
                pairs, lambda p: F.when(p == "00", F.lit("09")).otherwise(F.upper(p))
            ),
            "",
        )
        decoded = F.unhex(hex2).cast("string")
        valid = F.is_valid_utf8(decoded)
        return F.when(applicable & hexish & kernel_would & valid, decoded).otherwise(unq)

    decoded_entries = F.transform(
        entries,
        lambda e: F.struct(
            e["key"].alias("key"), decode_value(e["key"], e["raw"]).alias("value")
        ),
    )
    return df.withColumn(target, _fold_kv_entries(decoded_entries))


def journal_export_records(df: DataFrame, col: str, target: str = "record") -> DataFrame:
    """systemd journal export stream → one row per journal entry.
    The export format separates entries with an empty line; `col`
    holds a chunk of the stream (e.g. one wholetext file). Binary
    size-prefixed fields (FIELD\\n<le64 len><data>) are a §6 non-goal —
    they need byte-level framing, not line splitting; journalctl -o
    export emits them only for fields with embedded newlines."""
    recs = F.filter(F.split(F.col(col), "\n\n+"), lambda r: F.trim(r) != "")
    return df.withColumn(target, F.explode(recs))


def journal_export_parser(
    df: DataFrame, col: str = "record", prefix: str = ".journald."
) -> DataFrame:
    """One journal export entry (FIELD=value lines) → canonical log
    columns. Reference: modules/systemd-journal/journal-reader.c
    (_map_key_value_pairs_to_syslog_macros + _handle_data):
    MESSAGE→message, _HOSTNAME→host, _PID→pid, PRIORITY→severity,
    SYSLOG_FACILITY→facility, program = SYSLOG_IDENTIFIER falling back
    to _COMM (_set_program), timestamp from __REALTIME_TIMESTAMP
    (microseconds, journald_get_realtime_usec), and EVERY field —
    including the mapped ones — lands in sdata under the source's
    prefix() (default '.journald.', journal_reader_options_defaults).
    Lines without '=' (would-be binary fields) are skipped."""
    lines = F.filter(F.split(F.col(col), "\n"), lambda line: line.contains("="))
    entries = F.transform(
        lines,
        lambda line: F.struct(
            F.substring_index(line, "=", 1).alias("key"),
            line.substr(
                F.length(F.substring_index(line, "=", 1)) + 2, F.length(line)
            ).alias("value"),
        ),
    )
    m = _fold_kv_entries(entries)
    out = df.withColumn("_j", m)
    g = lambda k: F.element_at(F.col("_j"), k)  # noqa: E731
    return (
        out.withColumn("ts", F.timestamp_micros(g("__REALTIME_TIMESTAMP").cast("long")))
        .withColumn("host", g("_HOSTNAME"))
        .withColumn("program", F.coalesce(g("SYSLOG_IDENTIFIER"), g("_COMM")))
        .withColumn("pid", g("_PID").cast("int"))
        .withColumn("severity", g("PRIORITY").cast("int"))
        .withColumn("facility", g("SYSLOG_FACILITY").cast("int"))
        .withColumn("message", g("MESSAGE"))
        .withColumn("sdata", F.transform_keys(F.col("_j"), lambda k, v: F.concat(F.lit(prefix), k)))
        .drop("_j")
    )


def json_parser(df: DataFrame, col: str, target: str = "sdata") -> DataFrame:
    """json-parser(): JSON object string → map<string,string> (reference
    flattens scalar members into NV pairs; nested objects keep their
    JSON rendering as the value)."""
    return df.withColumn(target, F.from_json(F.col(col), MapType(StringType(), StringType())))


def date_parser(df: DataFrame, col: str, fmt: str, target: str = "ts") -> DataFrame:
    """date-parser(format(...)): string → timestamp with explicit format
    (reference: modules/timestamp/date-parser.c, strptime-driven).
    try_to_timestamp: an unparseable string is null (the reference
    drops to the next candidate format), not an ANSI job abort."""
    return df.withColumn(target, F.try_to_timestamp(F.col(col), F.lit(fmt)))


def xml_parser(
    df: DataFrame, col: str, schema: str, target: str = "xml_parsed", drop: bool = False
) -> DataFrame:
    """xml-parser() (reference: modules/xml/xml.c — flattens elements
    and attributes into NV pairs). Spark's from_xml parses into a typed
    struct; attributes arrive with the default '_' prefix, matching the
    reference's .xml attribute naming convention."""
    out = df.withColumn(target, F.from_xml(F.col(col), schema))
    return out.drop(col) if drop else out


def pattern_parser(
    df: DataFrame,
    col: str,
    rules: Sequence[tuple[str, str]],
    target: str = "class",
    default: str = "unknown",
) -> DataFrame:
    """db-parser/patterndb classification: ordered (pattern, class)
    rules, first match wins (reference: modules/dbparser/radix.c walks a
    prefix trie; Catalyst's short-circuit CASE WHEN gives the same
    first-match semantics and is codegen'd)."""
    expr = None
    for pattern, cls in rules:
        cond = F.col(col).rlike(pattern)
        expr = F.when(cond, F.lit(cls)) if expr is None else expr.when(cond, F.lit(cls))
    expr = expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)
    return df.withColumn(target, expr)
