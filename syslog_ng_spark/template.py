"""syslog-ng template-string compiler: template text → Spark Column.

The reference's primary user surface is the template string —
``"<$PRI>$ISODATE $HOST $MSGHDR$MSG $(sha1 $MSG)"`` — tokenized by
lib/template/compiler.c, evaluated by lib/template/eval.c, with macro
names from lib/template/macros.c and functions from
modules/basicfuncs/*.c. Behavior here is modeled on the reference's
own tests (lib/template/tests/test_template.c):

- ``$NAME`` (longest [A-Za-z0-9_] run) and ``${NAME}`` value refs;
  braced names may contain dots (``${APP.VALUE}`` → sdata lookup).
- ``${NAME:-default}`` default when the value is unset; the default
  text is itself a template.
- ``$$`` renders a literal ``$``; a ``$`` not followed by a valid
  name/brace/paren stays literal (``$}`` → "$}").
- ``$(func arg ...)`` template functions: args split on whitespace
  (newlines included), quoted with ' or " to carry spaces, and every
  arg is itself a template (nesting expands inside quotes, matching
  test_template.c's ``$(echo '$(echo $HOST)')`` cases).
- unbalanced ``${`` or ``$(`` is a compile error; an unbalanced
  CLOSING brace/paren is literal text.
- unset/missing values render as '' (LogMessage semantics); a name
  absent from the DataFrame schema is unset, not an analysis error.

Compilation is declarative: the result is ONE Column expression
(concat of parts), fully JVM-side — Catalyst sees through it, so a
compiled template costs the same as the hand-written expression and
stays inside whole-stage codegen. The ONLY Python-side functions are
the two that are Python by nature: $(md4) (no JVM/OpenSSL-3 digest)
and $(python) (user callables) — both Arrow-batched pandas UDFs,
opt-in, never in the default path.

Function-name coverage is 1:1 with the reference's registered
template-function plugins (see tests/test_template_registry.py for
the per-name sweep against the plugin tables in
modules/basicfuncs/basic-funcs.c, modules/json/json-plugin.c,
modules/cryptofuncs, modules/getent, modules/stardate,
modules/graphite, …). '-' and '_' are interchangeable in function
names, matching plugin.c:153's candidate comparison.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from syslog_ng_spark.datamodel import facility_name, pri, severity_name
from syslog_ng_spark.functions import macros
from syslog_ng_spark.functions.fname import basename, dirname
from syslog_ng_spark.functions.hashfuncs import (
    stable_uuid,
    tf_hash,
    tf_md4,
    tf_md5,
    tf_sha1,
    tf_sha256,
    tf_sha512,
)
from syslog_ng_spark.functions.ipfuncs import ipv4_to_int
from syslog_ng_spark.functions.listfuncs import list_search as _list_search_arr
from syslog_ng_spark.functions.numfuncs import (
    num_average,
    num_max,
    num_min,
    num_sum,
)
from syslog_ng_spark.functions.sysfuncs import dns_resolve_ip, env_value, getent_lookup
from syslog_ng_spark.functions.strfuncs import (
    indent_multi_line,
    padding,
    replace_delimiter,
    sanitize,
    substr,
)
from syslog_ng_spark.functions.urlfuncs import base64_encode, url_decode, url_encode


class TemplateCompileError(ValueError):
    """Raised for the syntax errors the reference rejects at compile
    time (unbalanced '${' / '$(', unknown function)."""


# ---------------------------------------------------------------------------
# parser → AST
#   ("lit", text)
#   ("val", name, default_parts | None)
#   ("fn", name, [args])  where an arg is ("tpl", parts) or ("cond", raw)
# ---------------------------------------------------------------------------

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|\d+")
_FN_NAME_RE = re.compile(r"[A-Za-z0-9_*+/%-]+")


def parse_template(text: str) -> list:
    parts: list = []
    lit: list[str] = []
    i, n = 0, len(text)

    def flush():
        if lit:
            parts.append(("lit", "".join(lit)))
            lit.clear()

    def msg_ref(j: int) -> tuple[int | None, int]:
        """Parse an optional '@N' correlation-state suffix after a
        value/function element (lib/template/compiler.c
        parse_msg_ref): '@<digits>' selects context message N counted
        from the latest, '@@' collapses to a literal '@', and '@' +
        non-digit stays literal text."""
        if j < n and text[j] == "@":
            if j + 1 < n and text[j + 1] == "@":
                lit.append("@")
                return None, j + 2
            k = j + 1
            while k < n and text[k].isdigit():
                k += 1
            if k > j + 1:
                return int(text[j + 1 : k]), k
        return None, j

    while i < n:
        ch = text[i]
        if ch != "$":
            lit.append(ch)
            i += 1
            continue
        if i + 1 >= n:
            lit.append("$")
            break
        nxt = text[i + 1]
        if nxt == "$":
            lit.append("$")
            i += 2
        elif nxt == "{":
            end = text.find("}", i + 2)
            if end < 0:
                raise TemplateCompileError("'}' is missing")
            inner = text[i + 2 : end]
            flush()
            ref, i = msg_ref(end + 1)
            if ":-" in inner:
                name, default = inner.split(":-", 1)
                parts.append(("val", name, parse_template(default), ref))
            else:
                parts.append(("val", inner, None, ref))
        elif nxt == "(":
            node, i = _parse_fn(text, i + 2)
            # flush BEFORE msg_ref: '@@' appends a literal '@' that
            # must render AFTER the function output (parse_msg_ref —
            # the ${..} and bare-name branches already order this way)
            flush()
            ref, i = msg_ref(i)
            parts.append((node[0], node[1], node[2], ref))
        else:
            m = _NAME_RE.match(text, i + 1)
            if m:
                flush()
                ref, i = msg_ref(m.end())
                parts.append(("val", m.group(0), None, ref))
            else:
                lit.append("$")
                i += 1
    flush()
    return parts


def _parse_fn(text: str, i: int) -> tuple[tuple, int]:
    """Parse 'name arg ... )' starting just after '$('; returns the fn
    node and the index after the closing ')'."""
    m = _FN_NAME_RE.match(text, i)
    if not m:
        raise TemplateCompileError("missing function name or imbalanced '('")
    name, i = m.group(0), m.end()
    args: list = []
    n = len(text)
    while True:
        while i < n and text[i] in " \t\n\r":
            i += 1
        if i >= n:
            raise TemplateCompileError("missing function name or imbalanced '('")
        if text[i] == ")":
            return ("fn", name, args), i + 1
        if text[i] in "'\"":
            # quoted arg content is copied VERBATIM up to the first
            # matching quote — no escape processing
            # (lib/template/compiler.c add_quoted_string: strchr to the
            # closing quote, raw append; '\t' inside quotes reaches the
            # function as backslash-t)
            quote, j = text[i], text.find(text[i], i + 1)
            if j < 0:
                raise TemplateCompileError("missing function name or imbalanced '('")
            raw = text[i + 1 : j]  # `i = j + 1` below lands past the quote
            # the third element is the RAW argument text — prepare-time
            # consumers ($(if)/$(grep) filter expressions,
            # tf_cond_prepare) parse the unexpanded source, not the
            # template-parsed parts
            args.append(("tpl", parse_template(raw), raw))
            i = j + 1
        elif text[i] == "(":
            # parens inside ' / " quotes don't count toward balance
            # ($(grep ('$FACILITY(' eq 'local3(') $PID) is valid,
            # test_basicfuncs.c:137)
            j, depth, q = i + 1, 1, None
            while j < n and depth:
                c = text[j]
                if q is not None:
                    if c == q:
                        q = None
                elif c in "'\"":
                    q = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                j += 1
            if depth:
                raise TemplateCompileError("missing function name or imbalanced '('")
            args.append(("cond", text[i + 1 : j - 1]))
            i = j
        else:
            # bare word: runs to whitespace or this fn's ')', but a
            # nested $(...) or ${...} inside is carried whole
            j, buf = i, []
            while j < n and text[j] not in " \t\n\r)":
                if text[j] == "$" and j + 1 < n and text[j + 1] == "(":
                    k, depth = j + 2, 1
                    while k < n and depth:
                        if text[k] == "(":
                            depth += 1
                        elif text[k] == ")":
                            depth -= 1
                        k += 1
                    if depth:
                        raise TemplateCompileError("missing function name or imbalanced '('")
                    buf.append(text[j:k])
                    j = k
                elif text[j] == "$" and j + 1 < n and text[j + 1] == "{":
                    k = text.find("}", j + 2)
                    if k < 0:
                        raise TemplateCompileError("'}' is missing")
                    buf.append(text[j : k + 1])
                    j = k + 1
                elif text[j] == "(":
                    # a bare '(' mid-word opens a balanced group that
                    # is carried whole, whitespace included — the
                    # reference's arg scanner balances parens, so
                    # $(if program("x" type(pcre)) a b) passes the
                    # whole program(...) expression as one argument
                    # (lib/template/compiler.c)
                    k, depth = j + 1, 1
                    while k < n and depth:
                        if text[k] == "(":
                            depth += 1
                        elif text[k] == ")":
                            depth -= 1
                        k += 1
                    if depth:
                        raise TemplateCompileError(
                            "missing function name or imbalanced '('"
                        )
                    buf.append(text[j:k])
                    j = k
                else:
                    buf.append(text[j])
                    j += 1
            raw = "".join(buf)
            args.append(("tpl", parse_template(raw), raw))
            i = j


# ---------------------------------------------------------------------------
# hard macros over the canonical log schema
# (reference: lib/template/macros.c macro table)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# date macro family (macros.c M_* time cases), parameterized on the
# timestamp expression so the four prefix families generate from one
# table: bare/S_* (stamp) / R_* (received) bind the event time — the
# batch model carries ONE event timestamp (logmsg.h has two; the
# documented adaptation) — and C_* / P_* (current/processed) bind
# F.current_timestamp(), Spark's query-constant "now", which is
# exactly the reference's eval-time wall clock with plan-level
# stability.
# ---------------------------------------------------------------------------


def _month_week(ts: Column) -> Column:
    # macros.c M_MONTH_WEEK: (mday/7) + ((wday > 0) && (mday%7 >= wday))
    # with tm fields (mday 1-based, wday 0=Sunday)
    mday = F.dayofmonth(ts)
    wday = F.dayofweek(ts) - 1
    bump = ((wday > 0) & (mday % 7 >= wday)).cast("int")
    return ((mday / 7).cast("int") + bump).cast("string")


_DATE_FNS: dict[str, Callable[[Column], Column]] = {
    "ISODATE": macros.isodate,
    "FULLDATE": macros.fulldate,
    "DATE": macros.date,
    "STAMP": macros.date,
    "YEAR": macros.year,
    "MONTH": macros.month,
    "DAY": macros.day,
    "HOUR": macros.hour,
    "MIN": macros.minute,
    "SEC": macros.sec,
    "WEEK_DAY": lambda ts: macros.week_day(ts).cast("string"),
    "UNIXTIME": lambda ts: macros.unixtime(ts).cast("string"),
    "MONTH_ABBREV": lambda ts: F.date_format(ts, "MMM"),
    "MONTH_NAME": lambda ts: F.date_format(ts, "MMMM"),
    "YEAR_DAY": lambda ts: F.date_format(ts, "DDD"),
    "WEEKDAY": lambda ts: F.date_format(ts, "EEE"),  # deprecated alias
    "WEEK_DAY_NAME": lambda ts: F.date_format(ts, "EEEE"),
    "WEEK_DAY_ABBREV": lambda ts: F.date_format(ts, "EEE"),
    # M_WEEK: zero-based week with Monday-start weeks (macros.c:
    # (yday - (wday-1+7)%7 + 7) / 7 with tm's 0-based fields)
    "WEEK": lambda ts: F.lpad(
        ((F.dayofyear(ts) - 1 - F.pmod(F.dayofweek(ts) - 2 + 7, 7) + 7) / 7)
        .cast("int")
        .cast("string"),
        2,
        "0",
    ),
    "ISOWEEK": lambda ts: F.lpad(F.weekofyear(ts).cast("string"), 2, "0"),
    "MONTH_WEEK": _month_week,
    "HOUR12": lambda ts: F.date_format(ts, "hh"),
    "AMPM": lambda ts: F.date_format(ts, "a"),
    "TZOFFSET": macros.tzoffset,
    "TZ": macros.tzoffset,
    # M_MSEC/M_USEC: zero-padded sub-second fields of the stamp
    "MSEC": lambda ts: F.date_format(ts, "SSS"),
    # cast: unix_micros rejects TIMESTAMP_NTZ inputs (session TZ is
    # UTC, so ntz→ltz is the identity)
    "USEC": lambda ts: F.lpad(
        (F.unix_micros(ts.cast("timestamp")) % 1000000).cast("string"), 6, "0"
    ),
}


MACROS: dict[str, Callable[[], Column]] = {
    "FACILITY": lambda: facility_name(F.col("facility")),
    "FACILITY_NUM": lambda: F.col("facility").cast("string"),
    "SEVERITY": lambda: severity_name(F.col("severity")),
    "PRIORITY": lambda: severity_name(F.col("severity")),
    "LEVEL": lambda: severity_name(F.col("severity")),
    "SEVERITY_NUM": lambda: F.col("severity").cast("string"),
    "LEVEL_NUM": lambda: F.col("severity").cast("string"),
    "PRI": lambda: pri(F.col("facility"), F.col("severity")).cast("string"),
    "MSGHDR": lambda: macros.msghdr(F.col("program"), F.col("pid")),
    "MSG": lambda: F.col("message"),
    "MESSAGE": lambda: F.col("message"),
    "HOST": lambda: F.col("host"),
    "PROGRAM": lambda: F.col("program"),
    "PID": lambda: F.col("pid").cast("string"),
    "TAGS": lambda: F.array_join(F.col("tags"), ","),
    # M_TAG: the PRI as a 2-padded HEX number (macros.c:470-474)
    "TAG": lambda: F.lpad(
        F.lower(F.hex(pri(F.col("facility"), F.col("severity")))), 2, "0"
    ),
    # M_BSDTAG: severity digit + facility as a letter from 'A'
    # (macros.c:480-485 — pri 155 renders "3T")
    "BSDTAG": lambda: F.concat(
        F.col("severity").cast("string"),
        F.char(F.col("facility") + F.lit(ord("A"))),
    ),
    "FULLHOST": lambda: F.col("host"),
    "HOST_FROM": lambda: F.col("host"),
    "FULLHOST_FROM": lambda: F.col("host"),
    # M_LOGHOST: the host doing the processing — the DRIVER's hostname,
    # captured once (every executor renders the same value, like the
    # reference's single daemon host)
    "LOGHOST": lambda: F.lit(__import__("socket").gethostname()),
    # M_HOSTID: the persistent 8-hex host id (host-id.c) — derived
    # deterministically from the hostname instead of a random
    # persist-file value, so reruns are replayable
    "HOSTID": lambda: F.lit(
        format(
            __import__("zlib").crc32(__import__("socket").gethostname().encode()),
            "08x",
        )
    ),
    # M_SDATA: the whole structured-data block in RFC5424 [id k="v"]
    # form from the sdata NV map (log_msg_append_format_sdata renders
    # the stored SD pairs; dotted NV names regroup under their SD-ID)
    "SDATA": lambda: _sdata_block(F.col("sdata")),
    # M_RUNID: per-run identifier (run-id.c persists a counter; the
    # Spark-native run id is the application id — unique per run,
    # stable within it)
    "RUNID": lambda: F.lit(_session_run_id()),
    # M_SYSUPTIME: hundredths of a second since the daemon started —
    # here since the SparkSession started, evaluated per query
    "SYSUPTIME": lambda: (
        (F.unix_millis(F.current_timestamp()) - F.lit(_session_start_ms())) / 10
    )
    .cast("long")
    .cast("string"),
}


def _session_run_id() -> str:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return s.sparkContext.applicationId if s is not None else ""


def _session_start_ms() -> int:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return s.sparkContext.startTime if s is not None else 0


def _sdata_block(nv: Column) -> Column:
    """${SDATA}: render '.SDATA.id.key' NV entries (the 5424 parser's
    storage convention, syslog-format.c) back to '[id key="v"...]'
    blocks, ids in sorted order — '-' when none."""
    sd = F.filter(F.map_entries(nv), lambda e: e["key"].startswith(".SDATA."))
    ids = F.array_distinct(
        F.transform(sd, lambda e: F.split(e["key"], "\\.").getItem(2))
    )
    block = F.array_join(
        F.transform(
            F.array_sort(ids),
            lambda i: F.concat(
                F.lit("["),
                i,
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.filter(
                                sd,
                                lambda e: F.split(e["key"], "\\.").getItem(2) == i,
                            )
                        ),
                        lambda e: F.concat(
                            F.lit(" "),
                            F.element_at(F.split(e["key"], "\\."), -1),
                            F.lit('="'),
                            F.regexp_replace(e["value"], r'([\\"\]])', r"\\$1"),
                            F.lit('"'),
                        ),
                    ),
                    "",
                ),
                F.lit("]"),
            ),
        ),
        "",
    )
    return F.when(F.size(sd) > 0, block).otherwise(F.lit("-"))


# the four prefixed date-macro families + the bare names, all from
# _DATE_FNS (see its comment for the time-source mapping)
for _name, _fn in _DATE_FNS.items():
    MACROS[_name] = lambda f=_fn: f(F.col("ts"))
    MACROS[f"S_{_name}"] = lambda f=_fn: f(F.col("ts"))
    MACROS[f"R_{_name}"] = lambda f=_fn: f(F.col("ts"))
    MACROS[f"C_{_name}"] = lambda f=_fn: f(F.current_timestamp())
    MACROS[f"P_{_name}"] = lambda f=_fn: f(F.current_timestamp())


def schema_resolver(
    columns: list[tuple[str, str]] | list[str],
) -> Callable[[str], Column | None]:
    """Resolver over a known schema — a frame's `dtypes` (bare column
    names also work, but then no column is known to be a map): hard
    macros first, then exact column names, then dotted NV names —
    read from a map column named by the longest dotted prefix (".kv.id"
    from the ".kv" map a prefixed kv-parser writes), else from the
    `sdata` map. Names that resolve to nothing are UNSET (render '' /
    take the :-default) — like logmsg's nv-table, and unlike a bare
    F.col() which would blow up analysis on a missing column."""
    schema = [c if isinstance(c, tuple) else (c, "") for c in columns]
    cols = {c for c, _ in schema}
    maps = {c for c, t in schema if t.startswith("map<")}

    def resolve(name: str) -> Column | None:
        if name in MACROS:
            return MACROS[name]()
        if name in cols:
            return F.col(name).cast("string")
        # connection macros (macros.c M_SOURCE_IP/M_DEST_IP/M_DEST_PORT/
        # M_PROTOCOL): socket-derived per-message fields — bound to the
        # matching columns when the pipeline carries them, unset
        # otherwise (the reference renders them empty for non-socket
        # sources too)
        if name == "SOURCE" and "source" in cols:
            # LM_V_SOURCE: the source statement's group name, set at
            # reception (lib/driver.c:219) — bound when the conf
            # pipeline carries it, unset otherwise
            return F.col("source").cast("string")
        conn = {"SOURCEIP": "ip", "DESTIP": "destip",
                "DESTPORT": "destport", "PROTO": "proto"}.get(name)
        if conn is not None and conn in cols:
            return F.col(conn).cast("string")
        # per-delivery state (macros.c M_SEQNUM/M_RCPTID/M_UNIQID):
        # bound when the pipeline carries the assigned columns
        # (operators/delivery.py); 0 renders unset like the reference
        # (options->seq_num / msg->rcptid of 0 append nothing)
        if name in ("SEQNUM", "RCPTID"):
            src = name.lower()
            if src in cols:
                c = F.col(src).cast("long")
                return F.when(c != 0, c.cast("string")).otherwise(F.lit(""))
        if name == "UNIQID" and "rcptid" in cols:
            # M_UNIQID (macros.c:657): HOSTID '@' rcptid as 16-wide
            # zero-padded hex; empty when rcptid is 0
            c = F.col("rcptid").cast("long")
            return F.when(
                c != 0,
                F.concat(MACROS["HOSTID"](), F.lit("@"),
                         F.lpad(F.lower(F.hex(c)), 16, "0")),
            ).otherwise(F.lit(""))
        nv = F.col("sdata").getItem(name) if "sdata" in cols else None
        for i in range(len(name) - 1, 0, -1):  # longest map prefix first
            if name[i] == "." and name[:i] in maps:
                # a set() of the same dotted name lands in sdata
                item = F.col(f"`{name[:i]}`").getItem(name[i + 1:]).cast("string")
                return item if nv is None else F.coalesce(item, nv)
        return nv  # NV pairs (incl. dotted names) live in the sdata map

    return resolve


# ---------------------------------------------------------------------------
# template functions (modules/basicfuncs/*.c)
# Each handler receives `args`: a list of Arg(col, lit) where .col is
# the evaluated string Column and .lit is the python string when the
# arg was a pure literal (for offset/width params), else None.
# ---------------------------------------------------------------------------


class Arg:
    __slots__ = ("col", "lit")

    def __init__(self, col: Column, lit: str | None):
        self.col = col
        self.lit = lit

    def int_lit(self, what: str) -> int:
        if self.lit is None:
            raise TemplateCompileError(f"$({what}) parameter must be a literal integer")
        return int(self.lit)


def _num(a: Arg) -> Column:
    # try_cast, never cast: ANSI mode (Spark 4 default) turns a single
    # malformed value into a job-killing CAST_INVALID_INPUT; the
    # reference renders unset instead, which null -> '' gives us
    return a.col.try_cast("long")


def _arith(op, zero_guard: bool = False) -> Callable:
    """numeric-funcs.c binary arithmetic, exactly: int64 when BOTH
    operands parse as integers (strtoll), double (%.20f output) when
    either needs strtod, the literal string "NaN" on parse failure or
    division/modulo by zero (test_basicfuncs.c test_numeric_funcs:
    '$(/ 19 0)' → NaN, '$(+ foo bar)' → NaN, '$(/ 3.0 2)' →
    1.50000000000000000000)."""

    def handler(args: list[Arg]) -> Column:
        a, b = args[0].col, args[1].col
        ai, bi = a.try_cast("long"), b.try_cast("long")
        ad, bd = a.try_cast("double"), b.try_cast("double")
        bad = ad.isNull() | bd.isNull()
        if zero_guard:
            bad = bad | (bd == 0.0)
        both_int = ai.isNotNull() & bi.isNotNull()
        int_res = op(ai, bi, True)
        flt_res = F.format_string("%.20f", op(ad, bd, False))
        return (
            F.when(bad, F.lit("NaN"))
            .when(both_int, int_res.cast("long").cast("string"))
            .otherwise(flt_res)
        )

    return handler


def _int_div(x: Column, y: Column, is_int: bool) -> Column:
    if not is_int:
        return F.try_divide(x, y)
    # C int64 division truncates toward zero (tf_num_div): strip the
    # C-sign remainder so the quotient is exact, then divide in
    # DECIMAL — a double intermediate rounds |operands| > 2^53
    # ('$(/ 9007199254740993 1)' must render ...93, not ...92)
    exact = (x - x % y).cast("decimal(38,0)")
    return F.try_divide(exact, y.cast("decimal(38,0)"))


def _tf_round(args: list[Arg]) -> Column:
    # numeric-funcs.c $(round value [frac-digits]): digits outside
    # 0..20 → NaN; 0 digits → integer; else exactly that many decimals
    digits = args[1].int_lit("round") if len(args) > 1 else 0
    val = args[0].col.try_cast("double")
    if digits < 0 or digits > 20:
        return F.lit("NaN")
    if digits == 0:
        return F.when(val.isNull(), F.lit("NaN")).otherwise(
            F.round(val, 0).try_cast("long").cast("string")
        )
    return F.when(val.isNull(), F.lit("NaN")).otherwise(
        F.format_string(f"%.{digits}f", F.round(val, digits))
    )


def _tf_substr(args: list[Arg]) -> Column:
    start = args[1].int_lit("substr")
    length = args[2].int_lit("substr") if len(args) > 2 else None
    return substr(args[0].col, start, length)


def _tf_padding(args: list[Arg]) -> Column:
    width = args[1].int_lit("padding")
    # an explicit EMPTY padding string falls back to the default space
    # (test_basicfuncs.c: "$(padding foo 4 '')" → " foo")
    fill = (args[2].lit or " ") if len(args) > 2 and args[2].lit is not None else " "
    return padding(args[0].col, width, fill)


def _list_col(args: list[Arg]) -> Column:
    """list funcs take comma-separated list strings (list-funcs.c);
    multiple args concatenate into one list."""
    return F.concat_ws(",", *[a.col for a in args])


def _split_list(s: Column) -> Column:
    """comma list string → DECODED element array, implementing the
    reference's quoted list model (lib/scanner/list-scanner +
    lib/str-repr/decode.c): elements containing commas/quotes/spaces/
    control chars travel "-quoted with C escapes, bare empty slots are
    skipped ('$(list-head ,bar,baz)' → 'bar'), a QUOTED empty '""' is
    a real empty element. Tokenizer: quoted-or-bare alternation; a
    token is treated as quoted only when wrapped in one matching
    quote pair."""
    toks = F.regexp_extract_all(s, F.lit("(?s)(" + _LIST_TOKEN_RX + ")"), 1)
    return F.transform(toks, _decode_elem)


# list-scanner.c token shapes, in order: a properly-closed quoted
# token must be FOLLOWED by ',' or end-of-input (str-repr decode
# demands a delimiter after the closing quote); otherwise a token
# that STARTS with a quote is a quotation error and the decoder
# keeps the RAW REST of the input ("prefer to have data in an
# incorrectly formatted way, than no data at all" —
# _parse_value_from_current_position); bare tokens run to the comma.
# Parity: tests/test_list_scanner_parity.py (ported criterion suite).
_LIST_TOKEN_RX = (
    "\"(?:[^\"\\\\]|\\\\.)*\"(?=,|\\z)"
    "|'(?:[^'\\\\]|\\\\.)*'(?=,|\\z)"
    "|[\"'].*"
    "|[^,]+"
)

# ONE quoting implementation (r11 unification): the list model and the
# kv-scanner share lib/str-repr's encode/decode — functions/strrepr.py
from syslog_ng_spark.functions.strrepr import (  # noqa: E402
    decode_quoted_token as _decode_elem,
    encode_elem as _encode_elem,
)


def _join_encoded(arr: Column) -> Column:
    return F.array_join(F.transform(arr, _encode_elem), ",")


def _nonempty(c: Column) -> Column:
    return F.when((c.isNotNull()) & (c != ""), c)


def _tf_explode(args: list[Arg]) -> Column:
    """$(explode sep str...) — list-funcs.c tf_explode: split every
    further arg on the literal separator, emit one comma list. An empty
    input contributes nothing (g_strsplit of "" is the empty vector)."""
    if not args:
        return F.lit("")
    sep = args[0].lit
    if sep is None:
        raise TemplateCompileError("$(explode) separator must be a literal")
    arrs = [
        F.when(a.col == "", F.array().cast("array<string>")).otherwise(
            F.split(a.col, re.escape(sep))
        )
        for a in args[1:]
    ]
    if not arrs:
        return F.lit("")
    # tf_explode str_repr-encodes each produced element
    return _join_encoded(F.concat(*arrs) if len(arrs) > 1 else arrs[0])


def _tf_implode(args: list[Arg]) -> Column:
    """$(implode sep list...) — join the list elements with the literal
    separator (tf_implode)."""
    if not args:
        return F.lit("")
    sep = args[0].lit
    if sep is None:
        raise TemplateCompileError("$(implode) separator must be a literal")
    return F.array_join(_split_list(_list_col(args[1:])), sep)


def _tf_list_nth(args: list[Arg]) -> Column:
    n = args[0].int_lit("list-nth")
    arr = _split_list(_list_col(args[1:]))
    if n >= 0:
        return F.coalesce(F.try_element_at(arr, F.lit(n + 1)), F.lit(""))
    # negative: -1 is the last element; beyond the front renders unset
    return F.coalesce(F.try_element_at(arr, F.lit(n)), F.lit(""))


def _tf_list_slice(args: list[Arg]) -> Column:
    """$(list-slice FIRST:LAST list...) — 0-based, end-exclusive,
    either bound omissible, NEGATIVE bounds count from the end
    (list-funcs.c tf_list_slice / _list_slice's clamping:
    '$(list-slice -2: a,b,c)' → 'b,c', '$(list-slice -100: …)' →
    everything)."""
    spec = args[0].lit
    if spec is None:
        raise TemplateCompileError("$(list-slice) FIRST:LAST must be a literal")
    first_s, _, last_s = spec.partition(":")
    try:
        first = int(first_s) if first_s else 0
        last = int(last_s) if last_s else None
    except ValueError as e:
        raise TemplateCompileError(f"$(list-slice) bad slice spec {spec!r}") from e
    arr = _split_list(_list_col(args[1:]))
    sz = F.size(arr)
    start = F.lit(first) if first >= 0 else F.greatest(sz + first, F.lit(0))
    if last is None:
        end = sz
    elif last >= 0:
        end = F.least(F.lit(last), sz)
    else:
        end = F.greatest(sz + last, F.lit(0))
    out = F.slice(arr, start + 1, F.greatest(end - start, F.lit(0)))
    # _list_slice str_repr-encodes each element back (list-funcs.c:142)
    return _join_encoded(out)


def _tf_json_escape(c: Column) -> Column:
    # same single-pass escape as functions.format._json_escape (kept
    # local: format.py imports this module's compiler for $(format-json)
    # args)
    return F.regexp_replace(c, r'([\\"])', r"\\$1")


FUNCTIONS: dict[str, Callable[[list[Arg]], Column]] = {
    "echo": lambda a: F.concat_ws(" ", *[x.col for x in a]) if a else F.lit(""),
    # the str-funcs.c case/strip/length functions process EVERY arg,
    # space-joined; strip additionally skips args that trim to ''
    # (test_basicfuncs.c: '$(length $HOST $PID)' → '5 5',
    # '$(strip  $S5 $S1 $S5)' → 'value')
    "lowercase": lambda a: F.concat_ws(" ", *[F.lower(x.col) for x in a]) if a else F.lit(""),
    "uppercase": lambda a: F.concat_ws(" ", *[F.upper(x.col) for x in a]) if a else F.lit(""),
    "strip": lambda a: F.concat_ws(" ", *[_nonempty(F.trim(x.col)) for x in a]) if a else F.lit(""),
    "length": lambda a: F.concat_ws(
        " ", *[F.length(x.col).cast("string") for x in a]
    ) if a else F.lit(""),
    "basename": lambda a: basename(a[0].col),
    "dirname": lambda a: dirname(a[0].col),
    "md5": lambda a: tf_md5(F.concat(*[x.col for x in a])),
    "sha1": lambda a: tf_sha1(F.concat(*[x.col for x in a])),
    "sha256": lambda a: tf_sha256(F.concat(*[x.col for x in a])),
    "hash": lambda a: tf_hash(F.concat(*[x.col for x in a])),
    "uuid": lambda a: stable_uuid(*[x.col for x in a]) if a else stable_uuid(F.lit("")),
    "url-encode": lambda a: url_encode(a[0].col),
    "url-decode": lambda a: url_decode(a[0].col),
    "base64-encode": lambda a: base64_encode(F.concat(*[x.col for x in a])),
    "ipv4-to-int": lambda a: ipv4_to_int(a[0].col).cast("string"),
    "sanitize": lambda a: sanitize(a[0].col),
    # escape a rendered value for embedding inside a hand-built JSON
    # string literal (the escaping $(format-json) applies to values) —
    # elasticsearch_http routes macro-bearing _index/_id through this
    "json-escape": lambda a: _tf_json_escape(
        a[0].col if len(a) == 1 else F.concat_ws(" ", *[x.col for x in a])
    ),
    "indent-multi-line": lambda a: indent_multi_line(a[0].col),
    "replace-delimiter": lambda a: replace_delimiter(
        a[2].col, a[0].lit or "", a[1].lit or ""
    ),
    "+": _arith(lambda x, y, i: x + y),
    "-": _arith(lambda x, y, i: x - y),
    "*": _arith(lambda x, y, i: x * y),
    "/": _arith(_int_div, zero_guard=True),
    # Spark's % follows the dividend's sign, like C's fmod/% — the
    # reference's int64 and double modulo semantics both match
    "%": _arith(lambda x, y, i: x % y, zero_guard=True),
    "round": _tf_round,
    "ceil": lambda a: F.when(a[0].col.try_cast("double").isNull(), F.lit("NaN"))
    .otherwise(F.ceil(a[0].col.try_cast("double")).try_cast("long").cast("string")),
    "floor": lambda a: F.when(a[0].col.try_cast("double").isNull(), F.lit("NaN"))
    .otherwise(F.floor(a[0].col.try_cast("double")).try_cast("long").cast("string")),
    "substr": _tf_substr,
    "padding": _tf_padding,
    "list-head": lambda a: F.coalesce(F.get(_split_list(_list_col(a)), 0), F.lit("")),
    "list-tail": lambda a: _join_encoded(
        F.slice(
            _split_list(_list_col(a)),
            2,
            F.greatest(F.size(_split_list(_list_col(a))) - 1, F.lit(0)),
        )
    ),
    "list-count": lambda a: F.size(_split_list(_list_col(a))).cast("string"),
    # list-funcs.c tf_list_nth: the INDEX is the first argument;
    # negative indices count from the end (-1 = last); out-of-range
    # renders unset (try_element_at, not the ANSI-crashing element_at)
    "list-nth": _tf_list_nth,
    # tf_list_append: argv[0] is the list VERBATIM, further args are
    # VALUES that get str_repr-encoded ('$(list-append l "xxx,")' →
    # 'l,"xxx,"'); tf_list_concat scans every arg as a LIST and
    # re-encodes the merged elements (empty slots drop,
    # test_basicfuncs.c:414-429)
    "list-append": lambda a: F.concat_ws(
        ",", _nonempty(a[0].col), *[_encode_elem(x.col) for x in a[1:]]
    )
    if a
    else F.lit(""),
    "list-concat": lambda a: _join_encoded(_split_list(_list_col(a))),
    "list-slice": _tf_list_slice,
    "explode": _tf_explode,
    "implode": _tf_implode,
    # numeric-funcs.c aggregates: arguments are lists, non-numeric
    # elements skipped, int64 arithmetic (num_* handle all of that)
    "sum": lambda a: num_sum(_split_list(_list_col(a))).cast("string"),
    "min": lambda a: num_min(_split_list(_list_col(a))).cast("string"),
    "max": lambda a: num_max(_split_list(_list_col(a))).cast("string"),
    "average": lambda a: num_average(_split_list(_list_col(a))).cast("string"),
    "sha512": lambda a: tf_sha512(F.concat(*[x.col for x in a])),
    "md4": lambda a: tf_md4(F.concat(*[x.col for x in a])),
}


# ---------------------------------------------------------------------------
# $(if (cond) a b) condition language — cond-funcs.c + filter-cmp.c:
# symbolic ops (== < …) compare numerically when both sides are
# numbers, else as strings; word ops (eq lt …) always compare strings.
# ---------------------------------------------------------------------------

_COND_RE = re.compile(
    r"""\s*(?:"([^"]*)"|'([^']*)'|([^\s<>=!]+))\s*"""
    r"""(==|!=|<=|>=|<|>|eq|ne|lt|le|gt|ge)"""
    r"""\s*(?:"([^"]*)"|'([^']*)'|(.+?))\s*$"""
)

_CMP = {
    "eq": lambda a, b: a == b,
    "ne": lambda a, b: a != b,
    "lt": lambda a, b: a < b,
    "le": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "ge": lambda a, b: a >= b,
}
_SYM = {"==": "eq", "!=": "ne", "<": "lt", "<=": "le", ">": "gt", ">=": "ge"}


class TemplateCompiler:
    """Compiles template strings to Columns. `resolver` maps a value
    name to a Column or None (= unset); build one with
    `schema_resolver(df.dtypes)` or pass your own. With
    `escape=True`, substituted VALUES (not literal text) get " \\ '
    backslash-escaped — the reference's template escape option for
    rendering into quoted contexts (lib/template/escaping.c,
    test_template.c test_escaping)."""

    def __init__(
        self,
        resolver: Callable[[str], Column | None],
        escape: bool = False,
        templates: dict[str, str] | None = None,
        context_col: str | None = None,
        python_funcs: dict[str, Callable] | None = None,
    ):
        self.resolver = resolver
        self.escape = escape
        # named templates for $(template NAME) (tf-template.c static /
        # dynamic binding); the conf front-end fills this from
        # template {} statements
        self.templates = templates or {}
        # array<struct> column holding the correlation context for
        # $(grep)/$(context-*) (cond-funcs.c / context-funcs.c) — built
        # by grouping_by-style collect_list upstream
        self.context_col = context_col
        # user-registered callables for $(python) (modules/python)
        self.python_funcs = python_funcs or {}
        # innermost-first element scopes for $_ / context rows inside
        # $(map)/$(filter)/$(grep); entries are name→Column|None
        self._scope: list[Callable[[str], Column | None]] = []
        self._tpl_stack: list[str] = []
        # a one-message context slice while compiling a $(fn)@N element
        self._context_override: Column | None = None

    def compile(self, template: str) -> Column:
        return self._parts_col(parse_template(template))

    def _escaped(self, c: Column) -> Column:
        if not self.escape:
            return c
        return F.regexp_replace(c, r"""([\\"'])""", r"\\$1")

    def _parts_col(self, parts: list) -> Column:
        if not parts:
            return F.lit("")
        cols = [self._part(p) for p in parts]
        return cols[0] if len(cols) == 1 else F.concat(*cols)

    def _part(self, node) -> Column:
        kind = node[0]
        if kind == "lit":
            return F.lit(node[1])
        if kind == "val":
            name, default = node[1], node[2]
            ref = node[3] if len(node) > 3 else None
            if ref is not None:
                sel = self._msg_ref_scope(ref)
                if sel is None:
                    # @N beyond the context renders unset; @0 without a
                    # context is the current message (eval.c)
                    if ref > 0:
                        return self._parts_col(default) if default is not None else F.lit("")
                else:
                    self._scope.append(sel)
                    try:
                        return self._part(("val", name, default))
                    finally:
                        self._scope.pop()
            val = None
            for scope in reversed(self._scope):
                val = scope(name)
                if val is not None:
                    break
            if val is None:
                val = self.resolver(name)
            if val is None:
                return self._parts_col(default) if default is not None else F.lit("")
            val = self._escaped(val.cast("string"))
            fallback = self._parts_col(default) if default is not None else F.lit("")
            return F.coalesce(val, fallback)
        if kind == "fn":
            ref = node[3] if len(node) > 3 else None
            if ref is not None and self.context_col:
                # $(fn ...)@N: the function sees a ONE-message context —
                # message N counted back from the latest; beyond the
                # context everything renders unset (eval.c msg_ref:
                # msg_ndx = num_messages - (N+1))
                ctx = F.col(self.context_col)
                elem = F.try_element_at(ctx, F.size(ctx) - F.lit(ref))
                in_range = F.size(ctx) > ref
                saved = self._context_override
                self._context_override = F.when(in_range, F.array(elem)).otherwise(
                    F.slice(ctx, 1, 0)
                )
                inner = self._ctx_scope(elem)
                self._scope.append(lambda n: F.when(in_range, inner(n)))
                try:
                    out = self._fn(node)
                finally:
                    self._scope.pop()
                    self._context_override = saved
                return F.coalesce(self._escaped(out.cast("string")), F.lit(""))
            return F.coalesce(self._escaped(self._fn(node).cast("string")), F.lit(""))
        raise TemplateCompileError(f"unknown node {kind}")

    def _fn(self, node) -> Column:
        name, raw_args = node[1], node[2]
        # plugin name lookup treats '-' and '_' as the same character
        # (lib/plugin.c:153) — $(format_json) and $(format-json) are one
        # function; canonical spelling here is dashed
        name = name.replace("_", "-")
        if name == "if":
            return self._fn_if(raw_args)
        if name in (
            "format-json",
            "format-welf",
            "format-flat-json",
            "graphite-output",
            "format-cef-extension",
        ):
            return self._fn_format(name, raw_args)
        if name == "or":
            vals = [self._arg_col(a) for a in raw_args]
            cleaned = [F.when((c.isNotNull()) & (c != ""), c) for c in vals]
            return F.coalesce(*cleaned, F.lit(""))
        if name == "map":
            return self._fn_map(raw_args)
        if name == "filter":
            return self._fn_filter(raw_args)
        if name in ("grep", "context-lookup"):
            return self._fn_grep(name, raw_args)
        if name == "context-values":
            return self._fn_context_values(raw_args)
        if name == "context-length":
            return F.size(self._context("context-length")).cast("string")
        if name == "template":
            return self._fn_template(raw_args)
        if name == "iterate":
            raise TemplateCompileError(
                "$(iterate) is a stateful per-output recurrence (tf-iterate.c keeps"
                " a mutex-guarded counter); in a distributed plan use"
                " syslog_ng_spark.template.iterate_sequence(df, template, init,"
                " order_by=...) which closes the affine recurrences over a window"
            )
        if name == "python":
            return self._fn_python(raw_args)
        if name == "slog":
            raise TemplateCompileError(
                "$(slog) secure-logging is a forward-secure sequential chain"
                " (modules/secure-logging); use"
                " syslog_ng_spark.operators.securelog.hash_chain/verify_chain"
            )
        if name == "geoip2":
            raise TemplateCompileError(
                "$(geoip2) needs a maxminddb database; use"
                " syslog_ng_spark.operators.enrich.geoip_range_enrich (range-join"
                " enrichment over a geoip table — the broadcastable path)"
            )
        if name == "env":
            return self._fn_env(raw_args)
        if name == "binary":
            return self._fn_binary(raw_args)
        if name == "getent":
            return self._fn_getent(raw_args)
        if name == "dns-resolve-ip":
            return self._fn_dns_resolve_ip(raw_args)
        if name == "sanitize":
            return self._fn_sanitize(raw_args)
        if name == "stardate":
            return self._fn_stardate(raw_args)
        if name == "list-search":
            return self._fn_list_search(raw_args)
        if name in ("md5", "md4", "sha1", "sha256", "sha512", "hash"):
            return self._fn_hash(name, raw_args)
        handler = FUNCTIONS.get(name)
        if handler is None:
            raise TemplateCompileError(f"unknown template function $({name})")
        return handler([self._arg(a) for a in raw_args])

    # -- scoped evaluation helpers (map/filter/grep element binding) --

    def _in_scope(self, scope: Callable[[str], Column | None], body: Callable[[], Column]) -> Column:
        self._scope.append(scope)
        try:
            return body()
        finally:
            self._scope.pop()

    def _leading_flags(
        self,
        raw_args: list,
        known: dict[str, type],
        aliases: dict[str, str] | None = None,
        boolean: set[str] | None = None,
    ) -> tuple[dict, list]:
        """Pop leading GOption-style flags: '--flag value',
        '--flag=value', short '-f value' via `aliases`, and valueless
        `boolean` flags (the argv prefix the reference's prepare
        functions strip)."""
        aliases = aliases or {}
        boolean = boolean or set()
        opts: dict[str, object] = {}
        i = 0
        while i < len(raw_args):
            a = raw_args[i]
            if a[0] != "tpl" or len(a[1]) != 1 or a[1][0][0] != "lit":
                break
            lit = a[1][0][1]
            if lit.startswith("--"):
                flag = lit[2:]
            elif lit.startswith("-") and lit[1:] in aliases:
                flag = aliases[lit[1:]]
            else:
                break
            inline = None
            if "=" in flag:
                flag, inline = flag.split("=", 1)
            if flag in boolean:
                opts[flag] = True
                i += 1
                continue
            if flag not in known:
                raise TemplateCompileError(f"unknown option --{flag}")
            if inline is not None:
                opts[flag] = known[flag](inline)
                i += 1
                continue
            if i + 1 >= len(raw_args):
                raise TemplateCompileError(f"--{flag} needs a value")
            val = self._arg(raw_args[i + 1])
            if val.lit is None:
                raise TemplateCompileError(f"--{flag} value must be literal")
            opts[flag] = known[flag](val.lit)
            i += 2
        return opts, raw_args[i:]

    def _fn_map(self, raw_args) -> Column:
        """$(map template list...) — tf-map.c: render the template once
        per element with $_ bound to the element (context_id in the
        reference's eval options), other names still resolving against
        the row."""
        if len(raw_args) < 2 or raw_args[0][0] != "tpl":
            raise TemplateCompileError("$(map) needs a template and a list")
        tpl_parts = raw_args[0][1]
        lst = _list_col([self._arg(a) for a in raw_args[1:]])
        mapped = F.transform(
            _split_list(lst),
            lambda elem: self._in_scope(
                lambda n: elem if n in ("_", "CONTEXT_ID") else None,
                lambda: self._parts_col(tpl_parts).cast("string"),
            ),
        )
        # tf_map_call str_repr-encodes each rendered value; tf_filter
        # (below) appends the kept values RAW — asymmetric in the
        # reference too
        return _join_encoded(mapped)

    def _fn_filter(self, raw_args) -> Column:
        """$(filter (cond) list...) — tf-filter.c: keep elements whose
        condition (same mini-language as $(if)) matches with $_ bound."""
        cond_text = self._cond_arg_text("filter", raw_args)
        lst = _list_col([self._arg(a) for a in raw_args[1:]])
        kept = F.filter(
            _split_list(lst),
            lambda elem: self._in_scope(
                lambda n: elem if n in ("_", "CONTEXT_ID") else None,
                lambda: self._cond(cond_text),
            ),
        )
        return F.array_join(kept, ",")

    def _context(self, fn_name: str) -> Column:
        if self._context_override is not None:
            return self._context_override
        if not self.context_col:
            raise TemplateCompileError(
                f"$({fn_name}) reads the correlation context: compile with"
                " context_col=<array<struct> column> (built by a grouping-by"
                " collect, e.g. operators.correlate.grouping_by)"
            )
        return F.col(self.context_col)

    def _msg_ref_scope(self, ref: int) -> Callable[[str], Column | None] | None:
        """Scope for a '$NAME@N' value reference: names resolve against
        context message N-from-latest, null (→ unset) when the context
        is shorter. None when no context is configured."""
        if not self.context_col:
            return None
        ctx = F.col(self.context_col)
        elem = F.try_element_at(ctx, F.size(ctx) - F.lit(ref))
        inner = self._ctx_scope(elem)
        in_range = F.size(ctx) > ref
        return lambda n: F.when(in_range, inner(n))

    def _ctx_scope(self, elem: Column) -> Callable[[str], Column | None]:
        # context functions render each name against the CONTEXT row,
        # not the outer row (context-funcs.c evaluates per message);
        # the standard macros map onto the log-schema struct fields,
        # everything else is a raw field access (missing fields
        # surface as analysis errors, like missing columns elsewhere)
        _direct = {
            "PID": "pid",
            "HOST": "host",
            "PROGRAM": "program",
            "MSG": "message",
            "MESSAGE": "message",
        }

        def resolve(name: str) -> Column:
            if name == "_":
                return elem
            if name in _direct:
                return elem.getField(_direct[name])
            if name == "FACILITY":
                return facility_name(elem.getField("facility"))
            if name == "FACILITY_NUM":
                return elem.getField("facility")
            if name in ("SEVERITY", "PRIORITY"):
                return severity_name(elem.getField("severity"))
            if name in ("SEVERITY_NUM", "LEVEL_NUM"):
                return elem.getField("severity")
            return elem.getField(name)

        return resolve

    def _fn_grep(self, fn_name: str, raw_args) -> Column:
        """$(grep [--max-count N] (cond) $nv...) and its alias
        $(context-lookup): values of matching context rows, comma list
        (cond-funcs.c tf_grep_call / context-funcs.c)."""
        opts, rest = self._leading_flags(
            raw_args, {"max-count": int}, aliases={"m": "max-count"}
        )
        cond_text = self._cond_arg_text(fn_name, rest)
        ctx = self._context(fn_name)
        matches = F.filter(
            ctx,
            lambda m: self._in_scope(self._ctx_scope(m), lambda: self._cond(cond_text)),
        )
        max_count = int(opts.get("max-count", 0))
        if max_count > 0:
            matches = F.slice(matches, 1, max_count)
        return self._render_per_ctx_row(matches, rest[1:])

    def _fn_context_values(self, raw_args) -> Column:
        """$(context-values $nv...) — every context row's values."""
        if not raw_args:
            raise TemplateCompileError("$(context-values) needs value refs")
        return self._render_per_ctx_row(self._context("context-values"), raw_args)

    def _render_per_ctx_row(self, rows: Column, nv_args: list) -> Column:
        def per_row(m: Column) -> Column:
            return self._in_scope(
                self._ctx_scope(m),
                lambda: F.array(*[self._arg_col(a).cast("string") for a in nv_args]),
            )

        return F.array_join(F.flatten(F.transform(rows, per_row)), ",")

    def _fn_template(self, raw_args) -> Column:
        """$(template name [fallback...]) — tf-template.c: static
        binding when the literal name resolves at compile time; a
        $-bearing name binds dynamically (runtime CASE over the
        registry) with the remaining args space-joined as fallback."""
        if not raw_args:
            raise TemplateCompileError("$(template) requires the template name")
        first = self._arg(raw_args[0])
        if first.lit is not None:
            name = first.lit
            if name in self._tpl_stack:
                raise TemplateCompileError(f"$(template) recursion via {name!r}")
            if name not in self.templates:
                raise TemplateCompileError(
                    f'$(template) Unknown template function or template "{name}"'
                )
            self._tpl_stack.append(name)
            try:
                return self._parts_col(parse_template(self.templates[name]))
            finally:
                self._tpl_stack.pop()
        # dynamic: runtime name → CASE over registry entries
        name_col = first.col
        fallback = (
            F.concat_ws(" ", *[self._arg_col(a) for a in raw_args[1:]])
            if len(raw_args) > 1
            else F.lit("")
        )
        out = fallback
        for tname, ttext in self.templates.items():
            if tname in self._tpl_stack:
                continue
            self._tpl_stack.append(tname)
            try:
                rendered = self._parts_col(parse_template(ttext)).cast("string")
            finally:
                self._tpl_stack.pop()
            out = F.when(name_col == tname, rendered).otherwise(out)
        return out

    def _fn_python(self, raw_args) -> Column:
        """$(python fn args...) — modules/python tf_python: call a
        registered Python callable per row. Arrow-batched pandas UDF;
        the one deliberately Python-side template function."""
        if not raw_args:
            raise TemplateCompileError("$(python) requires the function name")
        first = self._arg(raw_args[0])
        if first.lit is None:
            raise TemplateCompileError("$(python) function name must be literal")
        fn = self.python_funcs.get(first.lit)
        if fn is None:
            raise TemplateCompileError(
                f"$(python) function {first.lit!r} not registered: compile with"
                " python_funcs={'name': callable} (str args → str)"
            )
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _py(*cols):
            if not cols:
                return pd.Series([], dtype="object")
            frame = pd.concat(cols, axis=1)
            return frame.apply(lambda r: str(fn(*[("" if v is None else str(v)) for v in r])), axis=1)

        # real type objects: PEP 563 string hints can't resolve the
        # local pandas import during pyspark's signature inspection
        _py.__annotations__ = {"cols": pd.Series, "return": pd.Series}
        _py = pandas_udf(_py, "string")

        args = [self._arg_col(a).cast("string") for a in raw_args[1:]]
        if not args:
            args = [F.lit("")]
        return _py(*args)

    def _fn_env(self, raw_args) -> Column:
        names = []
        for a in raw_args:
            arg = self._arg(a)
            if arg.lit is None:
                raise TemplateCompileError("$(env) names must be literal")
            names.append(arg.lit)
        return env_value(*names)

    def _fn_binary(self, raw_args) -> Column:
        """$(binary XX YY) — misc-funcs.c tf_binary: bytes from numeric
        (hex-friendly) literals, emitted as the latin-1 string of those
        bytes."""
        vals = []
        for a in raw_args:
            arg = self._arg(a)
            if arg.lit is None:
                raise TemplateCompileError("$(binary) byte values must be literal")
            try:
                # C-style numbers: 0x hex, leading-0 octal, else decimal
                # (misc-funcs.c parses with the C number rules —
                # "$(binary 0xFF 255 0377)" is three times 255)
                lit = arg.lit
                if lit.startswith("0") and len(lit) > 1 and all(c in "01234567" for c in lit[1:]):
                    v = int(lit, 8)
                else:
                    v = int(lit, 0)
            except ValueError as e:
                raise TemplateCompileError(f"$(binary) bad byte value {arg.lit!r}") from e
            if not 0 <= v <= 255:
                raise TemplateCompileError(f"$(binary) byte value out of range: {v}")
            vals.append(v)
        return F.lit(bytes(vals).decode("latin-1"))

    def _fn_getent(self, raw_args) -> Column:
        if len(raw_args) < 2:
            raise TemplateCompileError("$(getent) needs a database and a key")
        db = self._arg(raw_args[0])
        if db.lit is None:
            raise TemplateCompileError("$(getent) database must be literal")
        member = ""
        if len(raw_args) > 2:
            m = self._arg(raw_args[2])
            if m.lit is None:
                raise TemplateCompileError("$(getent) member must be literal")
            member = m.lit
        try:
            return getent_lookup(db.lit, self._arg_col(raw_args[1]), member)
        except ValueError as e:
            raise TemplateCompileError(str(e)) from e

    def _fn_sanitize(self, raw_args) -> Column:
        """$(sanitize [-r CHAR] [-i CHARS] [-C] value...) — tf_sanitize
        with its GOption flags; multiple values join with '/'
        (test_basicfuncs.c: '$(sanitize $HOST $PROGRAM)' →
        'bzorp/syslog-ng')."""
        from syslog_ng_spark.functions.strfuncs import sanitize as _sanitize

        opts, rest = self._leading_flags(
            raw_args,
            {"replacement": str, "invalid-chars": str},
            # the exact GOption set (str-funcs.c stize_options):
            # --ctrl-chars/-c asserts the TRUE default (a no-op),
            # --no-ctrl-chars/-C is the G_OPTION_FLAG_REVERSE negation
            aliases={"r": "replacement", "i": "invalid-chars",
                     "C": "no-ctrl-chars", "c": "ctrl-chars"},
            boolean={"no-ctrl-chars", "ctrl-chars"},
        )
        # both flags write the same GOption variable — the LAST one
        # seen wins (opts preserves insertion order)
        ctrl = True
        for flag in opts:
            if flag == "ctrl-chars":
                ctrl = True
            elif flag == "no-ctrl-chars":
                ctrl = False
        # each arg sanitizes SEPARATELY and the results join with '/'
        # (tf_sanitize appends the separator outside the replace loop:
        # '$(sanitize $HOST $PROGRAM)' → 'bzorp/syslog-ng')
        parts = [
            _sanitize(
                self._arg_col(a),
                replacement=str(opts.get("replacement", "_")),
                invalid_chars=str(opts.get("invalid-chars", "/")),
                ctrl_chars=ctrl,
            )
            for a in rest
        ]
        return F.concat_ws("/", *parts) if parts else F.lit("")

    def _fn_dns_resolve_ip(self, raw_args) -> Column:
        """$(dns-resolve-ip [OPTIONS] IP) — ip-funcs.c via the
        host-resolve options: --use-dns=no passes the address through;
        otherwise resolution is hosts-file persist-only
        (--dns-cache-hosts overrides the file). An address that isn't
        IPv4/IPv6-shaped renders unset, matching g_sockaddr_inet_new
        failing."""
        opts, rest = self._leading_flags(
            raw_args,
            {
                "use-dns": str,
                "dns-cache": str,
                "dns-cache-hosts": str,
                "normalize-hostnames": str,
            },
        )
        if len(rest) != 1:
            raise TemplateCompileError(
                "dns-resolve-ip: too many arguments provided."
                " usage: $(dns-resolve-ip [OPTIONS] IP)"
            )
        ip = self._arg_col(rest[0]).cast("string")
        shaped = ip.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$") | (
            ip.rlike(r"^[0-9A-Fa-f:]+$") & ip.contains(":")
        )
        if str(opts.get("use-dns", "yes")) == "no":
            return F.when(shaped, ip).otherwise(F.lit(""))
        resolved = dns_resolve_ip(ip, hosts_path=str(opts.get("dns-cache-hosts", "/etc/hosts")))
        if str(opts.get("normalize-hostnames", "no")) in ("yes", "1", "on"):
            resolved = F.lower(resolved)
        return F.when(shaped, resolved).otherwise(F.lit(""))

    def _fn_stardate(self, raw_args) -> Column:
        from syslog_ng_spark.functions.format import stardate

        opts, rest = self._leading_flags(raw_args, {"digits": int})
        if len(rest) != 1:
            raise TemplateCompileError("$(stardate [--digits N] timestamp)")
        digits = int(opts.get("digits", 2))
        if not 0 <= digits <= 9:
            raise TemplateCompileError("$(stardate) --digits must be 0-9")
        ts = self._arg_col(rest[0])
        # accept either a timestamp-ish string or epoch seconds
        # ($UNIXTIME is the common argument in the reference's docs)
        as_ts = F.coalesce(
            ts.try_cast("timestamp"),
            F.timestamp_seconds(ts.try_cast("double")),
        )
        return F.format_string(f"%.{digits}f", stardate(as_ts, digits))

    def _fn_list_search(self, raw_args) -> Column:
        opts, rest = self._leading_flags(
            raw_args, {"mode": str, "start-index": int}
        )
        if len(rest) < 2:
            raise TemplateCompileError("$(list-search [--mode m] pattern list)")
        pat = self._arg(rest[0])
        if pat.lit is None:
            raise TemplateCompileError("$(list-search) pattern must be literal")
        mode = str(opts.get("mode", "literal"))
        if mode == "glob":
            # translate glob → anchored pcre like the reference's
            # string_matcher glob mode
            import fnmatch

            pat_val: str | Column = fnmatch.translate(pat.lit)
            mode = "pcre"
        else:
            pat_val = pat.lit
        try:
            return _list_search_arr(
                _split_list(_list_col([self._arg(a) for a in rest[1:]])),
                pat_val,
                mode=mode,
                start_index=int(opts.get("start-index", 0)),
            )
        except ValueError as e:
            raise TemplateCompileError(str(e)) from e

    def _fn_hash(self, name: str, raw_args) -> Column:
        """cryptofuncs.c hash family with the shared --length option
        (truncate the hex digest to N chars)."""
        opts, rest = self._leading_flags(raw_args, {"length": int})
        data = F.concat(*[self._arg_col(a) for a in rest]) if rest else F.lit("")
        digest = {
            "md5": tf_md5,
            "md4": tf_md4,
            "sha1": tf_sha1,
            "sha256": tf_sha256,
            "sha512": tf_sha512,
            "hash": tf_sha256,
        }[name](data)
        length = int(opts.get("length", 0))
        if length > 0:
            digest = F.substring(digest, 1, length)
        return digest

    def _arg(self, arg) -> Arg:
        if arg[0] != "tpl":
            raise TemplateCompileError("parenthesized argument only valid in $(if)")
        parts = arg[1]
        lit = None
        if len(parts) == 0:
            lit = ""
        elif len(parts) == 1 and parts[0][0] == "lit":
            lit = parts[0][1]
        # escaping applies ONLY at the outermost substitution
        # (escaping.c wraps log_template_format, not argument eval)
        saved, self.escape = self.escape, False
        try:
            col = self._parts_col(parts)
        finally:
            self.escape = saved
        return Arg(col, lit)

    def _arg_col(self, arg) -> Column:
        return self._arg(arg).col

    def _fn_format(self, name: str, raw_args) -> Column:
        """$(format-json --scope S --key G --exclude G --add-prefix P
        k=$V ...) and $(format-welf k=$V ...): option flags must be
        literals; explicit k=v pairs compile their value side as a
        template (modules/json/format-json.c option grammar)."""
        opts: dict[str, object] = {}
        pairs: list[tuple[str, Column]] = []
        i = 0
        while i < len(raw_args):
            arg = raw_args[i]
            a = self._arg(arg)
            if a.lit is not None and a.lit.startswith("--"):
                flag = a.lit[2:]
                if i + 1 >= len(raw_args):
                    raise TemplateCompileError(f"--{flag} needs a value")
                val = self._arg(raw_args[i + 1])
                if flag == "timestamp" and name == "graphite-output":
                    # graphite-output.c tf_graphite_set_timestamp: the
                    # option value is itself a template; Arg.col is
                    # already its compiled form
                    opts["timestamp"] = val.col
                    i += 2
                    continue
                if val.lit is None:
                    raise TemplateCompileError(f"--{flag} value must be literal")
                if flag == "scope":
                    opts["scope"] = val.lit
                elif flag == "key":
                    opts.setdefault("key", []).append(val.lit)  # type: ignore[union-attr]
                elif flag == "exclude":
                    opts.setdefault("exclude", []).append(val.lit)  # type: ignore[union-attr]
                elif flag == "add-prefix":
                    opts["rekey_add_prefix"] = val.lit
                elif flag == "shift":
                    opts["rekey_shift"] = int(val.lit)
                else:
                    raise TemplateCompileError(f"unknown option --{flag}")
                i += 2
                continue
            if a.lit is not None and "=" in a.lit:
                k, v = a.lit.split("=", 1)
                pairs.append((k, self._parts_col(parse_template(v))))
            elif arg[0] == "tpl":
                # k=$V where the value is a ref: re-render from raw parts
                parts = arg[1]
                if parts and parts[0][0] == "lit" and "=" in parts[0][1]:
                    k, rest = parts[0][1].split("=", 1)
                    tail = ([("lit", rest)] if rest else []) + parts[1:]
                    pairs.append((k, self._parts_col(tail)))
                else:
                    raise TemplateCompileError(f"$({name}) argument must be k=v or --opt")
            i += 1
        from syslog_ng_spark.functions.format import (
            format_json,
            format_json_scoped,
            format_welf,
            value_pairs,
        )

        core = dict(pairs)
        if name == "format-cef-extension":
            # modules/cef/format-cef-extension.c: space-separated
            # name=value with value escaping \→\\ =→\= LF→\n CR→\r
            # (sub-32 control chars additionally escape to \uXXXX in
            # the reference; the four classes above are the ones log
            # data hits)
            def cef_escape(c: Column) -> Column:
                c = F.regexp_replace(c, r"\\", r"\\\\")
                c = F.regexp_replace(c, "=", r"\\=")
                c = F.regexp_replace(c, "\n", r"\\n")
                return F.regexp_replace(c, "\r", r"\\r")

            if opts:
                opts.setdefault("scope", "none")
                m = value_pairs(F.col("sdata"), pairs=core, **opts)  # type: ignore[arg-type]
                return F.array_join(
                    F.transform(
                        F.array_sort(F.map_entries(m)),
                        lambda e: F.concat(e["key"], F.lit("="), cef_escape(e["value"])),
                    ),
                    " ",
                )
            return F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(k + "="), cef_escape(v.cast("string")))
                    for k, v in core.items()
                ],
            )
        if name == "graphite-output":
            # modules/graphite: one 'key value unixtime\n' line per
            # selected pair, --timestamp defaulting to $UNIXTIME
            ts = opts.pop("timestamp", None)
            if ts is None:
                ts = self._parts_col(parse_template("$UNIXTIME"))
            if opts:
                opts.setdefault("scope", "none")
                m = value_pairs(F.col("sdata"), pairs=core, **opts)  # type: ignore[arg-type]
            elif core:
                m = F.map_from_arrays(
                    F.array(*[F.lit(k) for k in core]),
                    F.array(*[v.cast("string") for v in core.values()]),
                )
            else:
                raise TemplateCompileError("$(graphite-output) needs pairs or --key/--scope")
            return F.array_join(
                F.transform(
                    F.array_sort(F.map_entries(m)),
                    lambda e: F.concat(
                        e["key"], F.lit(" "), e["value"], F.lit(" "), ts, F.lit("\n")
                    ),
                ),
                "",
            )
        if opts:
            # scoped selection draws from the canonical sdata NV map;
            # --key without --scope selects ONLY the key matches
            # (value-pairs.c: an explicit key is its own selection);
            # explicit k=v args ride as unconditional --pair entries
            opts.setdefault("scope", "none")
            if name == "format-welf":
                # welf shares the value-pairs option grammar: render
                # the selected map as sorted k=v pairs
                m = value_pairs(F.col("sdata"), pairs=core, **opts)  # type: ignore[arg-type]
                return F.array_join(
                    F.transform(
                        F.array_sort(F.map_entries(m)),
                        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                    ),
                    " ",
                )
            return format_json_scoped(F.col("sdata"), pairs=core, **opts)  # type: ignore[arg-type]
        if name == "format-welf":
            return format_welf(**core)
        return format_json(**core)

    def _cond_arg_text(self, fn_name: str, args: list) -> str:
        """First argument of $(grep)/$(filter)/$(context-lookup):
        either a (parenthesized) condition or a quoted filter-language
        string ('facility(local3)'), both yielding the cond text."""
        if len(args) < 2:
            raise TemplateCompileError(f"$({fn_name}) needs a condition and arguments")
        first = args[0]
        if first[0] == "cond":
            return first[1]
        if first[0] == "tpl" and len(first) > 2:
            return first[2]  # raw source text, unexpanded
        raise TemplateCompileError(
            f"$({fn_name}) needs a (condition) or quoted filter expression"
        )

    def _try_filter_language(self, text: str) -> Column | None:
        """Compile `text` through the conf filter-expression grammar
        (conflang._filter_expr → confcompile.filter_predicate) with
        SCOPE-AWARE name/template resolution, or None when the grammar
        rejects it."""
        from syslog_ng_spark.confcompile import filter_predicate, parse_filter_text

        try:
            node = parse_filter_text(text)
        except Exception:
            return None

        def resolve(name: str) -> Column:
            for scope in reversed(self._scope):
                c = scope(name)
                if c is not None:
                    return c
            # raw column, NOT string-cast: severity()/facility()
            # compare numerically against the log schema
            return F.col(name)

        def compile_tpl(t: str) -> Column:
            return self._parts_col(parse_template(t)).cast("string")

        return filter_predicate(None, node, resolve=resolve, compile_tpl=compile_tpl)

    def _fn_if(self, raw_args) -> Column:
        # the (cond) form AND the reference's quoted-string form
        # ($(if 'facility(local3)' a b), $(if '"$A" lt "$B"' a b) —
        # test_basicfuncs.c:141-161; tf_cond_prepare parses the RAW
        # argument text with the filter-expression grammar)
        if len(raw_args) == 3 and raw_args[0][0] == "tpl" and len(raw_args[0]) > 2:
            raw = raw_args[0][2]
            cond = self._try_filter_language(raw)
            if cond is not None:
                return F.when(cond, self._arg_col(raw_args[1])).otherwise(
                    self._arg_col(raw_args[2])
                )
        if len(raw_args) != 3 or raw_args[0][0] != "cond":
            raise TemplateCompileError("$(if) needs (cond) true-value false-value")
        cond = self._cond(raw_args[0][1])
        return F.when(cond, self._arg_col(raw_args[1])).otherwise(self._arg_col(raw_args[2]))

    def _cond(self, text: str) -> Column:
        # the reference parses $(if)/$(grep)/$(filter) conditions with
        # the FULL filter-expression grammar (cond-funcs.c
        # tf_cond_prepare runs filter_expr_parser over the argument):
        # 'facility(local3)', 'program("x" type(pcre))', compound
        # and/or/not, and "template" cmp comparisons whose symbolic ops
        # are atoi-based (filter-cmp.c). Try that grammar first; the
        # simple comparison mini-language below stays as the fallback
        # for unquoted forms ('$SEVERITY_NUM < 4') the conf lexer
        # rejects.
        filt = self._try_filter_language(text)
        if filt is not None:
            return filt
        m = _COND_RE.match(text)
        if not m:
            raise TemplateCompileError(f"cannot parse condition: {text!r}")
        lq, lsq, lbare, op, rq, rsq, rbare = m.groups()
        # conditions compare raw values — escaping is an output
        # concern and must not affect the comparison
        saved, self.escape = self.escape, False
        try:
            left = self._parts_col(
                parse_template(lq if lq is not None else lsq if lsq is not None else lbare)
            )
            right = self._parts_col(
                parse_template(rq if rq is not None else rsq if rsq is not None else rbare)
            )
        finally:
            self.escape = saved
        if op in _CMP:
            return _CMP[op](left, right)
        # try_cast, not cast: ANSI mode throws on non-numeric strings,
        # and "numeric if both sides are numbers" needs a null probe
        ln, rn = left.try_cast("double"), right.try_cast("double")
        both_num = ln.isNotNull() & rn.isNotNull()
        return F.when(both_num, _CMP[_SYM[op]](ln, rn)).otherwise(_CMP[_SYM[op]](left, right))


def compile_template(
    template: str,
    df: DataFrame | None = None,
    escape: bool = False,
    templates: dict[str, str] | None = None,
    context_col: str | None = None,
    python_funcs: dict[str, Callable] | None = None,
) -> Column:
    """Compile a syslog-ng template string to one string Column.

    With `df`, unknown names resolve as unset ('' / the :-default)
    against that schema; without, names beyond the macro table resolve
    to bare columns (missing ones fail at analysis, like referencing a
    missing column by hand). `escape=True` backslash-escapes
    substituted values (the reference's escape option). `templates`
    feeds $(template NAME); `context_col` names the array<struct>
    correlation context for $(grep)/$(context-*); `python_funcs`
    registers callables for $(python)."""
    if df is not None:
        resolver = schema_resolver(df.dtypes)
    else:

        def blind(name: str) -> Column | None:
            if name in MACROS:
                return MACROS[name]()
            return F.col(name).cast("string")

        resolver = blind
    return TemplateCompiler(
        resolver,
        escape=escape,
        templates=templates,
        context_col=context_col,
        python_funcs=python_funcs,
    ).compile(template)


def iterate_sequence(
    df: DataFrame,
    template: str,
    init: str,
    order_by: str | Column,
    partition_by: str | Column | None = None,
    target: str = "iterated",
) -> DataFrame:
    """$(iterate template initial-value) as a distributed column.

    The reference (tf-iterate.c) keeps a mutex-guarded running value:
    row n emits f^n(init) where f is the template applied to $_ (the
    previous value). A serial fold doesn't distribute, but the affine
    updates that $(iterate) is used for — $(+ $_ k), $(- $_ k),
    $(* $_ k) — have closed forms over row_number, which keeps the op
    a window expression (one shuffle on partition_by, none of the
    single-threaded state). Non-affine templates raise, naming the
    constraint.

    Without `partition_by` the window is global — fine for bounded
    outputs, a deliberate choice to surface (Spark warns) at scale."""
    from pyspark.sql import Window

    parts = parse_template(template)
    if (
        len(parts) != 1
        or parts[0][0] != "fn"
        or parts[0][1] not in ("+", "-", "*")
        or len(parts[0][2]) != 2
    ):
        raise NotImplementedError(
            "iterate_sequence closes only affine recurrences: the template must"
            " be exactly $(+|-|* $_ K) / $(op K $_). For a general sequential"
            " fold use mapInPandas with an explicit ordering."
        )
    op = parts[0][1]
    args = parts[0][2]

    def _side(a):
        if a[0] == "tpl" and len(a[1]) == 1 and a[1][0][:3] == ("val", "_", None):
            return "_"
        if len(a[1]) == 1 and a[1][0][0] == "lit":
            return float(a[1][0][1])
        raise NotImplementedError(
            "iterate_sequence: operands must be $_ and a numeric literal"
        )

    left, right = _side(args[0]), _side(args[1])
    if (left == "_") == (right == "_"):
        raise NotImplementedError("iterate_sequence: exactly one operand must be $_")
    k = right if left == "_" else left
    try:
        init_v = float(init)
    except ValueError as e:
        raise NotImplementedError("iterate_sequence: init must be numeric") from e

    w = Window.orderBy(order_by)
    if partition_by is not None:
        w = Window.partitionBy(partition_by).orderBy(order_by)
    n = F.row_number().over(w) - 1
    if op == "+":
        val = F.lit(init_v) + F.lit(k) * n
    elif op == "-":
        val = (F.lit(init_v) - F.lit(k) * n) if left == "_" else (
            # k - (k - ... ) alternates; non-affine in n when $_ is on
            # the right of '-': f(x) = k - x has period-2 closed form
            F.when(n % 2 == 0, F.lit(init_v)).otherwise(F.lit(k) - F.lit(init_v))
        )
    else:
        val = F.lit(init_v) * F.pow(F.lit(k), n)
    # integer templates render without a trailing .0, like the
    # reference's int64 arithmetic
    is_int = float(init_v).is_integer() and float(k).is_integer() and op != "/"
    out = val.cast("long").cast("string") if is_int else val.cast("string")
    return df.withColumn(target, out)


def referenced_names(template: str, templates: dict[str, str] | None = None) -> set[str]:
    """Every macro / value name a template string references, walking
    nested function arguments and (when the registry is given)
    $(template NAME) bodies. Destination writers use this to decide
    whether per-delivery state ($SEQNUM/$RCPTID/$UNIQID) must be
    assigned before rendering."""
    names: set[str] = set()
    seen_tpl: set[str] = set()

    def walk(parts) -> None:
        for p in parts:
            kind = p[0]
            if kind == "lit":
                continue
            if kind == "val":
                names.add(p[1])
                if p[2]:  # :-default is itself a template
                    walk(p[2])
            elif kind == "fn":
                if (
                    templates
                    and p[1] == "template"
                    and p[2]
                    and p[2][0][0] == "tpl"
                ):
                    arg0 = p[2][0]
                    if len(arg0[1]) == 1 and arg0[1][0][0] == "lit":
                        tname = arg0[1][0][1]
                        if tname in templates and tname not in seen_tpl:
                            seen_tpl.add(tname)
                            walk(parse_template(templates[tname]))
                for a in p[2]:
                    if a[0] == "tpl":
                        walk(a[1])
                    elif a[0] == "cond":
                        # filter-language args reference "$X" inline
                        import re as _re

                        names.update(
                            _re.findall(r"\$\{?([A-Za-z0-9_.]+)\}?", a[1])
                        )
    walk(parse_template(template))
    return names


def template_format(
    df: DataFrame,
    template: str,
    target: str = "rendered",
    templates: dict[str, str] | None = None,
) -> DataFrame:
    """rewrite/sink helper: render `template` per row into `target` —
    the engine-level equivalent of a template() in a destination.
    `templates` is the configuration's named-template registry for
    $(template NAME) (tf-template.c binds against the config's
    registry, so conf-compiled pipelines must thread theirs here)."""
    return df.withColumn(target, compile_template(template, df, templates=templates))
