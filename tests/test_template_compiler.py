"""Template-string compiler tests.

Expectations modeled on the reference's own suite
(lib/template/tests/test_template.c): same sample message (host
bzorp, program syslog-ng, pid 23323, pri 155 = local3/err,
APP.VALUE=value NV pair), with dates in UTC (session TZ) instead of
the reference's MET fixture.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.template import (
    TemplateCompileError,
    compile_template,
    parse_template,
    template_format,
)


def sample_msg(spark):
    row = {
        "ts": dt.datetime(2006, 2, 11, 10, 34, 56),
        "host": "bzorp",
        "program": "syslog-ng",
        "pid": 23323,
        "facility": 19,
        "severity": 3,
        "message": "error message value=1.5",
        "sdata": {"APP.VALUE": "value", "APP.QVALUE": '"value"', "1": "first-match"},
        "tags": ["alma", "korte"],
    }
    return spark.createDataFrame(
        [row],
        "ts timestamp, host string, program string, pid int, facility int, "
        "severity int, message string, sdata map<string,string>, tags array<string>",
    )


def render(spark, template: str) -> str:
    df = sample_msg(spark)
    return df.select(compile_template(template, df).alias("out")).collect()[0].out


@pytest.mark.parametrize(
    "template,expected",
    [
        # --- macros (test_template.c test_macros) ---
        ("$FACILITY", "local3"),
        ("$FACILITY_NUM", "19"),
        ("$SEVERITY", "err"),
        ("$SEVERITY_NUM", "3"),
        ("$PRIORITY", "err"),
        ("$LEVEL_NUM", "3"),
        ("$PRI", "155"),
        ("$YEAR", "2006"),
        ("$MONTH", "02"),
        ("$DAY", "11"),
        ("$HOUR", "10"),
        ("$MIN", "34"),
        ("$SEC", "56"),
        ("$ISODATE", "2006-02-11T10:34:56+00:00"),
        ("$HOST", "bzorp"),
        ("$PROGRAM", "syslog-ng"),
        ("$PID", "23323"),
        ("$MSGHDR", "syslog-ng[23323]: "),
        ("$MSGHDR$MSG", "syslog-ng[23323]: error message value=1.5"),
        ("$TAGS", "alma,korte"),
        # --- nv pairs / braces / defaults (test_nvpairs) ---
        # HOST_FROM == HOST in the batch model (one host per message)
        (
            "$PROGRAM/var/log/messages/$HOST/$HOST_FROM/$MONTH$DAY${QQQQQ}valami",
            "syslog-ng/var/log/messages/bzorp/bzorp/0211valami",
        ),
        ("${APP.VALUE}", "value"),
        ("${APP.VALUE:-ures}", "value"),
        ("${APP.VALUE99:-ures}", "ures"),
        ("${1}", "first-match"),
        ("$1", "first-match"),
        ("$$$1$$", "$first-match$"),
        # --- literal handling (test_syntax_errors, literal tests) ---
        ("$unbalanced_brace}", "}"),
        ("$}", "$}"),
        ("$unbalanced_paren)", ")"),
        ("$$not a macro", "$not a macro"),
        ("literal string", "literal string"),
        ("", ""),
        # --- template functions (test_template_functions / args) ---
        ("$(echo $HOST $PID)", "bzorp 23323"),
        ("$(echo\n$HOST\n$PID)", "bzorp 23323"),
        ('$(echo "$(echo $HOST)" $PID)', "bzorp 23323"),
        ("$(echo \"$(echo '$(echo $HOST)')\" $PID)", "bzorp 23323"),
        ("$(echo foo bar)", "foo bar"),
        ("$(echo 'foobar' \"barfoo\")", "foobar barfoo"),
        ("$(echo foo '' bar)", "foo  bar"),
        ("$(echo foo '')", "foo "),
        # --- basicfuncs ---
        ("$(lowercase $HOST)X", "bzorpX"),
        ("$(uppercase $HOST)", "BZORP"),
        ("$(length $HOST)", "5"),
        ("$(substr $HOST 1 3)", "zor"),
        ("$(+ $PID 1)", "23324"),
        ("$(- $PID 23)", "23300"),
        ("$(* 6 7)", "42"),
        ("$(/ 7 2)", "3"),
        ("$(% 7 2)", "1"),
        ("$(if ($SEVERITY_NUM < 4) high low)", "high"),
        ("$(if ($SEVERITY_NUM > 4) high low)", "low"),
        ('$(if ("${APP.VALUE}" == "value") "${APP.QVALUE}" none)', '"value"'),
        ("$(if ($HOST eq bzorp) yes no)", "yes"),
        ("$(or $QQQ $HOST fallback)", "bzorp"),
        ("$(or $QQQ ${Q2} fallback)", "fallback"),
        ("$(list-head alma,korte)", "alma"),
        ("$(list-tail alma,korte,citrom)", "korte,citrom"),
        ("$(list-count alma,korte,citrom)", "3"),
        ("$(list-nth 1 alma,korte,citrom)", "korte"),  # index FIRST (list-funcs.c)
        ("$(list-nth 9 alma,korte)", ""),  # out of range renders unset
        # numeric-funcs.c failure rendering is the literal "NaN"
        # (test_basicfuncs.c: '$(+ foo bar)' → NaN, '$(/ 19 0)' → NaN)
        ("$(+ $MSG 1)", "NaN"),
        ("$(/ 1 0)", "NaN"),
        ("$(round $HOST)", "NaN"),
        ("$(basename /var/log/messages)", "messages"),
        ("$(dirname /var/log/messages)", "/var/log"),
    ],
)
def test_reference_template_expectations(spark, template, expected):
    assert render(spark, template) == expected


def test_compile_errors(spark):
    for bad in ["${unbalanced_brace", "$(unbalanced_paren", "$(echo ${open"]:
        with pytest.raises(TemplateCompileError):
            compile_template(bad, sample_msg(spark))
    with pytest.raises(TemplateCompileError):
        compile_template("$(nosuchfunction x)", sample_msg(spark))


def test_hash_functions_match_builtin(spark):
    df = sample_msg(spark)
    got = df.select(
        compile_template("$(sha1 $MSG)", df).alias("a"),
        F.sha1(F.col("message")).alias("b"),
        compile_template("$(md5 $MSG)", df).alias("c"),
        F.md5(F.col("message")).alias("d"),
    ).collect()[0]
    assert got.a == got.b and got.c == got.d


def test_template_format_helper(spark):
    df = template_format(sample_msg(spark), "<$PRI>$DATE $HOST $MSGHDR$MSG", "line")
    line = df.collect()[0].line
    assert line == "<155>Feb 11 10:34:56 bzorp syslog-ng[23323]: error message value=1.5"


def test_compiled_template_is_pure_column(spark):
    """No UDF / python nodes: the compiled template must survive
    whole-stage codegen planning (pure Catalyst expressions)."""
    df = sample_msg(spark)
    plan = (
        df.select(compile_template("$ISODATE $HOST $(sha1 $MSG) $(+ $PID 1)", df))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_parse_ast_shapes():
    assert parse_template("") == []
    assert parse_template("abc") == [("lit", "abc")]
    assert parse_template("$$") == [("lit", "$")]
    assert parse_template("$A$B") == [("val", "A", None, None), ("val", "B", None, None)]
    # '@N' correlation-state addressing (compiler.c parse_msg_ref)
    assert parse_template("$A@2")[0] == ("val", "A", None, 2)
    assert parse_template("$A@@b") == [("val", "A", None, None), ("lit", "@b")]
    assert parse_template("$A@x") == [("val", "A", None, None), ("lit", "@x")]
    ast = parse_template("$(echo $A '$(echo $B)')")
    assert ast[0][0] == "fn" and ast[0][1] == "echo"
    inner = ast[0][2][1]
    assert inner[0] == "tpl" and inner[1][0][0] == "fn"


# ---------------------------------------------------------------------------
# property test: random nested template ASTs render identically to a
# pure-python evaluation of the same AST (compiler correctness under
# nesting, VERDICT r1 item 1)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VALUES = {"HOST": "bzorp", "PID": "23323", "SEVERITY_NUM": "3", "QQQ": ""}


def _leaf():
    return st.one_of(
        st.sampled_from([("lit", w) for w in ["alpha", "beta", "x9", "42"]]),
        st.sampled_from([("ref", n) for n in _VALUES]),
    )


def _tpl_node(children):
    return st.one_of(
        st.tuples(st.just("echo"), st.lists(children, min_size=1, max_size=3)),
        st.tuples(st.just("lowercase"), st.lists(children, min_size=1, max_size=1)),
        st.tuples(st.just("uppercase"), st.lists(children, min_size=1, max_size=1)),
        st.tuples(st.just("plus"), st.tuples(st.integers(0, 99), st.integers(0, 99))),
        st.tuples(
            st.just("if"),
            st.tuples(st.integers(0, 9), children, children),  # cond: SEVERITY_NUM < k
        ),
    )


_AST = st.recursive(_leaf(), _tpl_node, max_leaves=8)


def _to_text(node) -> str:
    kind = node[0]
    if kind == "lit":
        return node[1]
    if kind == "ref":
        return f"${{{node[1]}}}"
    if kind == "echo":
        return "$(echo " + " ".join(_to_text(c) for c in node[1]) + ")"
    if kind in ("lowercase", "uppercase"):
        return f"$({kind} " + _to_text(node[1][0]) + ")"
    if kind == "plus":
        a, b = node[1]
        return f"$(+ {a} {b})"
    if kind == "if":
        k, t, e = node[1]
        return f"$(if ($SEVERITY_NUM < {k}) " + _to_text(t) + " " + _to_text(e) + ")"
    raise AssertionError(kind)


def _expect(node) -> str:
    kind = node[0]
    if kind == "lit":
        return node[1]
    if kind == "ref":
        return _VALUES[node[1]]
    if kind == "echo":
        return " ".join(_expect(c) for c in node[1])
    if kind == "lowercase":
        return _expect(node[1][0]).lower()
    if kind == "uppercase":
        return _expect(node[1][0]).upper()
    if kind == "plus":
        a, b = node[1]
        return str(a + b)
    if kind == "if":
        k, t, e = node[1]
        return _expect(t) if 3 < k else _expect(e)
    raise AssertionError(kind)


@settings(max_examples=15, deadline=None)
@given(st.lists(_AST, min_size=1, max_size=6))
def test_property_nested_templates(spark, asts):
    df = sample_msg(spark).withColumn("QQQ", F.lit("")).withColumn(
        "SEVERITY_NUM", F.lit("3")
    )
    cols = [
        compile_template(_to_text(a), df).alias(f"c{i}") for i, a in enumerate(asts)
    ]
    row = df.select(*cols).collect()[0]
    for i, a in enumerate(asts):
        assert row[f"c{i}"] == _expect(a), _to_text(a)


def test_template_format_json_and_welf(spark):
    df = sample_msg(spark)

    def render1(t):
        return df.select(compile_template(t, df).alias("o")).collect()[0].o

    assert (
        render1("$(format-welf host=$HOST sev=$SEVERITY_NUM)")
        == "host=bzorp sev=3"
    )
    assert (
        render1("$(format-json host=$HOST pid=$PID)")
        == '{"host":"bzorp","pid":"23323"}'
    )
    # --key without --scope selects only the matching NV pairs
    assert (
        render1("$(format-json --key APP.VALUE host=$HOST)")
        == '{"APP.VALUE":"value","host":"bzorp"}'
    )
    # rekey applies to message NV names, not explicit pairs
    assert (
        render1("$(format-json --key APP.* --exclude APP.QVALUE --add-prefix x. host=$HOST)")
        == '{"host":"bzorp","x.APP.VALUE":"value"}'
    )
    # --scope nv-pairs pulls every non-dot NV pair from sdata
    assert (
        render1("$(format-json --scope nv-pairs --exclude 1 --exclude APP.QVALUE)")
        == '{"APP.VALUE":"value"}'
    )


@pytest.mark.parametrize(
    "template,expected",
    [
        # extended macro table, expectations from test_template.c
        # test_macros (sample ts 2006-02-11 10:34:56, a Saturday)
        ("$MONTH_ABBREV", "Feb"),
        ("$MONTH_NAME", "February"),
        ("$YEAR_DAY", "042"),
        ("$WEEKDAY", "Sat"),
        ("$WEEK_DAY_NAME", "Saturday"),
        ("$WEEK_DAY_ABBREV", "Sat"),
        ("$WEEK", "06"),
        ("$FULLHOST", "bzorp"),
        ("$TZOFFSET", "+00:00"),
        ("$S_ISODATE", "2006-02-11T10:34:56+00:00"),
        ("$R_YEAR", "2006"),
        ("$S_WEEK", "06"),
    ],
)
def test_extended_macros(spark, template, expected):
    assert render(spark, template) == expected


@pytest.mark.parametrize("zone, isodate", [
    ("UTC", "2024-01-05T03:04:05+00:00"),
    ("America/New_York", "2024-01-04T22:04:05-05:00"),
    ("Asia/Kolkata", "2024-01-05T08:34:05+05:30"),
])
def test_date_macros_render_the_session_time_zone_offset(spark, zone, isodate):
    """macros.c renders $ISODATE/$TZOFFSET/$TZ with the offset of the
    time zone the stamp is shown in: here the session time zone."""
    df = spark.range(1).select(F.to_timestamp(F.lit("2024-01-05T03:04:05Z")).alias("ts"))
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        got = df.select(compile_template(
            "$ISODATE $TZOFFSET $TZ $S_ISODATE $R_TZOFFSET", df)).first()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    offset = isodate[-6:]
    assert got == f"{isodate} {offset} {offset} {isodate} {offset}"


def test_escaping_option(spark):
    """test_template.c test_escaping: with escaping on, substituted
    values get backslash-escaped quotes; literals are untouched."""
    df = sample_msg(spark)

    def render_esc(t, esc):
        return df.select(compile_template(t, df, escape=esc).alias("o")).collect()[0].o

    assert render_esc("${APP.QVALUE}", False) == '"value"'
    assert render_esc("${APP.QVALUE}", True) == '\\"value\\"'
    assert (
        render_esc('$(if ("${APP.VALUE}" == "value") "${APP.QVALUE}" "${APP.QVALUE}")', True)
        == '\\"value\\"'
    )
    # literal text never escapes
    assert render_esc('say "hi" $HOST', True) == 'say "hi" bzorp'


def test_escaping_not_applied_inside_conditions(spark):
    df = sample_msg(spark)
    got = df.select(
        compile_template(
            '$(if ("${APP.QVALUE}" == \'"value"\') yes no)', df, escape=True
        ).alias("o")
    ).collect()[0].o
    assert got == "yes"


@settings(max_examples=30, deadline=None)
@given(
    st.dates(min_value=dt.date(1990, 1, 5), max_value=dt.date(2035, 12, 28)).map(
        lambda d: dt.datetime(d.year, d.month, d.day, 11, 30, 0)
    )
)
def test_property_week_and_yearday_macros(spark, ts):
    """$WEEK must reproduce the reference formula
    (yday - (wday-1+7)%7 + 7) / 7 over tm's 0-based fields for
    arbitrary dates; $YEAR_DAY is the 3-padded day of year."""
    df = spark.createDataFrame(
        [
            (
                ts,
                "h",
                "p",
                1,
                16,
                6,
                "m",
                {},
                [],
            )
        ],
        "ts timestamp, host string, program string, pid int, facility int, "
        "severity int, message string, sdata map<string,string>, tags array<string>",
    )
    row = df.select(
        compile_template("$WEEK", df).alias("week"),
        compile_template("$YEAR_DAY", df).alias("yday"),
        compile_template("$WEEK_DAY", df).alias("wday"),
    ).collect()[0]
    tm = ts.timetuple()
    # reference formula: (tm_yday - (tm_wday - 1 + 7) % 7 + 7) / 7 with
    # tm_yday 0-based and tm_wday 0=Sunday (python tm_wday is 0=Monday)
    ref_yday = tm.tm_yday - 1
    ref_wday = (tm.tm_wday + 1) % 7  # python Mon=0 -> C Sun=0
    expected_week = (ref_yday - (ref_wday - 1 + 7) % 7 + 7) // 7
    assert row.week == f"{expected_week:02d}", ts
    assert row.yday == f"{tm.tm_yday:03d}"
    assert row.wday == str(((tm.tm_wday + 1) % 7) + 1)  # 1=Sunday..7=Saturday


def test_format_welf_scoped(spark):
    df = sample_msg(spark)
    got = df.select(
        compile_template(
            "$(format-welf --key APP.VALUE host=$HOST)", df
        ).alias("o")
    ).collect()[0].o
    assert got == "APP.VALUE=value host=bzorp"
