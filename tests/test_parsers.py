"""Parser unit tests — corpus modeled on the reference's own parser
tests (modules/syslogformat/tests/test_syslog_format.c)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from syslog_ng_spark.operators.parsers import (
    csv_parser,
    date_parser,
    json_parser,
    kv_parser,
    kv_parser_quoted,
    linux_audit_parser,
    RFC3164_RE,
    RFC5424_RE,
    pattern_parser,
    syslog_parser_3164,
    syslog_parser_5424,
)


def test_3164_basic(spark):
    lines = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed for lonvick on /dev/pts/8",)],
        "raw string",
    )
    row = syslog_parser_3164(lines, year=2003).collect()[0]
    assert row.facility == 4 and row.severity == 2
    assert row.host == "mymachine"
    assert row.program == "su"
    assert row.pid == 230
    assert row.message.startswith("'su root' failed")
    assert row.ts == datetime.datetime(2003, 10, 11, 22, 14, 15)


def test_3164_padded_day_no_pri_no_pid(spark):
    lines = spark.createDataFrame(
        [("Jan  5 03:04:05 web-01 cron: job started",)], "raw string"
    )
    row = syslog_parser_3164(lines, year=2024).collect()[0]
    # no <PRI> -> user.notice, log_msg_parse_pri's fallback
    # (syslog-format.c:96); default-facility/severity override it
    assert row.facility == 1 and row.severity == 5
    assert row.host == "web-01"
    assert row.program == "cron"
    assert row.pid is None
    assert row.ts == datetime.datetime(2024, 1, 5, 3, 4, 5)



def test_3164_fields_replace_existing_columns(spark):
    """syslog-parser() on a frame that already carries parsed columns
    (a no-parse source's MESSAGE) overwrites them instead of adding
    a second column of the same name."""
    df = spark.createDataFrame(
        [("<13>Jan  5 03:04:05 web-01 app: hi", "old", "x")],
        "raw string, message string, tag string")
    out = syslog_parser_3164(df, year=2024)
    assert out.columns == ["facility", "severity", "ts", "host", "program", "pid",
                           "message", "tag"]
    assert out.collect()[0].message == "hi"

def test_5424_full(spark):
    raw = (
        '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 111 ID47 '
        '[exampleSDID@32473 iut="3" eventSource="Application"][origin ip="10.0.0.1"] '
        "An application event log entry"
    )
    row = syslog_parser_5424(spark.createDataFrame([(raw,)], "raw string")).collect()[0]
    assert row.facility == 20 and row.severity == 5
    assert row.version == 1
    assert row.host == "mymachine.example.com"
    assert row.program == "evntslog"
    assert row.pid == 111
    assert row.msgid == "ID47"
    assert row.sdata["exampleSDID@32473.iut"] == "3"
    assert row.sdata["exampleSDID@32473.eventSource"] == "Application"
    assert row.sdata["origin.ip"] == "10.0.0.1"
    assert row.message == "An application event log entry"


def test_5424_nil_fields(spark):
    raw = "<34>1 2003-10-11T22:14:15Z - - - - - no host no app"
    row = syslog_parser_5424(spark.createDataFrame([(raw,)], "raw string")).collect()[0]
    assert row.host is None and row.program is None and row.pid is None
    assert row.sdata == {}
    assert row.message == "no host no app"


def test_csv_parser_quoted(spark):
    df = spark.createDataFrame([('a,"b,with,commas",c',)], "line string")
    row = csv_parser(df, "line", ["x", "y", "z"]).collect()[0]
    assert (row.x, row.y, row.z) == ("a", "b,with,commas", "c")


def test_kv_parser(spark):
    df = spark.createDataFrame([("user=alice action=login ok=1",)], "s string")
    row = kv_parser(df, "s").collect()[0]
    assert row.kv == {"user": "alice", "action": "login", "ok": "1"}


def test_kv_parser_quoted_values(spark):
    df = spark.createDataFrame([('msg="hello world" code=42',)], "s string")
    row = kv_parser_quoted(df, "s").collect()[0]
    assert row.kv == {"msg": "hello world", "code": "42"}


def test_json_parser(spark):
    df = spark.createDataFrame([('{"a": 1, "b": "x"}',)], "s string")
    row = json_parser(df, "s").collect()[0]
    assert row.sdata == {"a": "1", "b": "x"}


def test_date_parser(spark):
    df = spark.createDataFrame([("2024/01/05 10:20:30",)], "s string")
    row = date_parser(df, "s", "yyyy/MM/dd HH:mm:ss").collect()[0]
    assert row.ts == datetime.datetime(2024, 1, 5, 10, 20, 30)


def test_pattern_parser_first_match_wins(spark):
    df = spark.createDataFrame([("error disk full",), ("error high",), ("ok",)], "m string")
    rules = [("^error disk", "disk"), ("^error", "generic")]
    rows = {r.m: r.cls for r in pattern_parser(df, "m", rules, target="cls").collect()}
    assert rows == {"error disk full": "disk", "error high": "generic", "ok": "unknown"}


def test_csv_drop_invalid_drops_under_and_overfilled(spark):
    df = spark.createDataFrame(
        [(1, "a,b,c"), (2, "a,b"), (3, "a,b,c,d"), (4, ",,"), (5, "")],
        "id int, line string",
    )
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["x", "y", "z"], drop_invalid=True).collect()
    assert sorted(r.id for r in out) == [1, 4]  # ',,' = three empty fields
    row = [r for r in out if r.id == 1][0]
    assert (row.x, row.y, row.z) == ("a", "b", "c")


def test_csv_greedy_last_column_swallows_rest(spark):
    df = spark.createDataFrame(
        [(1, "err,host=x,msg=a,b c"), (2, "plain")], "id int, line string"
    )
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["etype", "rest"], greedy=True, drop_invalid=True).collect()
    assert len(out) == 1
    assert out[0].etype == "err"
    assert out[0].rest == "host=x,msg=a,b c"  # separators kept verbatim


def test_csv_quote_aware_default_path_still_works(spark):
    df = spark.createDataFrame([(1, '"a,b",c')], "id int, line string")
    from syslog_ng_spark.operators.parsers import csv_parser

    out = csv_parser(df, "line", ["x", "y"]).collect()
    assert (out[0].x, out[0].y) == ("a,b", "c")


def test_tags_parser_merges_setwise(spark):
    from syslog_ng_spark.operators.parsers import tags_parser

    df = spark.createDataFrame(
        [(1, " alpha, beta ,,alpha ", ["existing", "alpha"]), (2, "", ["x"])],
        "id int, taglist string, tags array<string>",
    )
    out = {r.id: r.tags for r in tags_parser(df, "taglist").collect()}
    assert out[1] == ["existing", "alpha", "beta"]  # trimmed, deduped, order kept
    assert out[2] == ["x"]


def test_tags_parser_without_existing_tags_column(spark):
    from syslog_ng_spark.operators.parsers import tags_parser

    df = spark.createDataFrame([(1, "a,b,a")], "id int, taglist string")
    out = tags_parser(df, "taglist").collect()
    assert out[0].tags == ["a", "b"]


def test_linux_audit_scanner_reference_cases(spark):
    """The reference's criterion suite for the audit hexdump transform
    (modules/kvformat/tests/test_linux_audit_scanner.c), line for line:
    decode only when a hexcoded field's bytes include something the
    kernel escapes (<0x21, >0x7e, '"'); NUL becomes tab; odd-length,
    all-printable, invalid-UTF-8, unknown-field, and quoted values all
    stay raw."""
    cases = [
        ("proctitle=41607E", {"proctitle": "41607E"}),
        ("proctitle=412042", {"proctitle": "A B"}),
        (
            "proctitle=C3A17276C3AD7A74C5B172C59174C3BC6BC3B67266C3BA72C3B367C3A970",
            {"proctitle": "árvíztűrőtükörfúrógép"},
        ),
        (
            "proctitle=2F62696E2F7368002D65002F6574632F696E69742E642F706F737466697800737461747573",
            {"proctitle": "/bin/sh\t-e\t/etc/init.d/postfix\tstatus"},
        ),
        ("a1=2F62696E2F7368202D6C", {"a1": "/bin/sh -l"}),
        ("proctitle=41204", {"proctitle": "41204"}),
        (
            'type=SYSCALL msg=audit(1436259640.156:596): arch=c000003e comm="cat" exit=0',
            {
                "type": "SYSCALL",
                "msg": "audit(1436259640.156:596):",
                "arch": "c000003e",
                "comm": "cat",
                "exit": "0",
            },
        ),
        ("data=FFFE41", {"data": "FFFE41"}),
        ("other=412042", {"other": "412042"}),
        ('comm="412042"', {"comm": "412042"}),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "line string")
    got = {r.line: dict(r.kv) for r in linux_audit_parser(df, "line").collect()}
    for line, want in cases:
        for k, v in want.items():
            assert got[line].get(k) == v, f"{line!r}[{k}]: {got[line].get(k)!r} != {v!r}"


def test_journal_export_parser(spark):
    """Journal export format: blank-line record separation, field→macro
    mapping (journal-reader.c), SYSLOG_IDENTIFIER→_COMM program
    fallback, '.journald.' sdata prefix, µs timestamp, and lines
    without '=' (binary fields) skipped."""
    import datetime

    from syslog_ng_spark.operators.parsers import (
        journal_export_parser,
        journal_export_records,
    )

    blob = (
        "__REALTIME_TIMESTAMP=1704067200123456\n"
        "PRIORITY=3\nSYSLOG_FACILITY=4\n_HOSTNAME=web-01\n"
        "SYSLOG_IDENTIFIER=sshd\n_PID=1234\nMESSAGE=login failed\n"
        "\n"
        "__REALTIME_TIMESTAMP=1704067201000000\n"
        "PRIORITY=6\n_HOSTNAME=web-02\n_COMM=cron\n_PID=77\n"
        "BINARYISH\nMESSAGE=job done\n"
    )
    df = spark.createDataFrame([(blob,)], "blob string")
    rows = sorted(
        journal_export_parser(journal_export_records(df, "blob")).collect(),
        key=lambda r: r.pid,
    )
    a, b = rows[1], rows[0]
    assert a.host == "web-01" and a.program == "sshd" and a.pid == 1234
    assert a.severity == 3 and a.facility == 4 and a.message == "login failed"
    assert a.ts == datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    assert a.sdata[".journald.SYSLOG_IDENTIFIER"] == "sshd"
    assert b.program == "cron"  # _COMM fallback
    assert b.facility is None
    assert ".journald.BINARYISH" not in b.sdata  # no '=' -> skipped


# ---------------------------------------------------------------------------
# parse once: a filter, template or rewrite over parsed fields must not
# re-run the header regex (pushdown would substitute a parse Project's
# expressions into every downstream reference)
# ---------------------------------------------------------------------------

_FILTERED_CONF = """
source s_in {{ file("{src}"{flags}); }};
filter f_keep {{ level(info..emerg) and not facility(cron) and host("web")
                 and message("GET"); }};
rewrite r_mask {{ subst("secret=\\\\S+", "secret=***", value("MESSAGE")); }};
destination d_out {{ file("{out}" template("$ISODATE $HOST $PROGRAM $MSG\\n")); }};
log {{ source(s_in); filter(f_keep); rewrite(r_mask); destination(d_out); }};
"""


def _regex_runs(df, regex):
    """How many times `regex` appears in the executed plan: one per
    evaluation site."""
    return df._jdf.queryExecution().executedPlan().toString().count(regex)


def _written(spark, tmp_path, lines, flags=""):
    """The frame the conf's file() destination renders."""
    from syslog_ng_spark import config
    from syslog_ng_spark.template import template_format

    (tmp_path / "in.log").write_text("\n".join(lines) + "\n")
    conf = config.parse_conf(_FILTERED_CONF.format(
        src=tmp_path / "in.log", out=tmp_path / "out", flags=flags))
    (spec,) = config.compile_conf(conf)
    dest = spec["destinations"][0]
    return template_format(config.build_pipeline(spark, spec),
                           dest["template"].rstrip("\n"), target="rendered",
                           templates=spec.get("templates"))


def test_3164_source_parses_once_under_filters(spark, tmp_path):
    lines = [
        "<14>Jan  5 03:04:05 web-1 nginx[7]: GET / secret=abc",
        "<78>Jan  5 03:04:06 web-1 cron[8]: GET /cron",
        "<15>Jan  5 03:04:07 web-2 nginx[9]: GET /debug",
        "totally not syslog",
    ]
    out = _written(spark, tmp_path, lines)
    assert _regex_runs(out, RFC3164_RE) == 1
    assert [r.rendered for r in out.collect()] == [
        "2024-01-05T03:04:05+00:00 web-1 nginx GET / secret=***"]


def test_5424_source_parses_once_under_filters(spark, tmp_path):
    lines = [
        "<14>1 2024-01-02T03:04:05Z web-1 nginx 7 - - GET /a",
        "<78>1 2024-01-02T03:04:06Z web-1 cron 8 - - GET /cron",
    ]
    out = _written(spark, tmp_path, lines, flags=" flags(syslog-protocol)")
    assert _regex_runs(out, RFC5424_RE) == 1
    assert [r.rendered for r in out.collect()] == [
        "2024-01-02T03:04:05+00:00 web-1 nginx GET /a"]


def test_parse_syslog_step_parses_once_under_filters(spark, tmp_path):
    from syslog_ng_spark import config

    (tmp_path / "in.log").write_text(
        "<11>Jan  5 03:04:05 web-01 app[77]: disk failure\n"
        "<30>Jan  5 03:04:06 web-02 cron[12]: job ok\n")
    out = config.build_pipeline(spark, {
        "source": {"kind": "file", "path": str(tmp_path / "in.log")},
        "steps": [{"op": "parse-syslog", "year": 2024},
                  {"op": "filter-severity", "max": "err"},
                  {"op": "filter-facility", "facilities": ["user"]},
                  {"op": "filter-match", "column": "host", "pattern": "web"}],
    })
    assert _regex_runs(out, RFC3164_RE) == 1
    assert [(r.host, r.pid) for r in out.collect()] == [("web-01", 77)]


@pytest.mark.parametrize("parser", ["apache", "cisco", "url"])
def test_app_parsers_parse_once_under_a_filter(spark, parser):
    from syslog_ng_spark.operators import app_parsers, urltools

    if parser == "apache":
        df = spark.createDataFrame(
            [('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 1',)],
            "message string")
        out = app_parsers.apache_accesslog_parser(df, "message").where(
            (F.col("apache_response") == 200) & F.col("apache_clientip").isNotNull())
        regex = app_parsers._APACHE_RE
        # verb, request and httpversion come out of the same match
        assert _regex_runs(out, "regexp_extract") == 0
    elif parser == "cisco":
        df = spark.createDataFrame(
            [("%LINK-3-UPDOWN: Interface FastEthernet0/1, changed state to down",)],
            "raw string")
        out = app_parsers.cisco_parser(df, "raw").where(
            (F.col("cisco_severity") <= 3) & (F.col("cisco_mnemonic") == "UPDOWN"))
        regex = app_parsers._CISCO_RE
    else:
        df = spark.createDataFrame([("HTTP://Example.com:80/a?utm_x=1",)], "url string")
        out = urltools.url_normalize(df, host_target="h").where(
            F.col("url_norm").startswith("http") & (F.col("h") == "example.com"))
        regex = urltools.URL_RE
    assert _regex_runs(out, regex) == 1
    assert out.count() == 1
