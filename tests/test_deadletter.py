from __future__ import annotations

from pyspark.sql import functions as F

from syslog_ng_spark.config import run_conf
from syslog_ng_spark.operators.parsers import syslog_parser_3164

LINES = [
    "<11>Jan  5 03:04:05 web-01 app[77]: good line",
    "totally not syslog",
    "<30>Jan  5 03:04:06 web-02 cron[12]: also good",
    "{json noise}",
]


def test_3164_parser_leaves_non_syslog_lines_unparsed(spark):
    """A line without a syslog header parses to NULL HOST/PROGRAM —
    the parse result a dead-letter route keys on — and the row keeps
    every other column, so its original text survives alongside."""
    raw = spark.createDataFrame([(ln,) for ln in LINES], "raw string")
    parsed = syslog_parser_3164(raw.withColumn("_orig", F.col("raw")), year=2024)
    rows = {r._orig: r for r in parsed.collect()}
    assert len(rows) == 4
    for line in ("totally not syslog", "{json noise}"):
        assert rows[line].host is None and rows[line].program is None
    assert rows[LINES[0]].host == "web-01" and rows[LINES[0]].program == "app"
    assert rows[LINES[2]].host == "web-02" and rows[LINES[2]].program == "cron"


def test_parse_failures_route_to_fallback(spark, tmp_path):
    """flags(fallback): lines the syslog parse can't handle route to a
    dead-letter path instead of being dropped (the reference's fallback
    log path). The final path routes by the parse result — a parsed
    host — and nothing is lost: both halves partition the input."""
    (tmp_path / "in.log").write_text("\n".join(LINES) + "\n")
    ok, dead = tmp_path / "ok", tmp_path / "dead"
    run_conf(spark, f"""
source s {{ file("{tmp_path}/in.log"); }};
destination d_ok {{ file("{ok}" template("[$HOST]\\n")); }};
destination d_dead {{ file("{dead}" template("[$HOST]\\n")); }};
log {{ source(s); filter {{ host("."); }}; destination(d_ok); flags(final); }};
log {{ source(s); destination(d_dead); flags(fallback); }};
""")
    ok_rows = sorted(r["value"] for r in spark.read.text(str(ok)).collect())
    dead_rows = [r["value"] for r in spark.read.text(str(dead)).collect()]
    assert ok_rows == ["[web-01]", "[web-02]"]
    assert dead_rows == ["[]", "[]"]
    assert len(ok_rows) + len(dead_rows) == len(LINES)


def test_negated_filter_keeps_messages_with_an_unset_field(spark, tmp_path):
    """`not host(".")` keeps exactly what `host(".")` drops, including
    messages whose HOST is unset — a filter is two-valued."""
    (tmp_path / "in.log").write_text("\n".join(LINES) + "\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s {{ file("{tmp_path}/in.log"); }};
destination d {{ file("{out}" template("[$HOST]\\n")); }};
log {{ source(s); filter {{ not host("."); }}; destination(d); }};
""")
    assert [r["value"] for r in spark.read.text(str(out)).collect()] == ["[]", "[]"]
