"""Generic source options every driver accepts (r13):
host-override(), program-override(), keep-timestamp(no), tags().

Reference: LogSourceOptions (lib/logsource.h:37-48), applied in
log_source_queue (lib/logsource.c:612-641 — pid, tags, then the
overrides after the mangle callbacks) and keep-timestamp(no) via
LP_NO_PARSE_DATE (lib/logreader.c:750: the sender's stamp is not
parsed, $STAMP stays the receive time). The functional-suite analogs
are tests/python_functional source_options scenarios
(test_host_override.py / test_program_override.py shapes)."""

from __future__ import annotations

import datetime as dt
import time

from syslog_ng_spark.config import compile_conf, run_conf, run_conf_stream


def _lines(path):
    return sorted(
        ln for f in path.glob("part-*") for ln in f.read_text().splitlines()
    )


def test_compile_source_options_into_spec():
    spec = compile_conf("""
source s { file("/tmp/in.log"
                host-override("lb-internal")
                program-override("myprog")
                keep-timestamp(no)
                tags("ingest", "edge")); };
destination d { file("/tmp/out"); };
log { source(s); destination(d); };
""")[0]["source"]
    assert spec["host_override"] == "lb-internal"
    assert spec["program_override"] == "myprog"
    assert spec["keep_timestamp"] is False
    assert spec["tags"] == ["ingest", "edge"]


def test_compile_keep_timestamp_global_fallback():
    """Per-driver unset -> the global options{} block value
    (lib/logsource.c:783-784)."""
    pipelines = compile_conf("""
options { keep-timestamp(no); };
source s { file("/tmp/in.log"); };
source s2 { file("/tmp/in2.log" keep-timestamp(yes)); };
destination d { file("/tmp/out"); };
log { source(s); destination(d); };
log { source(s2); destination(d); };
""")
    assert pipelines[0]["source"]["keep_timestamp"] is False
    # per-driver wins over the global
    assert pipelines[1]["source"]["keep_timestamp"] is True


def test_batch_overrides_and_tags_end_to_end(spark, tmp_path):
    """host-override/program-override replace the PARSED header
    values (applied after parse, logsource.c:636-641); tags() marks
    every message from the source."""
    src = tmp_path / "in.log"
    src.write_text(
        "Jan  1 00:00:01 realhost realprog[7]: hello\n"
        "Jan  1 00:00:02 otherhost prog2: world\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s {{ file("{src}"
                 host-override("lb-internal")
                 program-override("myprog")
                 tags("ingest", "edge")); }};
destination d {{ file("{out}" template("$HOST|$PROGRAM|$TAGS|$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    lines = _lines(out)
    # tags() first, then the '.source.<group>' tag (logsource.c:622,630)
    assert lines == [
        "lb-internal|myprog|ingest,edge,.source.s|hello",
        "lb-internal|myprog|ingest,edge,.source.s|world",
    ]


def test_batch_keep_timestamp_no_stamps_receive_time(spark, tmp_path):
    """keep-timestamp(no): the sender's 'Jan 1' stamp is dropped;
    $STAMP renders the read instant (LP_NO_PARSE_DATE semantics)."""
    src = tmp_path / "in.log"
    src.write_text("Jan  1 00:00:01 h p: kept-or-not\n")
    out_no = tmp_path / "out_no"
    out_yes = tmp_path / "out_yes"
    year_now = dt.datetime.now().year
    run_conf(spark, f"""
source s {{ file("{src}" keep-timestamp(no)); }};
destination d {{ file("{out_no}" template("$YEAR $MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out_no) == [f"{year_now} kept-or-not"]
    # default keep-timestamp(yes): the parsed stamp survives
    run_conf(spark, f"""
source s {{ file("{src}"); }};
destination d {{ file("{out_yes}" template("$YEAR $MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out_yes) == ["2024 kept-or-not"]


def test_batch_tags_merge_with_parsed_tags(spark, tmp_path):
    """Source tags() union set-wise with tags set later in the path
    (set-tag rewrite), like log_msg_set_tag over the same bitfield."""
    src = tmp_path / "in.log"
    src.write_text("Jan  1 00:00:01 h p: msg\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s {{ file("{src}" tags("src-tag")); }};
rewrite r {{ set-tag("path-tag"); }};
destination d {{ file("{out}" template("$TAGS\\n")); }};
log {{ source(s); rewrite(r); destination(d); }};
""")
    assert _lines(out) == ["src-tag,.source.s,path-tag"]


def test_daemon_overrides_and_tags(spark, tmp_path):
    """The same options hold in daemon (streaming) mode — the file
    tail applies them per micro-batch."""
    src_dir = tmp_path / "watch"
    src_dir.mkdir()
    (src_dir / "a.log").write_text(
        "Jan  1 00:00:01 realhost realprog: streamed\n")
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    queries = run_conf_stream(spark, f"""
source s {{ file("{src_dir}/*.log"
                 host-override("lb-internal")
                 program-override("myprog")
                 tags("live")); }};
destination d {{ file("{out}" template("$HOST|$PROGRAM|$TAGS|$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""", str(ckpt), available_now=True)
    for q in queries:
        q.awaitTermination(60)
    deadline = time.time() + 30
    lines = []
    while time.time() < deadline:
        lines = _lines(out)
        if lines:
            break
        time.sleep(0.3)
    assert lines == ["lb-internal|myprog|live,.source.s|streamed"]


def test_source_macro_and_group_tag(spark, tmp_path):
    """$SOURCE renders the source statement's name (set at reception,
    lib/driver.c:219) and every message carries the
    '.source.<group>' tag (lib/logsource.c:630,787)."""
    src = tmp_path / "in.log"
    src.write_text("Jan  1 00:00:01 h p: msg\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s_net {{ file("{src}"); }};
destination d {{ file("{out}" template("$SOURCE|$TAGS|$MESSAGE\\n")); }};
log {{ source(s_net); destination(d); }};
""")
    assert _lines(out) == ["s_net|.source.s_net|msg"]


def test_source_filter_routes_by_group(spark, tmp_path):
    """filter { source("name"); } — exact string match on $SOURCE
    (lib/filter/filter-re.c:138 filter_source_new, string matcher):
    a two-source path routes each origin to its own destination."""
    a = tmp_path / "a.log"
    b = tmp_path / "b.log"
    a.write_text("Jan  1 00:00:01 h p: from-a\n")
    b.write_text("Jan  1 00:00:02 h p: from-b\n")
    out_a = tmp_path / "out_a"
    out_all = tmp_path / "out_all"
    run_conf(spark, f"""
source s_a {{ file("{a}"); }};
source s_b {{ file("{b}"); }};
filter f_a {{ source("s_a"); }};
destination d_a {{ file("{out_a}" template("$SOURCE $MESSAGE\\n")); }};
destination d_all {{ file("{out_all}" template("$SOURCE $MESSAGE\\n")); }};
log {{ source(s_a); source(s_b); filter(f_a); destination(d_a); }};
log {{ source(s_a); source(s_b); destination(d_all); }};
""")
    assert _lines(out_a) == ["s_a from-a"]
    assert _lines(out_all) == ["s_a from-a", "s_b from-b"]


def test_default_facility_severity(spark, tmp_path):
    """default-facility()/default-severity() (cfg-grammar.y
    msg_format_option): the PRI a message WITHOUT a <PRI> header
    takes; either alone fills the other half with LOG_USER /
    LOG_NOTICE (grammar actions, cfg-grammar.y:1289-1300); a header
    PRI always wins. Unconfigured, the fallback is user.notice
    (syslog-format.c:96)."""
    src = tmp_path / "in.log"
    src.write_text("Jan  1 00:00:01 h p: nopri\n"
                   "<11>Jan  1 00:00:02 h p: haspri\n")
    tpl = 'template("$FACILITY.$LEVEL $MESSAGE\\n")'
    out1 = tmp_path / "o1"
    run_conf(spark, f"""
source s {{ file("{src}" default-facility(mail) default-severity(warning)); }};
destination d {{ file("{out1}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out1) == ["mail.warning nopri", "user.err haspri"]

    out2 = tmp_path / "o2"
    run_conf(spark, f"""
source s {{ file("{src}" default-facility(cron)); }};
destination d {{ file("{out2}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out2) == ["cron.notice nopri", "user.err haspri"]

    out3 = tmp_path / "o3"
    run_conf(spark, f"""
source s {{ file("{src}"); }};
destination d {{ file("{out3}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out3) == ["user.err haspri", "user.notice nopri"]


def test_time_zone_on_source(spark, tmp_path):
    """time-zone() (msg_format_option, cfg-grammar.y:1288): a BSD
    stamp carries no zone, so the parsed wallclock is interpreted in
    the configured zone; the global recv-time-zone() is the fallback
    (msg-format.c:183-184). The engine timeline is UTC, so a +02:00
    stamp of 12:00 lands at 10:00."""
    src = tmp_path / "in.log"
    src.write_text("Jan  1 12:00:00 h p: tz-test\n")
    tpl = 'template("$HOUR:$MIN $MESSAGE\\n")'
    out1 = tmp_path / "o1"
    run_conf(spark, f"""
source s {{ file("{src}" time-zone("+02:00")); }};
destination d {{ file("{out1}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out1) == ["10:00 tz-test"]

    out2 = tmp_path / "o2"
    run_conf(spark, f"""
options {{ recv-time-zone("-03:00"); }};
source s {{ file("{src}"); }};
destination d {{ file("{out2}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out2) == ["15:00 tz-test"]

    out3 = tmp_path / "o3"
    run_conf(spark, f"""
source s {{ file("{src}"); }};
destination d {{ file("{out3}" {tpl}); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out3) == ["12:00 tz-test"]


def test_batch_and_daemon_write_the_same_rows(spark, tmp_path):
    """One conf through the shared source front-end in both modes: a
    flags(no-parse) file source and a time-zone() 3164 source, then
    conditional set-tag() and unset(). run_conf and run_conf_stream
    write the same rows."""
    raw_dir, tz_dir = tmp_path / "raw", tmp_path / "tz"
    raw_dir.mkdir()
    tz_dir.mkdir()
    (raw_dir / "a.log").write_text("plain error line\nplain ok line\n")
    (tz_dir / "a.log").write_text(
        "<11>Jan  1 12:00:00 h p: an error here\n"
        "<14>Jan  1 12:00:00 h q: fine\n")

    def conf(out):
        return f"""
source s_raw {{ file("{raw_dir}/*.log" flags(no-parse)); }};
source s_tz {{ file("{tz_dir}/*.log" time-zone("+02:00")); }};
rewrite r_tag {{ set-tag("hot" condition(message("error"))); }};
rewrite r_unset {{ unset(value("PROGRAM") condition(level(err..emerg))); }};
destination d {{ file("{out}" template("$HOUR:$MIN|$HOST|$PROGRAM|$TAGS|$MESSAGE\\n")); }};
log {{ source(s_raw); source(s_tz); rewrite(r_tag); rewrite(r_unset); destination(d); }};
"""

    run_conf(spark, conf(tmp_path / "batch"))
    queries = run_conf_stream(spark, conf(tmp_path / "daemon"),
                              str(tmp_path / "ckpt"), available_now=True)
    for q in queries:
        q.awaitTermination(120)
    batch = _lines(tmp_path / "batch")
    assert batch == _lines(tmp_path / "daemon")
    assert batch == [
        "10:00|h|q|.source.s_tz|fine",
        "10:00|h||.source.s_tz,hot|an error here",
        ":|||.source.s_raw,hot|plain error line",
        ":|||.source.s_raw|plain ok line",
    ]


def test_log_msg_size_splits_long_lines(spark, tmp_path):
    """log-msg-size(N): an over-long line yields the whole max-sized
    buffer as one message, i.e. splits into N-sized chunks
    (logproto-text-server.c:356,384); short lines pass untouched."""
    src = tmp_path / "in.log"
    src.write_text("short\n" + "A" * 25 + "\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s {{ file("{src}" flags(no-parse) log-msg-size(10)); }};
destination d {{ file("{out}" template("$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    assert _lines(out) == sorted(["A" * 10, "A" * 10, "A" * 5, "short"])


def test_log_msg_size_global_fallback():
    specs = compile_conf("""
options { log-msg-size(8192); trim-large-messages(yes); };
source s { file("/tmp/in.log"); };
source s2 { file("/tmp/in2.log" log-msg-size(100)); };
destination d { file("/tmp/out"); };
log { source(s); destination(d); };
log { source(s2); destination(d); };
""")
    assert specs[0]["source"]["log_msg_size"] == 8192
    assert specs[0]["source"]["trim_large_messages"] is True
    assert specs[1]["source"]["log_msg_size"] == 100


def test_framed_oversize_trim_and_fatal():
    """Octet-counted frames over log-msg-size: trim-large-messages
    truncates to the cap and skips the rest of the frame
    (logproto-framed-server.c:259-266); without trim the reference
    closes the connection, losing the remainder of the stream
    (framed-server.c:268-273)."""
    from syslog_ng_spark.sources.framing import split_frames

    stream = "5 AAAAA12 BBBBBBBBBBBB5 CCCCC"
    assert split_frames(stream) == ["AAAAA", "BBBBBBBBBBBB", "CCCCC"]
    assert split_frames(stream, max_msg_size=8, trim_large_messages=True) \
        == ["AAAAA", "BBBBBBBB", "CCCCC"]
    # no trim: the oversized frame kills the connection mid-stream
    assert split_frames(stream, max_msg_size=8) == ["AAAAA"]
    # non-transparent lines split instead (text-server semantics)
    assert split_frames("x" * 11 + "\nok\n", max_msg_size=4) \
        == ["xxxx", "xxxx", "xxx", "ok"]


def test_destination_suppress_option(spark, tmp_path):
    """suppress(N) dest_writer_option (cfg-grammar.y:1314,
    lib/logwriter.c): duplicates within the window are swallowed;
    the run's first message is delivered and a
    "Last message '...' repeated N times" summary follows
    (log_writer_emit_suppress_summary); '-- MARK --' is exempt."""
    src = tmp_path / "in.log"
    src.write_text(
        "Jan  1 00:00:01 h1 app[5]: disk full\n"
        "Jan  1 00:00:02 h1 app[5]: disk full\n"
        "Jan  1 00:00:03 h1 app[5]: disk full\n"
        "Jan  1 00:01:40 h1 app[5]: all clear\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
source s {{ file("{src}"); }};
destination d {{ file("{out}" suppress(30) template("$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    lines = _lines(out)
    assert "disk full" in lines and "all clear" in lines
    assert lines.count("disk full") == 1
    summary = [ln for ln in lines if ln.startswith("Last message")]
    assert len(summary) == 1
    assert summary[0].startswith(
        "Last message 'disk full' repeated 2 times, suppressed by syslog-ng on ")


def test_destination_suppress_global_fallback_and_mark(spark, tmp_path):
    src = tmp_path / "in.log"
    src.write_text(
        "Jan  1 00:00:01 h1 app[5]: -- MARK --\n"
        "Jan  1 00:00:02 h1 app[5]: -- MARK --\n")
    out = tmp_path / "out"
    run_conf(spark, f"""
options {{ suppress(60); }};
source s {{ file("{src}"); }};
destination d {{ file("{out}" template("$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
""")
    # MARK lines are never suppressed (logwriter.c:654-659)
    assert _lines(out) == ["-- MARK --", "-- MARK --"]
