"""Per-delivery state: $SEQNUM / $RCPTID / $UNIQID.

Reference semantics pinned here: lib/seqnum.h (per-writer counter from
1, gint32 wrap), lib/logwriter.c:1209 (step per delivered message),
lib/logmsg/logmsg.c:1150 + lib/rcptid.c (reception id from 1 under
use-uniqid(yes), 0 renders unset), lib/template/macros.c M_SEQNUM /
M_RCPTID / M_UNIQID rendering.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.delivery import (
    assign_rcptid,
    assign_seqnum,
    ensure_seqnum_counted,
    numbered_in_order,
)
from syslog_ng_spark.template import compile_template


def test_numbered_in_order_gapless_multi_partition(spark):
    df = spark.range(0, 1000).repartition(7)
    out = numbered_in_order(df, "n")
    vals = sorted(r["n"] for r in out.collect())
    assert vals == list(range(1, 1001))


def test_numbered_in_order_start_offset(spark):
    df = spark.range(0, 10).repartition(3)
    vals = sorted(r["n"] for r in numbered_in_order(df, "n", start=100).collect())
    assert vals == list(range(100, 110))


def test_numbered_empty_frame(spark):
    df = spark.range(0, 0)
    assert numbered_in_order(df, "n").collect() == []


def test_assign_seqnum_deterministic_order_by(spark):
    """order_by mode == a global row_number, without a
    single-partition window (repartitionByRange + offsets)."""
    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 500).alias("key")
    ).repartition(8)
    out = assign_seqnum(df, order_by="key")
    rows = out.orderBy("key").collect()
    assert [r["seqnum"] for r in rows] == list(range(1, 501))
    assert rows[0]["key"] == 0 and rows[0]["seqnum"] == 1


def test_seqnum_gint32_wrap(spark):
    """step_sequence_number uses INT32_MAX then wraps back to 1 (the
    increment overflows negative AFTER the old value was returned)."""
    df = spark.range(0, 3).coalesce(1)
    out = assign_seqnum(df, start=2147483646)
    assert sorted(r["seqnum"] for r in out.collect()) == [1, 2147483646, 2147483647]


def test_macro_rendering_and_zero_unset(spark):
    df = spark.createDataFrame(
        [("a", 3, 255), ("b", 0, 0)],
        "message string, seqnum long, rcptid long",
    )
    out = df.select(
        compile_template("$SEQNUM|$RCPTID|$UNIQID", df).alias("v")
    ).orderBy("message").collect()
    assert re.fullmatch(r"3\|255\|[0-9a-f]{8}@00000000000000ff", out[0]["v"])
    # 0 appends nothing in the reference (macros.c M_SEQNUM/M_RCPTID)
    assert out[1]["v"] == "||"


def test_ensure_seqnum_counted_only_when_referenced(spark):
    df = spark.range(0, 5).repartition(2)
    same, n = ensure_seqnum_counted(df, "$id only")
    assert n == 0 and "seqnum" not in same.columns
    numbered, n = ensure_seqnum_counted(df, "$SEQNUM $id")
    assert n == 5 and sorted(
        r["seqnum"] for r in numbered.collect()) == [1, 2, 3, 4, 5]
    # hidden inside a named template
    numbered2, n2 = ensure_seqnum_counted(
        df, "$(template withseq)", templates={"withseq": "n=$SEQNUM"})
    assert n2 == 5


def test_program_destination_gapless_and_continuous(spark, tmp_path):
    """Destination e2e: per-sink numbering is gapless 1..N, and a
    second write() through the SAME writer continues the counter
    (LogWriter lifetime), while a fresh writer restarts at 1."""
    from syslog_ng_spark import sinks

    out = tmp_path / "prog_out.txt"
    dest = sinks.ProgramDestination(
        command=f"cat >> {out}", template="$SEQNUM $MESSAGE")
    df = spark.createDataFrame(
        [(f"m{i}",) for i in range(20)], "message string").repartition(4)
    dest.write(df)
    seqs = sorted(int(line.split()[0]) for line in out.read_text().splitlines())
    assert seqs == list(range(1, 21))
    # same writer continues
    dest.write(df)
    seqs = sorted(int(line.split()[0]) for line in out.read_text().splitlines())
    assert seqs == list(range(1, 41))
    # two destinations number independently (each writer its own counter)
    out2 = tmp_path / "prog_out2.txt"
    sinks.ProgramDestination(
        command=f"cat >> {out2}", template="$SEQNUM").write(df)
    assert sorted(
        int(x) for x in out2.read_text().split()) == list(range(1, 21))


def test_conf_use_uniqid_end_to_end(spark, tmp_path):
    """options { use-uniqid(yes); } assigns RCPTID at reception; the
    destination template renders RCPTID/UNIQID; without the option
    they render empty (use_uniqid defaults FALSE, cfg.c:512)."""
    from syslog_ng_spark.config import run_conf

    src = tmp_path / "in.log"
    src.write_text("".join(f"line{i}\n" for i in range(6)))
    out_on = tmp_path / "out_on"
    conf_on = f"""
options {{ use-uniqid(yes); }};
source s {{ file("{src}" flags(no-parse)); }};
destination d {{ file("{out_on}" template("$RCPTID $UNIQID $MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
"""
    run_conf(spark, conf_on)
    lines = sorted(
        ln for f in out_on.glob("part-*") for ln in f.read_text().splitlines()
    )
    assert len(lines) == 6
    ids = sorted(int(ln.split()[0]) for ln in lines)
    assert ids == [1, 2, 3, 4, 5, 6]
    assert all(
        re.fullmatch(r"[0-9a-f]{8}@[0-9a-f]{16}", ln.split()[1]) for ln in lines
    )

    out_off = tmp_path / "out_off"
    conf_off = f"""
source s {{ file("{src}" flags(no-parse)); }};
destination d {{ file("{out_off}" template("[$RCPTID][$UNIQID]$MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
"""
    run_conf(spark, conf_off)
    lines = [ln for f in out_off.glob("part-*") for ln in f.read_text().splitlines()]
    assert len(lines) == 6 and all(ln.startswith("[][]line") for ln in lines)


def test_conf_seqnum_text_destination(spark, tmp_path):
    from syslog_ng_spark.config import run_conf

    src = tmp_path / "in2.log"
    src.write_text("".join(f"x{i}\n" for i in range(10)))
    out = tmp_path / "out_seq"
    conf = f"""
source s {{ file("{src}" flags(no-parse)); }};
destination d {{ file("{out}" template("$SEQNUM\\n")); }};
log {{ source(s); destination(d); }};
"""
    run_conf(spark, conf)
    seqs = sorted(
        int(ln) for f in out.glob("part-*") for ln in f.read_text().splitlines()
    )
    assert seqs == list(range(1, 11))


def test_stream_use_uniqid_supported(spark, tmp_path):
    """r12: daemon-mode use-uniqid(yes) no longer loud-fails — the
    reception counter persists beside the checkpoint (the full
    continuity/restart behavior is pinned in test_daemon_rcptid.py)."""
    import os

    from syslog_ng_spark.config import run_conf_stream

    os.makedirs(tmp_path / "watch")
    (tmp_path / "watch" / "a.log").write_text("hello\n")
    conf = f"""
options {{ use-uniqid(yes); }};
source s {{ file("{tmp_path}/watch" flags(no-parse)); }};
destination d {{ file("{tmp_path}/out" template("$RCPTID $MSG")); }};
log {{ source(s); destination(d); }};
"""
    queries = run_conf_stream(spark, conf, str(tmp_path / "ckpt"),
                              available_now=True)
    for q in queries:
        q.awaitTermination(120)
    out = [r["value"] for r in spark.read.text(str(tmp_path / "out")).collect()]
    assert out == ["1 hello"]


def test_assign_rcptid_basic(spark):
    df = spark.range(0, 8).repartition(3)
    out = assign_rcptid(df)
    assert sorted(r["rcptid"] for r in out.collect()) == list(range(1, 9))


def test_conf_stream_seqnum_continues_across_microbatches(spark, tmp_path):
    """Daemon mode: within ONE streaming run the per-destination
    $SEQNUM counter survives micro-batches (run_conf_stream keeps a
    driver-side continuation point, like the LogWriter living across
    delivery bursts); a NEW run restarts at 1 exactly like
    init_sequence_number on writer init."""
    from syslog_ng_spark.config import run_conf_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    out = tmp_path / "out_seq"
    conf = f"""
source s {{ file("{watch}/*.log" flags(no-parse)); }};
destination d {{ file("{out}" template("$SEQNUM $MESSAGE\\n")); }};
log {{ source(s); destination(d); }};
"""
    (watch / "a.log").write_text("".join(f"a{i}\n" for i in range(7)))
    qs = run_conf_stream(spark, conf, str(tmp_path / "ck"))
    try:
        for q in qs:
            q.processAllAvailable()
        (watch / "b.log").write_text("".join(f"b{i}\n" for i in range(5)))
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()

    lines = [ln for f in out.glob("part-*") for ln in f.read_text().splitlines()]
    seqs = sorted(int(ln.split()[0]) for ln in lines)
    assert seqs == list(range(1, 13))
    b_seqs = sorted(int(ln.split()[0]) for ln in lines if ln.split()[1].startswith("b"))
    assert b_seqs == list(range(8, 13))

    # a RESTARTED run (same checkpoint) is a new writer: counter back
    # to 1 for the messages it delivers
    (watch / "c.log").write_text("c0\nc1\n")
    qs = run_conf_stream(spark, conf, str(tmp_path / "ck"))
    try:
        for q in qs:
            q.processAllAvailable()
    finally:
        for q in qs:
            q.stop()
    lines = [ln for f in out.glob("part-*") for ln in f.read_text().splitlines()]
    c_seqs = sorted(int(ln.split()[0]) for ln in lines if ln.split()[1].startswith("c"))
    assert c_seqs == [1, 2]


# ---------------------------------------------------------------------------
# numbered_in_order: the sort-key surrogate branches on dtype (numeric-
# looking strings still bucket lexicographically; short strings pad
# right so 'b' > 'aa' survives the 8-byte prefix), and the numbered
# frame is persisted so a nondeterministic upstream (round-robin
# repartition) cannot shift rows between the counting and consuming
# jobs. _destination returns how many rows it numbered, which the
# daemon's per-destination counter advances by; a $SEQNUM in a kafka
# topic alone numbers the frame.
# ---------------------------------------------------------------------------


def test_string_key_numbers_lexicographically(spark):
    # '10' < '9' lexicographically; the old try_cast('double')-first
    # surrogate bucketed them numerically and contradicted the
    # in-bucket orderBy. 200 distinct string keys so quantile bucket
    # boundaries genuinely split the surrogate range.
    keys = [str(i) for i in range(1, 201)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(8)
    out = {r["k"]: r["n"] for r in numbered_in_order(df, "n", order_by="k").collect()}
    expected = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert out == expected


def test_short_string_prefix_padding(spark):
    # unpadded big-endian prefixes invert 'b' (0x62) vs 'aa' (0x6161)
    keys = ["b", "aa", "z", "ab", "a", "yy", "ba"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(4)
    out = {r["k"]: r["n"] for r in numbered_in_order(df, "n", order_by="k").collect()}
    assert out == {k: i + 1 for i, k in enumerate(sorted(keys))}


def test_mixed_numeric_and_word_strings(spark):
    # '123' must NOT get a numeric surrogate while 'abc' gets a
    # byte-prefix one — Spark sorts both lexicographically
    keys = ["123", "abc", "9", "10", "Zz", "0"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(3)
    out = {r["k"]: r["n"] for r in numbered_in_order(df, "n", order_by="k").collect()}
    assert out == {k: i + 1 for i, k in enumerate(sorted(keys))}


def test_numeric_key_still_numeric_order(spark):
    df = spark.range(0, 500).select((F.col("id") * 7 % 500).alias("k")).repartition(6)
    vals = [r["k"] for r in numbered_in_order(df, "n", order_by="k")
            .orderBy("n").collect()]
    assert vals == sorted(vals)


def test_delivery_order_survives_round_robin_upstream(spark):
    # repartition(n) is round-robin — without the layout-pinning
    # persist, the counting and consuming jobs could see different
    # row->partition layouts and duplicate/skip numbers
    df = spark.range(0, 2000).repartition(13)
    out = numbered_in_order(df, "n")
    vals = sorted(r["n"] for r in out.collect())
    assert vals == list(range(1, 2001))
    # a second materialization of the SAME numbered frame agrees
    again = sorted(r["n"] for r in out.collect())
    assert again == vals


def test_destination_returns_numbered_count(spark, tmp_path):
    from syslog_ng_spark.config import _destination

    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["message"])
    spec = {"kind": "text", "path": str(tmp_path / "out1"),
            "template": "$SEQNUM $MESSAGE\n"}
    assert _destination(df, spec) == 3
    # frame already carries seqnum -> writer numbers nothing, so the
    # daemon counter must not advance
    pre = df.withColumn("seqnum", F.lit(7).cast("long"))
    spec2 = {"kind": "text", "path": str(tmp_path / "out2"),
             "template": "$SEQNUM $MESSAGE\n"}
    assert _destination(pre, spec2) == 0
    # no $SEQNUM reference -> nothing numbered
    spec3 = {"kind": "text", "path": str(tmp_path / "out3"),
             "template": "$MESSAGE\n"}
    assert _destination(df, spec3) == 0


def test_kafka_topic_template_scanned_for_seqnum(spark, monkeypatch):
    # the topic is the spec's only $SEQNUM reference: _destination
    # numbers the frame kafka receives, from seqnum_start, and reports
    # the count the daemon continues its counter from
    from syslog_ng_spark import config as cfg

    seen = []
    monkeypatch.setattr(cfg.sinks, "kafka_sink",
                        lambda df, *a, **kw: seen.extend(df.collect()))
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["message"])
    spec = {"kind": "kafka", "brokers": "localhost:9092",
            "topic": "t-$SEQNUM", "fallback_topic": "t", "seqnum_start": 5}
    assert cfg._destination(df, spec) == 3
    assert sorted(r["seqnum"] for r in seen) == [5, 6, 7]


def test_binary_key_orders_by_raw_bytes(spark):
    # non-UTF-8 binary keys must not be mangled by a string round-trip
    keys = [bytes([b, 0xFF, 0x80]) for b in (0x00, 0x7F, 0x80, 0xFE, 0x41)]
    df = spark.createDataFrame([(k,) for k in keys], "k binary").repartition(3)
    out = {bytes(r["k"]): r["n"]
           for r in numbered_in_order(df, "n", order_by="k").collect()}
    assert out == {k: i + 1 for i, k in enumerate(sorted(keys))}


def test_common_prefix_keys_number_correctly(spark):
    # keys sharing a >8-byte common prefix: the plain 8-byte surrogate
    # collapses to one bucket; the fallback strips the population's
    # common prefix and still numbers in exact lexicographic order
    keys = [f"https://cdn.example.com/assets/{i:04d}.js" for i in range(300)]
    import random
    rnd = random.Random(7)
    rnd.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(8)
    out = {r["k"]: r["n"] for r in numbered_in_order(df, "n", order_by="k").collect()}
    assert out == {k: i + 1 for i, k in enumerate(sorted(keys))}
