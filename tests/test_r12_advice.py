"""Regression pins for the round-12 ADVICE findings.

1. delivery._monotone_surrogate must branch on dtype: numeric-LOOKING
   strings bucket lexicographically (not numerically), and short
   strings pad right so 'b' > 'aa' survives the 8-byte prefix.
2. delivery-order numbering persists the frame so nondeterministic
   upstreams (round-robin repartition) cannot shift rows between the
   counting and consuming jobs.
3. a $SEQNUM reference in a kafka destination's topic alone numbers
   the frame (kafka dynamic topics), so the daemon continues that
   counter instead of restarting at 1 every micro-batch.
4. config._destination returns the numbered count so the daemon's
   per-destination counter advances by what was actually numbered
   (0 when the frame already carries seqnum).
5. pii._alternation/_match_token honor the CALLER's category order
   where patterns overlap at the same position.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.delivery import numbered_in_order
from syslog_ng_spark.operators.pii import pii_matches


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


def test_pii_caller_category_order_controls_precedence(spark):
    # '123-456-7890-123' is 13 digits: the cc candidate matches the
    # whole run, phone matches the 12-char prefix — same start
    # position, so alternation branch order decides
    df = spark.createDataFrame([("call 123-456-7890-123 now",)], ["t"])
    phone_first = df.select(
        pii_matches(F.col("t"), ["phone", "credit_card"]).alias("m")
    ).head()["m"]
    cc_first = df.select(
        pii_matches(F.col("t"), ["credit_card", "phone"]).alias("m")
    ).head()["m"]
    assert phone_first == ["123-456-7890"]
    assert cc_first == ["123-456-7890-123"]


def test_pii_default_order_unchanged(spark):
    # default cats put credit_card first — r11 behavior preserved
    df = spark.createDataFrame([("card 4111 1111 1111 1111 ok",)], ["t"])
    got = df.select(pii_matches(F.col("t")).alias("m")).head()["m"]
    assert got == ["4111 1111 1111 1111"]


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
