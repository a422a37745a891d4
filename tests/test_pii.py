"""PII detection/redaction (operators/pii.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.pii import (
    cc_candidates,
    luhn_valid,
    pii_counts,
    pii_matches,
    pii_redact,
    pii_redact_col,
)

ROWS = [
    (1, "mail john.doe+x@corp.example.com or call (555) 123-4567"),
    (2, "server 192.168.1.254 ssn 123-45-6789 order 12345678901234567890999"),
    (3, "card 4539 5787 6362 1486 expires; fake 1234 5678 9012 3456"),
    (4, "ip 999.999.999.999 invalid; 10.0.0.1 real. +1 555-987-6543"),
    (5, "clean text number 123456 date 2024-01-01 v1.2.3.4000"),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "id int, text string")


def _texts(df):
    out = pii_redact(df, "text").orderBy("id")
    return [r.text for r in out.collect()]


def test_redaction_all_categories(df):
    got = _texts(df)
    assert got[0] == "mail <EMAIL> or call <PHONE>"
    assert got[1] == "server <IP> ssn <SSN> order 12345678901234567890999"
    # Luhn-valid card redacted, invalid digit run preserved
    assert got[2] == "card <CREDIT_CARD> expires; fake 1234 5678 9012 3456"
    assert got[3] == "ip 999.999.999.999 invalid; <IP> real. <PHONE>"
    assert got[4] == ROWS[4][1]  # untouched


def test_counts(df):
    out = pii_redact(df, "text", with_counts=True).orderBy("id").collect()
    by_id = {r.id: r for r in out}
    assert (by_id[1].pii_email, by_id[1].pii_phone) == (1, 1)
    assert (by_id[2].pii_ipv4, by_id[2].pii_ssn, by_id[2].pii_credit_card) == (1, 1, 0)
    assert by_id[3].pii_credit_card == 1
    assert all(
        by_id[5][f"pii_{c}"] == 0
        for c in ("email", "ipv4", "ssn", "phone", "credit_card")
    )


def test_luhn_vectors(spark):
    cases = [
        ("4539578763621486", True),
        ("4539 5787 6362 1486", True),  # separators stripped
        ("4539-5787-6362-1486", True),
        ("1234567890123456", False),
        ("79927398713", False),  # valid Luhn but 11 digits < 13
        ("0000000000000", True),  # 13 zeros: sum 0 — shape-valid
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "c string")
    got = {r.c: r.v for r in df.select("c", luhn_valid(F.col("c")).alias("v")).collect()}
    for c, expect in cases:
        assert got[c] is expect, c


def test_cc_candidates_bounds(spark):
    df = spark.createDataFrame(
        [("a 4539578763621486 b 12345678901234567890999 c",)], "t string"
    )
    # 16-digit valid extracted; 23-digit run matches nothing (no word
    # boundary inside a digit run)
    got = df.select(cc_candidates(F.col("t")).alias("c")).collect()[0].c
    assert got == ["4539578763621486"]


def test_redaction_idempotent(df):
    once = pii_redact(df, "text")
    twice = pii_redact(once, "text")
    assert [r.text for r in once.orderBy("id").collect()] == [
        r.text for r in twice.orderBy("id").collect()
    ]


def test_category_subset(spark):
    df = spark.createDataFrame([("a@b.co 10.0.0.1",)], "text string")
    v = df.select(pii_redact_col(F.col("text"), ["email"]).alias("v")).collect()[0].v
    assert v == "<EMAIL> 10.0.0.1"


def test_ssn_exclusions(spark):
    # 000/666/9xx area, 00 group, 0000 serial are not SSNs
    rows = [("000-12-3456",), ("666-12-3456",), ("900-12-3456",),
            ("123-00-4567",), ("123-45-0000",), ("123-45-6789",)]
    df = spark.createDataFrame(rows, "text string")
    got = [r.v for r in df.select(pii_counts(F.col("text"))["ssn"].alias("v")).collect()]
    assert got == [0, 0, 0, 0, 0, 1]


def test_plan_stays_jvm_side(df):
    plan = pii_redact(df, "text", with_counts=True)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# pii_matches honors the CALLER's category order where patterns overlap
# at the same position


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
