"""Shared DataFrame utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for when the hot side is too big to
    broadcast: salt the skewed (left) side's key into `salt` shards and
    replicate the right side across shards, so one hot key spreads over
    `salt` reducers instead of melting a single one. AQE's skew-join
    split handles moderate skew automatically; this is the explicit
    fallback for pathological keys (a handful of keys holding most
    rows). Result is identical to a plain join on `key` ONLY for
    inner/left/semi/anti joins; right/full outer would null-extend each
    unmatched right row once per shard, so those modes are rejected."""
    from pyspark.sql import functions as F

    if how not in {"inner", "left", "left_outer", "left_semi", "left_anti"}:
        raise ValueError(
            f"salted_join does not preserve {how!r} semantics: unmatched "
            "right rows would be replicated across salt shards; use "
            "inner/left/left_semi/left_anti"
        )

    salted_l = left.withColumn(
        "_salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt).cast("int")
    )
    shards = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]).cast("array<int>"))
    )
    out = salted_l.join(shards, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def collect_at_most(df: DataFrame, bound: int) -> list | None:
    """`df`'s rows on the driver when there are at most `bound` of
    them, else None. The limit(bound+1) collect proves the bound
    before committing: getting `bound+1` rows back means the frame is
    bigger, and the caller takes its distributed path without ever
    holding an unbounded result."""
    rows = df.limit(bound + 1).collect()
    return None if len(rows) > bound else rows


def epoch_seconds(col):
    """Timestamp → fractional epoch seconds, safe for both TIMESTAMP and
    TIMESTAMP_NTZ inputs. Spark 4's ANSI rules forbid casting NTZ
    straight to double; hopping through TIMESTAMP first is a no-op for
    tz-aware values and interprets NTZ in the session timezone (UTC in
    this engine — session.py pins it), which keeps arithmetic on two
    hopped values (gaps, bucket floors) exact."""
    return col.cast("timestamp").cast("double")


# Plan memo keyed by input-DataFrame identity (r14): with catalog.T()
# memoized, the same base-table plan object flows through rebalance()
# on every query build, and the getNumPartitions() probe + repartition
# wrapper cost ~100 ms of py4j round trips per call. The memo stores
# only the wrapped LOGICAL PLAN — no rows, no statistics derived from
# data — so every action still computes from the parquet inputs. The
# `is` check guards against id() reuse; the size cap bounds JVM plan
# references under long test sessions.
_REBALANCE_MEMO: dict[int, tuple] = {}


def rebalance(df: DataFrame) -> DataFrame:
    """Spread rows across all cores before CPU-heavy per-row work
    (regex parse, tokenize/explode, vector math) — but ONLY when the
    input is under-partitioned. A small parquet table arrives as ONE
    partition (single row group), so the whole chain would run on one
    core — profiled 7.5s vs 0.3s for the shingle explode at sf0.1.

    At cluster scale the input is already thousands of splits, and an
    unconditional repartition would be a pure-cost full shuffle of the
    fact table; the partition-count gate makes this a no-op there. The
    getNumPartitions() probe only plans the scan (no job runs)."""
    hit = _REBALANCE_MEMO.get(id(df))
    if hit is not None and hit[0] is df:
        return hit[1]
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        out = df
    else:
        # Pushdown barrier (r14): Catalyst pushes deterministic
        # predicates below the repartition Exchange, which lands
        # EXPENSIVE filters (regex parses like snmptrapd's is_trap)
        # back on the under-partitioned input — the exact serial
        # stage this helper exists to escape (measured 3.5s -> 1.2s
        # on snmptrapd_parse at sf0.1, rows identical). A trivially
        # true filter on a nondeterministic expression blocks the
        # reordering (predicates cannot cross a nondeterministic
        # filter), costs one comparison per row, and changes no row.
        # Only this under-partitioned branch pays it: an input that
        # is already parallel returns unchanged above, so parquet
        # scan pushdown at cluster scale is untouched.
        out = df.repartition(parallelism).where(F.monotonically_increasing_id() >= 0)
    if len(_REBALANCE_MEMO) > 256:
        _REBALANCE_MEMO.clear()
    _REBALANCE_MEMO[id(df)] = (df, out)
    return out


def quantile_agg_expr(
    score_col: str, q: float, method: str = "exact", accuracy: int = 10000
) -> str:
    """The exact/approx quantile aggregate shared by every calibrated
    threshold in the engine (sampling.quantile_select's per-group cut,
    similarity.hard_negatives' negative-band floor). method='exact' is
    Spark `percentile` (interpolated — DuckDB quantile_cont replays it
    for oracles) and buffers each group's values on one reducer;
    method='approx' is `approx_percentile` (Greenwald-Khanna sketch,
    bounded memory per group, rank error <= 1/accuracy) — the 100 TB
    path. When the group is smaller than `accuracy` the sketch is
    exact and returns the same discrete element as DuckDB
    quantile_disc (verified per-gate), so approx variants can still be
    hash-gated at test SFs. Same plan either way: one aggregate,
    broadcast back — only the agg expression changes."""
    if method not in ("exact", "approx"):
        raise ValueError(f"unknown quantile method {method!r}")
    return (
        f"percentile({score_col}, {q!r})"
        if method == "exact"
        else f"approx_percentile({score_col}, {q!r}, {accuracy})"
    )


def track_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach persisted intermediates to a lazily-returned result so
    long-lived callers can release them after their terminal action.

    Several operators (repeated_passages, dsir_logweight, vocab_growth,
    hashed_bow_topk, the near-dup signature builders) persist() an
    intermediate that the RETURNED plan reads in two or more branches —
    unpersisting inside the operator would defeat the cache before the
    caller's first action. bpe_train's try/finally precedent only works
    because its actions are internal. For everyone else: the persisted
    frames ride along on the result, and `release_cached(df)` frees
    them once the caller is done (idempotent; Spark also evicts under
    memory pressure and drops them with the session)."""
    existing = list(getattr(result, "_cached_intermediates", ()))
    result._cached_intermediates = existing + [c for c in cached if c is not None]
    return result


def release_cached(df: DataFrame) -> None:
    """Unpersist every intermediate `track_cached` attached to `df`.
    Call after the last action that consumes `df` (safe any time —
    recomputation, not corruption, is the cost of releasing early)."""
    for c in getattr(df, "_cached_intermediates", ()):
        c.unpersist()
    df._cached_intermediates = []
