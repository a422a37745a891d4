"""Custom stateful streaming operators via applyInPandasWithState.

Reference: modules/dbparser/correlation-context.c + timerwheel.c — a
correlation context accumulates messages per key and emits ONE
synthetic message when the context times out (no message for `timeout`
seconds). `session_window` covers the aggregate case
(streaming/grouping_by.py); this module is the general hook for logic
session windows can't express: per-context custom accumulators,
trigger() conditions that close a context early, and token-bucket rate
limiting with exact per-message admission.

State is keyed and partitioned like any shuffle → scales horizontally;
event-time timeouts ride the watermark exactly like the reference's
timer wheel rides its clock.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def grouping_by_stateful(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value_col: str = "value",
    timeout: int = 1800,
    watermark: str = "10 minutes",
    trigger_count: int | None = None,
) -> DataFrame:
    """grouping-by() with explicit context state: emits one synthetic
    row per closed context (timeout-driven, like pdb-context expiry),
    or immediately when `trigger_count` messages accumulate (the
    trigger() condition, groupingby.c:_evaluate_trigger).
    """
    out_schema = (
        f"{key} long, context_length long, time_first timestamp, "
        "time_last timestamp, sum_value double, closed_by string"
    )
    state_schema = "n long, tf long, tl long, sv double"

    def fn(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key_tuple

        def emit(n, tf, tl, sv, how):
            return pd.DataFrame(
                {
                    key: [k],
                    "context_length": [n],
                    "time_first": [pd.Timestamp(tf, unit="us")],
                    "time_last": [pd.Timestamp(tl, unit="us")],
                    "sum_value": [sv],
                    "closed_by": [how],
                }
            )

        if state.hasTimedOut:
            n, tf, tl, sv = state.get
            state.remove()
            yield emit(n, tf, tl, sv, "timeout")
            return

        n, tf, tl, sv = state.get if state.exists else (0, None, None, 0.0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            us = pdf[ts].astype("int64") // 1000  # ns → µs
            n += len(pdf)
            tf = int(us.min()) if tf is None else min(tf, int(us.min()))
            tl = int(us.max()) if tl is None else max(tl, int(us.max()))
            sv += float(pdf[value_col].sum())
        if trigger_count is not None and n >= trigger_count:
            state.remove()
            yield emit(n, tf, tl, sv, "trigger")
            return
        state.update((n, tf, tl, sv))
        # context expires `timeout` seconds of *event time* after the
        # last message — the reference's timer-wheel reschedule. Clamped
        # above the current watermark: a timeout shorter than the
        # watermark delay would otherwise compute a timestamp <= the
        # watermark, which Spark rejects (IllegalArgumentException)
        # and kills the whole streaming query.
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(tl // 1000 + timeout * 1000, wm_ms + 1))

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def token_bucket_rate_limit(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    rate_per_sec: float = 1.0,
    burst: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact per-message rate-limit() (reference: throttle option /
    rate-limit filter): a token bucket per key refilled in event time.
    Emits per-key accounting rows per micro-batch."""
    out_schema = f"{key} long, batch_passed long, batch_dropped long"
    state_schema = "tokens double, last_us long"

    def fn(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key_tuple
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        tokens, last_us = state.get if state.exists else (float(burst), 0)
        passed = dropped = 0
        rows = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            us = (pdf[ts].astype("int64") // 1000).tolist()
            rows.extend(us)
        for t_us in sorted(rows):
            if last_us:
                tokens = min(float(burst), tokens + (t_us - last_us) / 1e6 * rate_per_sec)
            last_us = t_us
            if tokens >= 1.0:
                tokens -= 1.0
                passed += 1
            else:
                dropped += 1
        state.update((tokens, last_us))
        yield pd.DataFrame({key: [k], "batch_passed": [passed], "batch_dropped": [dropped]})

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def context_emit_stream(
    events: DataFrame,
    key: Sequence[str],
    carry: Sequence[str],
    ts: str = "ts",
    timeout: int = 60,
    watermark: str = "10 minutes",
    trigger_count: int | None = None,
) -> DataFrame:
    """Correlation-context emitter: one row per CLOSED context
    (event-time timeout, or `trigger_count` messages), carrying the
    context's LAST message's `carry` columns plus context_length /
    time_first / time_last — the streaming analog of patterndb context
    expiry (modules/dbparser/patterndb.c pattern_db_expire_entry,
    timerwheel.c). Downstream selects render synthetic messages from
    these rows with the template compiler, so rendering stays JVM-side
    Column logic; only the context bookkeeping lives in Python state.
    """
    dtypes = dict(events.dtypes)
    key = list(key)
    carry = [c for c in carry if c not in key]

    out_schema = ", ".join(
        [f"`{c}` {dtypes[c]}" for c in key]
        + [f"`{c}` {dtypes[c]}" for c in carry]
        + ["context_length long", "time_first timestamp", "time_last timestamp",
           "closed_by string"]
    )
    state_fields = ["n long", "tf long", "tl long"]
    for c in carry:
        state_fields.append(f"`_c_{c}` " + ("long" if dtypes[c] == "timestamp" else dtypes[c]))
    state_schema = ", ".join(state_fields)

    def _to_state(val, dt):
        if val is None or (isinstance(val, float) and pd.isna(val)):
            return None
        if dt == "timestamp":
            return int(pd.Timestamp(val).value // 1000)  # ns → µs
        if hasattr(val, "item"):
            return val.item()
        return val

    def _from_state(val, dt):
        if val is None:
            return None
        if dt == "timestamp":
            return pd.Timestamp(val, unit="us")
        return val

    def fn(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        def emit(n, tf, tl, carried, how):
            row = {c: [v] for c, v in zip(key, key_tuple)}
            for c, v in zip(carry, carried):
                row[c] = [_from_state(v, dtypes[c])]
            row["context_length"] = [n]
            row["time_first"] = [pd.Timestamp(tf, unit="us")]
            row["time_last"] = [pd.Timestamp(tl, unit="us")]
            row["closed_by"] = [how]
            return pd.DataFrame(row)

        if state.hasTimedOut:
            packed = state.get
            n, tf, tl = packed[0], packed[1], packed[2]
            state.remove()
            yield emit(n, tf, tl, packed[3:], "timeout")
            return

        if state.exists:
            packed = state.get
            n, tf, tl, carried = packed[0], packed[1], packed[2], list(packed[3:])
        else:
            n, tf, tl, carried = 0, None, None, [None] * len(carry)
        for pdf in pdfs:
            if pdf.empty:
                continue
            us = pdf[ts].astype("int64") // 1000
            n += len(pdf)
            tf = int(us.min()) if tf is None else min(tf, int(us.min()))
            batch_last = pdf.loc[us.idxmax()]
            if tl is None or int(us.max()) >= tl:
                tl = int(us.max())
                carried = [_to_state(batch_last[c], dtypes[c]) for c in carry]
        if trigger_count is not None and n >= trigger_count:
            state.remove()
            yield emit(n, tf, tl, carried, "trigger")
            return
        state.update((n, tf, tl, *carried))
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(tl // 1000 + timeout * 1000, wm_ms + 1))

    return (
        events.withWatermark(ts, watermark)
        .groupBy(*key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def pool_context_stream(
    pool: DataFrame,
    ts: str = "ts",
    order_tiebreak: str | None = None,
    merge_json_col: str | None = None,
    watermark: str = "10 minutes",
    collect_context: bool = False,
    emit_matches: bool = False,
) -> DataFrame:
    """Expiry emitter for the SHARED patterndb correlation pool
    (operators/actions.prepare_actions): contexts are keyed by
    (_scope_key, CONTEXT_ID) — the reference's one correlation hash
    table (patterndb.c:579-635) — and carry the last message's full
    payload, the per-message `_timeout` (variable: the timer is reset
    to the timeout of whichever rule added the last message,
    patterndb.c:621), and optionally a latest-setter-wins merge of a
    JSON-map column (`merge_json_col`) replicating
    log_msg_merge_context. One output row per expired context with
    `context_length`, `time_first`/`time_last`, and `merged_json`.

    With `collect_context` the expiry row also carries `_context`: the
    context's full message list as array<struct> in event order (the
    non-internal carry columns — the same element shape the batch
    operator's collect_list builds), so trigger templates evaluate
    $(grep)/$(context-*)/@N against real context state
    (modules/dbparser/context-funcs.c). The list rides the state as a
    JSON array (timestamps as epoch-µs).

    With `emit_matches` (r12) the operator ALSO emits one row per
    incoming message, closed_by='match', carrying that MESSAGE's own
    fields plus the context state as of that message (context_length,
    merged_json, and `_context` when collect_context) — the live
    per-message context view match-trigger templates evaluate against
    in the reference (_execute_action_message at RAT_MATCH sees the
    context the message just joined). Costs one output row per pool
    row; enable only when a match-trigger template references context
    state."""
    import json

    dtypes = dict(pool.dtypes)
    key = ["_scope_key", "CONTEXT_ID"]
    carry = [c for c in pool.columns if c not in key]
    # context element fields: payload only (internal '_'-prefixed
    # bookkeeping columns stay out, matching the batch element shape)
    ctx_cols = [c for c in carry if not c.startswith("_")] if collect_context else []

    out_schema = ", ".join(
        [f"`{c}` {dtypes[c]}" for c in key]
        + [f"`{c}` {dtypes[c]}" for c in carry]
        + ["context_length long", "time_first timestamp", "time_last timestamp",
           "merged_json string", "closed_by string"]
        + (
            ["`_context` array<struct<"
             + ", ".join(f"`{c}`: {dtypes[c]}" for c in ctx_cols) + ">>"]
            if collect_context else []
        )
    )
    state_fields = ["n long", "tf long", "tl long", "mj string"]
    if collect_context:
        state_fields.append("ctx string")
    for c in carry:
        state_fields.append(f"`_c_{c}` " + ("long" if dtypes[c] == "timestamp" else dtypes[c]))
    state_schema = ", ".join(state_fields)

    sort_cols = [ts] + ([order_tiebreak] if order_tiebreak else []) + (
        ["_seq"] if "_seq" in pool.columns else []
    )

    def _to_state(val, dt):
        if val is None or (isinstance(val, float) and pd.isna(val)):
            return None
        if dt == "timestamp":
            return int(pd.Timestamp(val).value // 1000)  # ns → µs
        if hasattr(val, "item"):
            return val.item()
        return val

    def _from_state(val, dt):
        if val is None:
            return None
        if dt == "timestamp":
            return pd.Timestamp(val, unit="us")
        return val

    def fn(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        def emit(n, tf, tl, mj, carried, how, ctxj="[]"):
            row = {c: [v] for c, v in zip(key, key_tuple)}
            for c, v in zip(carry, carried):
                row[c] = [_from_state(v, dtypes[c])]
            row["context_length"] = [n]
            row["time_first"] = [pd.Timestamp(tf, unit="us")]
            row["time_last"] = [pd.Timestamp(tl, unit="us")]
            row["merged_json"] = [mj]
            row["closed_by"] = [how]
            if collect_context:
                # event-order across micro-batches (stable: same-stamp
                # messages keep arrival order, like the timer wheel)
                msgs = sorted(
                    json.loads(ctxj or "[]"),
                    key=lambda m: (m.get(ts) is None, m.get(ts)),
                )
                row["_context"] = [[
                    {c: _from_state(m.get(c), dtypes[c]) for c in ctx_cols}
                    for m in msgs
                ]]
            return pd.DataFrame(row)

        if state.hasTimedOut:
            packed = state.get
            n, tf, tl, mj = packed[0], packed[1], packed[2], packed[3]
            off = 5 if collect_context else 4
            ctxj = packed[4] if collect_context else "[]"
            state.remove()
            yield emit(n, tf, tl, mj, packed[off:], "timeout", ctxj)
            return

        if state.exists:
            packed = state.get
            n, tf, tl, mj = packed[0], packed[1], packed[2], packed[3]
            off = 5 if collect_context else 4
            ctx_msgs = json.loads(packed[4] or "[]") if collect_context else []
            carried = list(packed[off:])
        else:
            n, tf, tl, mj, carried = 0, None, None, "{}", [None] * len(carry)
            ctx_msgs = []
        merged = json.loads(mj) if mj else {}
        match_rows: list = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(sort_cols, kind="stable")
            us = pdf[ts].astype("int64") // 1000
            rown = n
            n += len(pdf)
            tf = int(us.min()) if tf is None else min(tf, int(us.min()))
            # walk rows in event order so the merge and the carried
            # "last message" follow the reference's arrival semantics
            for _, row in pdf.iterrows():
                rown += 1
                row_us = int(pd.Timestamp(row[ts]).value // 1000)
                if tl is None or row_us >= tl:
                    tl = row_us
                    carried = [_to_state(row[c], dtypes[c]) for c in carry]
                if collect_context:
                    ctx_msgs.append(
                        {c: _to_state(row[c], dtypes[c]) for c in ctx_cols}
                    )
                if merge_json_col is not None:
                    rj = row[merge_json_col]
                    if rj:
                        merged.update(json.loads(rj))
                if emit_matches:
                    # the live per-message context view: THIS message's
                    # fields + the context as of (and including) it —
                    # what a match-trigger action evaluates against
                    d = {c: v for c, v in zip(key, key_tuple)}
                    for c in carry:
                        d[c] = _from_state(
                            _to_state(row[c], dtypes[c]), dtypes[c])
                    d["context_length"] = rown
                    d["time_first"] = pd.Timestamp(tf, unit="us")
                    d["time_last"] = pd.Timestamp(row_us, unit="us")
                    d["merged_json"] = json.dumps(merged, sort_keys=True)
                    d["closed_by"] = "match"
                    if collect_context:
                        msgs = sorted(
                            list(ctx_msgs),
                            key=lambda m: (m.get(ts) is None, m.get(ts)),
                        )
                        d["_context"] = [
                            {c: _from_state(m.get(c), dtypes[c]) for c in ctx_cols}
                            for m in msgs
                        ]
                    match_rows.append(d)
        packed_state = (n, tf, tl, json.dumps(merged, sort_keys=True))
        if collect_context:
            packed_state += (json.dumps(ctx_msgs),)
        state.update(packed_state + tuple(carried))
        wm_ms = state.getCurrentWatermarkMs()
        # the last message's rule's timeout drives the timer
        ito = carry.index("_timeout")
        last_timeout = carried[ito] if carried[ito] is not None else 60
        state.setTimeoutTimestamp(max(tl // 1000 + int(last_timeout) * 1000, wm_ms + 1))
        if match_rows:
            yield pd.DataFrame(match_rows)

    return (
        pool.withWatermark(ts, watermark)
        .groupBy(*key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def patterndb_actions_stream(
    events: DataFrame,
    rules,
    msg_col: str = "message",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    order_tiebreak: str | None = None,
    sdata_col: str | None = None,
) -> DataFrame:
    """Streaming patterndb <actions>: match-trigger actions are a
    stateless filter + template projection on the live stream;
    timeout-trigger actions ride the SHARED correlation pool
    (`pool_context_stream`) exactly like the batch operator — contexts
    are global across rules, `create-context` actions seed them, the
    last rule to touch a context owns its expiry, and
    inherit-properties='context' union-merges the sdata map
    (latest setter wins) — the streaming counterpart of
    operators/actions.patterndb_actions (reference trigger plumbing:
    modules/dbparser/patterndb.c:257-400).

    Match-trigger templates that reference context state
    ($(grep)/$(context-*)/@N — the live per-message view the
    reference's RAT_MATCH actions evaluate against) route through the
    stateful pool's per-message 'match' emission (r12) and see the
    REAL context: $(context-length) counts seeds and earlier
    messages, $(grep)/@N walk the collected context array. Match
    templates WITHOUT context references keep the cheap stateless
    path (CONTEXT_LENGTH renders '1' there, by construction those
    templates never read it)."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.actions import (
        _render,
        _uses_context_refs,
        compile_condition,
        prepare_actions,
    )

    if sdata_col is None and "sdata" in events.columns:
        sdata_col = "sdata"

    prep = prepare_actions(events, rules, msg_col=msg_col, ts_col=ts_col, sdata_col=sdata_col)
    out_columns, extra_values = prep.out_columns, prep.extra_values
    sdata_type = dict(events.dtypes).get(sdata_col) if sdata_col else None

    def _needs_live_context(a) -> bool:
        from syslog_ng_spark.operators.actions import _template_uses_context_refs

        return any(
            _template_uses_context_refs(t) or "$(context-" in t
            for t in a.message.values.values()
        )

    outs = []
    timeout_actions = []
    ctx_match_actions = []
    for r in rules:
        matched = prep.matched_by_rule[r.rule_id]
        for a in r.actions:
            if a.create_context is not None:
                continue  # seeds the pool; emits nothing itself
            if a.trigger == "match":
                if r.context_id is not None and _needs_live_context(a):
                    # $(grep)/$(context-*)/@N on a MATCH trigger: the
                    # template needs the live context the message just
                    # joined — routed through the stateful pool's
                    # per-message 'match' emission (r12) instead of
                    # the stateless path
                    ctx_match_actions.append((r, a))
                    continue
                cand = matched.withColumn("CONTEXT_LENGTH", F.lit("1"))
                if a.condition:
                    cand = cand.where(compile_condition(a.condition, cand))
                rendered = _render(
                    cand, a, out_columns, extra_values, a.message.inherit != "none", ts_col
                )
                outs.append(
                    rendered.withColumn("rule_id", F.lit(r.rule_id)).withColumn(
                        "trigger", F.lit(a.trigger)
                    )
                )
            elif a.trigger == "timeout":
                if r.context_id is None:
                    continue
                timeout_actions.append((r, a))
            else:
                raise ValueError(f"unknown trigger {a.trigger!r}")

    if (timeout_actions or ctx_match_actions) and prep.pool is not None:
        pool = prep.pool
        chain_specs = []
        if prep.timeout_seeds:
            pool, chain_specs = _attach_chain_columns(
                pool, prep.timeout_seeds, events, ts_col)
        if sdata_col:
            # map columns can't ride Arrow state cleanly — JSON-encode
            # them through the stateful op and decode after
            pool = pool.withColumn("_sdata_json", F.to_json(F.col(sdata_col))).drop(sdata_col)
        stream_kwargs = dict(
            ts=ts_col,
            order_tiebreak=order_tiebreak,
            merge_json_col="_sdata_json" if sdata_col else None,
            watermark=watermark,
            # $(grep)/@N in trigger templates need the full context
            # list; collected only when a template references it
            collect_context=_uses_context_refs(rules),
            # per-message 'match' rows only when a match-trigger
            # template needs the live context (one output row per
            # pool row otherwise wasted)
            emit_matches=bool(ctx_match_actions),
        )
        if chain_specs:
            # timeout-triggered create-context: the scope's context
            # table lives in ONE state group so an expiry can seed a
            # sibling context-id (r12)
            ctx = chained_pool_context_stream(pool, chain_specs, **stream_kwargs)
        else:
            ctx = pool_context_stream(pool, **stream_kwargs)
        ctx = ctx.withColumn("CONTEXT_LENGTH", F.col("context_length").cast("string"))
        for r, a in ctx_match_actions:
            # match actions of context rules with context-referencing
            # templates: evaluate on the per-message 'match' rows —
            # the row's own fields + the live context it just joined
            cand = ctx.where(
                (F.col("closed_by") == "match")
                & (F.col("_rule") == r.rule_id)
                & (F.col("_seq") == 0)
            )
            if sdata_col:
                src = "merged_json" if a.message.inherit == "context" else "_sdata_json"
                cand = cand.withColumn(sdata_col, F.from_json(F.col(src), sdata_type))
            if a.condition:
                cand = cand.where(compile_condition(a.condition, cand))
            rendered = _render(
                cand, a, out_columns, extra_values, a.message.inherit != "none",
                ts_col, context_col="_context",
            )
            outs.append(
                rendered.withColumn("rule_id", F.lit(r.rule_id)).withColumn(
                    "trigger", F.lit("match")
                )
            )
        for r, a in timeout_actions:
            # the rule that last touched the context owns its expiry
            # (patterndb.c:629, pattern_db_expire_entry:426)
            cand = ctx.where(
                (F.col("closed_by") == "timeout") & (F.col("_rule") == r.rule_id))
            if sdata_col:
                src = "merged_json" if a.message.inherit == "context" else "_sdata_json"
                cand = cand.withColumn(sdata_col, F.from_json(F.col(src), sdata_type))
            if a.condition:
                cand = cand.where(compile_condition(a.condition, cand))
            rendered = _render(
                cand, a, out_columns, extra_values, a.message.inherit != "none", ts_col,
                context_col="_context",
            )
            outs.append(
                rendered.withColumn("rule_id", F.lit(r.rule_id)).withColumn(
                    "trigger", F.lit("timeout")
                )
            )

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _render_ctx_segments(segs, c) -> str:
    """State-side assembly of one live-context seed template from its
    segment plan (_ctx_segment_plan) and the context's collected rows:
    string joins only — every expression was pre-rendered JVM-side
    into the helper columns each row carries ('_0' slots; a seed row's
    slots hold its level-1 seed-view renders via rotation)."""
    ctx_list = c["ctx"]
    out = []
    for s in segs:
        kind = s[0]
        if kind == "lit":
            out.append(s[1])
        elif kind == "last":
            v = c["carried"].get(s[1] + "_0")
            out.append("" if v is None else str(v))
        elif kind == "ctxlen":
            out.append(str(c["n"]))
        elif kind == "ref":
            # @N: message N counted from the latest (@0 = latest);
            # beyond the context renders unset (template.py msg_ref)
            nref = s[2]
            if len(ctx_list) > nref:
                v = ctx_list[len(ctx_list) - 1 - nref].get(s[1] + "_0")
                if v is not None:
                    out.append(str(v))
        elif kind == "grep":
            _, cond_col, val_cols, max_count = s
            acc: list = []
            matched = 0
            for m in ctx_list:
                if m.get(cond_col + "_0"):
                    acc.extend(
                        "" if m.get(vc + "_0") is None else str(m.get(vc + "_0"))
                        for vc in val_cols)
                    matched += 1
                    if max_count and matched >= max_count:
                        break
            out.append(",".join(acc))
        elif kind == "ctxvals":
            val_cols = s[1]
            acc = []
            for m in ctx_list:
                acc.extend(
                    "" if m.get(vc + "_0") is None else str(m.get(vc + "_0"))
                    for vc in val_cols)
            out.append(",".join(acc))
    return "".join(out)


def chained_pool_context_stream(
    pool: DataFrame,
    chain_specs: list[dict],
    ts: str = "ts",
    order_tiebreak: str | None = None,
    merge_json_col: str | None = None,
    watermark: str = "10 minutes",
    collect_context: bool = False,
    emit_matches: bool = False,
) -> DataFrame:
    """pool_context_stream variant supporting TIMEOUT-TRIGGERED
    create-context (context chaining on expiry — patterndb.c
    pattern_db_expire_entry → _execute_action_create_context).

    The fine-grained operator keys state per (scope, context-id); an
    expiry there cannot seed a DIFFERENT context-id's state. This
    variant keys per `_scope_key` alone and manages the scope's
    context table inside the state value (one JSON dict — the
    reference's `db->correlation.state` hash, partitioned by scope),
    walking events in time order with timer-wheel expiry processing:
    before applying a message at time t, every context whose expiry
    precedes t is expired — emitting its summary row AND, when its
    owning rule has chain specs whose pre-rendered condition holds,
    seeding the chained context in the same table.

    All template work stays JVM-side: each pool row carries
    PRE-RENDERED chain columns — level 0 rendered against the row
    itself (used when that row ends up the expiring context's last
    message) and level 1 rendered against the seed the row would
    produce (used when the SEED's own expiry re-chains, e.g. the
    stop-condition pattern). Depth ≥3 self-chains reuse level 1
    (approximate) and a cascade cap fails loudly on runaway chains.

    Scale note: parallelism is per scope value (host/program/...).
    An empty scope ('global') serializes the whole stream through one
    state group — the price of the reference's single shared hash
    table; prefer a scoped ruleset for chained streaming at volume.

    chain_specs items: {rule, timeout, inherit, id0, vals0, cond0,
    id1, vals1, cond1, scope_cols} — column names of the pre-rendered
    fields plus the new context's declared timeout/scope.
    """
    import heapq
    import json

    dtypes = dict(pool.dtypes)
    key = ["_scope_key"]
    carry = [c for c in pool.columns if c != "_scope_key" and c != "CONTEXT_ID"]
    # live-context seed segments that walk the context rows
    # ($(grep)/@N/$(context-values)) need every row collected in
    # state even when no EMIT template references the context
    needs_ctx_rows = any(
        s[0] in ("ref", "grep", "ctxvals")
        for spec in chain_specs
        for segs in (list((spec.get("ctx_vals") or {}).values())
                     + ([spec["id_segments"]]
                        if spec.get("id_segments") else []))
        for s in segs
    )
    collect_context = collect_context or needs_ctx_rows
    ctx_cols = [c for c in carry if not c.startswith("_")] if collect_context else []

    out_schema = ", ".join(
        ["`_scope_key` string", "`CONTEXT_ID` string"]
        + [f"`{c}` {dtypes[c]}" for c in carry]
        + ["context_length long", "time_first timestamp", "time_last timestamp",
           "merged_json string", "closed_by string"]
        + (
            ["`_context` array<struct<"
             + ", ".join(f"`{c}`: {dtypes[c]}" for c in ctx_cols) + ">>"]
            if collect_context else []
        )
    )
    state_schema = "ctxs string"
    sort_cols = [ts] + ([order_tiebreak] if order_tiebreak else []) + (
        ["_seq"] if "_seq" in pool.columns else []
    )
    _CASCADE_CAP = 100000

    def _enc(val, dt):
        if val is None or (isinstance(val, float) and pd.isna(val)):
            return None
        if dt == "timestamp":
            return int(pd.Timestamp(val).value // 1000)
        if hasattr(val, "item"):
            return val.item()
        return val

    def _dec(val, dt):
        if val is None:
            return None
        if dt == "timestamp":
            return pd.Timestamp(val, unit="us")
        return val

    def _cast_rendered(raw, dt):
        """A to_json'd seed-struct field back to the state encoding."""
        if raw is None:
            return None
        if dt == "timestamp":
            return int(pd.Timestamp(raw).value // 1000)
        if dt in ("int", "bigint", "smallint", "tinyint", "long"):
            try:
                return int(raw)
            except (TypeError, ValueError):
                return None
        if dt in ("double", "float"):
            try:
                return float(raw)
            except (TypeError, ValueError):
                return None
        if dt == "boolean":
            return bool(raw)
        return str(raw)

    def fn(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (scope_key,) = key_tuple
        ctxs: dict = json.loads(state.get[0]) if state.exists else {}
        emitted: list[dict] = []

        def expiry_us(c):
            to = c["carried"].get("_timeout") or 60
            return c["tl"] + int(to) * 1_000_000

        def emit_ctx(cid, c, how):
            row = {"_scope_key": scope_key, "CONTEXT_ID": cid}
            for col in carry:
                row[col] = _dec(c["carried"].get(col), dtypes[col])
            row["context_length"] = c["n"]
            row["time_first"] = pd.Timestamp(c["tf"], unit="us")
            row["time_last"] = pd.Timestamp(c["tl"], unit="us")
            row["merged_json"] = json.dumps(c["mj"], sort_keys=True)
            row["closed_by"] = how
            if collect_context:
                row["_context"] = [
                    {col: _dec(m.get(col), dtypes[col]) for col in ctx_cols}
                    for m in c["ctx"]
                ]
            emitted.append(row)

        def seed_from(cid, c):
            """Chain: an expiring context seeds new contexts per its
            owning rule's specs (condition pre-rendered)."""
            rule = c["carried"].get("_rule")
            depth = int(c["carried"].get("_chain_depth") or 0)
            for k, spec in enumerate(chain_specs):
                if spec["rule"] != rule:
                    continue
                lvl = "1" if depth >= 1 else "0"
                cond = c["carried"].get(spec["cond" + lvl])
                if not cond:
                    continue
                new_cid = c["carried"].get(spec["id" + lvl])
                vals = json.loads(c["carried"].get(spec["vals" + lvl]) or "{}")
                # live-context seed templates (r13): assembled here
                # from the context's rows + pre-rendered helper slots
                if spec.get("id_segments") is not None:
                    new_cid = _render_ctx_segments(spec["id_segments"], c)
                for tgt, segs in (spec.get("ctx_vals") or {}).items():
                    vals[tgt] = _render_ctx_segments(segs, c)
                exp_us = expiry_us(c)
                if spec["inherit"] == "none":
                    carried = {
                        col: (None if dtypes[col] != "string" else "")
                        for col in carry
                    }
                else:
                    carried = dict(c["carried"])
                for col, raw in vals.items():
                    if col in dtypes:
                        carried[col] = _cast_rendered(raw, dtypes[col])
                if ts not in vals:
                    carried[ts] = exp_us
                if (spec["inherit"] == "context" and merge_json_col
                        and merge_json_col in carried):
                    carried[merge_json_col] = json.dumps(c["mj"], sort_keys=True)
                carried["_rule"] = rule
                carried["_timeout"] = spec["timeout"]
                carried["_seq"] = 1
                carried["_chain_depth"] = depth + 1
                if "_gen" in dtypes:
                    carried["_gen"] = int(c["carried"].get("_gen") or 0) + 1
                # the seed's own chain columns: level-1 values (exact
                # for its first re-chain; deeper self-chains reuse them)
                for kk, sp in enumerate(chain_specs):
                    carried[sp["cond0"]] = c["carried"].get(sp["cond1"])
                    carried[sp["id0"]] = c["carried"].get(sp["id1"])
                    carried[sp["vals0"]] = c["carried"].get(sp["vals1"])
                    for hcol in sp.get("rot", ()):
                        carried[hcol + "_0"] = c["carried"].get(hcol + "_1")
                seed_scope = "\x1f".join(
                    "" if carried.get(sc) is None else str(carried.get(sc))
                    for sc in spec["scope_cols"]
                )
                if seed_scope != scope_key:
                    raise RuntimeError(
                        "streaming context chain: the seeded context's scope "
                        f"key {seed_scope!r} differs from the expiring "
                        f"context's group {scope_key!r} — cross-scope "
                        "seeding cannot reach another state partition; use "
                        "batch mode or align the chain's context-scope"
                    )
                seed_ts = carried.get(ts) if ts in vals else exp_us
                mj = {}
                if merge_json_col and carried.get(merge_json_col):
                    try:
                        mj = json.loads(carried[merge_json_col])
                    except (TypeError, ValueError):
                        mj = {}
                new_ctx = {
                    "n": 1, "tf": seed_ts, "tl": seed_ts, "mj": mj,
                    "ctx": [dict(carried)] if collect_context else [],
                    "carried": carried,
                }
                # reference g_hash_table_insert semantics: an existing
                # live context under the same key is REPLACED
                ctxs[new_cid] = new_ctx

        def expire_until(limit_us, strict):
            """Expire (and chain) every context whose expiry is
            < limit_us (strict) or <= limit_us; cascades."""
            for _ in range(_CASCADE_CAP):
                best = None
                for cid, c in ctxs.items():
                    e = expiry_us(c)
                    if (e < limit_us) if strict else (e <= limit_us):
                        if best is None or (e, cid) < best[0]:
                            best = ((e, cid), c)
                if best is None:
                    return
                (_, cid), c = best
                del ctxs[cid]
                emit_ctx(cid, c, "timeout")
                seed_from(cid, c)
            raise RuntimeError(
                f"streaming context chain cascade exceeded {_CASCADE_CAP} "
                "expiries in one group — self-chaining ruleset?"
            )

        if state.hasTimedOut:
            wm_us = state.getCurrentWatermarkMs() * 1000
            expire_until(wm_us, strict=False)
            if not ctxs:
                state.remove()
            else:
                state.update((json.dumps(ctxs),))
                nxt = min(expiry_us(c) for c in ctxs.values())
                state.setTimeoutTimestamp(
                    max(nxt // 1000, state.getCurrentWatermarkMs() + 1))
            if emitted:
                yield pd.DataFrame(emitted)
            return

        rows = []
        for pdf in pdfs:
            if not pdf.empty:
                rows.append(pdf)
        if rows:
            allr = pd.concat(rows).sort_values(sort_cols, kind="stable")
            for _, row in allr.iterrows():
                t_us = int(pd.Timestamp(row[ts]).value // 1000)
                expire_until(t_us, strict=True)
                cid = row["CONTEXT_ID"]
                enc = {c: _enc(row[c], dtypes[c]) for c in carry}
                c = ctxs.get(cid)
                if c is None:
                    c = {"n": 0, "tf": t_us, "tl": t_us, "mj": {},
                         "ctx": [], "carried": enc}
                    ctxs[cid] = c
                c["n"] += 1
                c["tf"] = min(c["tf"], t_us)
                if t_us >= c["tl"]:
                    c["tl"] = t_us
                    c["carried"] = enc
                if collect_context:
                    c["ctx"].append(enc)
                if merge_json_col is not None and row.get(merge_json_col):
                    c["mj"].update(json.loads(row[merge_json_col]))
                if emit_matches:
                    # live per-message context view (closed_by='match')
                    d = {"_scope_key": scope_key, "CONTEXT_ID": cid}
                    for col in carry:
                        d[col] = _dec(enc.get(col), dtypes[col])
                    d["context_length"] = c["n"]
                    d["time_first"] = pd.Timestamp(c["tf"], unit="us")
                    d["time_last"] = pd.Timestamp(t_us, unit="us")
                    d["merged_json"] = json.dumps(c["mj"], sort_keys=True)
                    d["closed_by"] = "match"
                    if collect_context:
                        d["_context"] = [
                            {col: _dec(m.get(col), dtypes[col])
                             for col in ctx_cols}
                            for m in c["ctx"]
                        ]
                    emitted.append(d)

        if ctxs:
            state.update((json.dumps(ctxs),))
            nxt = min(expiry_us(c) for c in ctxs.values())
            state.setTimeoutTimestamp(
                max(nxt // 1000, state.getCurrentWatermarkMs() + 1))
        elif state.exists:
            state.remove()
        if emitted:
            yield pd.DataFrame(emitted)

    return (
        pool.withWatermark(ts, watermark)
        .groupBy(*key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _walk_has_context_refs(parts) -> bool:
    """_template_uses_context_refs over an already-parsed parts list
    (including $(context-length), which the batch rewrite handles
    separately)."""
    ctx_fns = {"grep", "context-lookup", "context-values",
               "context-length"}
    for p in parts:
        if p[0] == "lit":
            continue
        if len(p) > 3 and p[3] is not None:
            return True
        if p[0] == "fn":
            if p[1] in ctx_fns:
                return True
            for a in p[2]:
                if a[0] == "tpl" and _walk_has_context_refs(a[1]):
                    return True
        if p[0] == "val" and p[2] and _walk_has_context_refs(p[2]):
            return True
    return False


def _ctx_segment_plan(template: str, compiler, k: int, tag: str):
    """Compile plan for a chained-seed template that references the
    LIVE context ($(context-length) / $(grep) / $(context-lookup) /
    $(context-values) / '@N' message refs — context-funcs.c, the
    reference renders seed templates with log_template_format_with_
    context over the triggering context, patterndb.c:326-328).

    The template splits into SEGMENTS: per-row pre-renderable runs
    become helper Columns (evaluated JVM-side on each pool row), and
    context-dependent elements become state-side recipes over those
    helpers — the applyInPandasWithState fn only joins strings at
    expiry, never touches a template engine:

      ("lit", text)                      literal
      ("last", col)                      pre-rendered run, read from the
                                         expiring context's last message
      ("ctxlen",)                        $(context-length) → str(n)
      ("ref", col, N)                    element@N → col of the context
                                         message N-from-latest (@0 =
                                         latest; beyond the context →
                                         unset, template.py msg_ref)
      ("grep", cond, [vals], max)        rows where the pre-rendered
                                         boolean cond col is true emit
                                         their val cols, comma-joined
                                         (tf_grep_call order/limit)
      ("ctxvals", [vals])                every row's val cols

    Returns (segments, helpers) where helpers is a list of
    (base_col_name, kind, payload) compiled per level via
    _compile_ctx_helper; base names get the '_0'/'_1' level suffix.
    Context refs NESTED inside other template functions (or a
    $(fn)@N whose subtree itself reads the context) have no per-row
    pre-render and raise loudly — batch mode supports them."""
    from syslog_ng_spark.template import parse_template

    parts = parse_template(template)
    segments: list = []
    helpers: list = []
    run: list = []
    hidx = 0

    def newcol() -> str:
        nonlocal hidx
        hidx += 1
        return f"_ch{k}_{tag}{hidx}"

    def flush_run():
        nonlocal run
        if not run:
            return
        if all(p[0] == "lit" for p in run):
            segments.append(("lit", "".join(p[1] for p in run)))
        else:
            col = newcol()
            helpers.append((col, "parts", list(run)))
            segments.append(("last", col))
        run = []

    def _nv_cols(raw_args) -> list[str]:
        cols = []
        for a in raw_args:
            if a[0] == "tpl" and _walk_has_context_refs(a[1]):
                raise NotImplementedError(
                    "streaming context chaining: context refs nested "
                    f"inside a context function argument ({template!r}) "
                    "cannot pre-render per-row — run the ruleset in "
                    "batch mode (patterndb_actions)")
            col = newcol()
            helpers.append((col, "arg", a))
            cols.append(col)
        return cols

    for p in parts:
        kind = p[0]
        ref = p[3] if len(p) > 3 else None
        if kind == "lit":
            run.append(p)
            continue
        if kind == "val":
            if p[2] and _walk_has_context_refs(p[2]):
                raise NotImplementedError(
                    "streaming context chaining: context refs inside a "
                    f"':-' default ({template!r}) cannot pre-render "
                    "per-row — run the ruleset in batch mode")
            if ref is None:
                run.append(p)
            else:
                flush_run()
                col = newcol()
                helpers.append((col, "parts", [(p[0], p[1], p[2], None)]))
                segments.append(("ref", col, ref))
            continue
        # function element
        name, raw_args = p[1], p[2]
        subtree_ctx = _walk_has_context_refs(
            [(p[0], p[1], p[2], None)])
        if ref is not None:
            if subtree_ctx:
                raise NotImplementedError(
                    "streaming context chaining: a context function "
                    f"with an '@N' message ref ({template!r}) cannot "
                    "pre-render per-row — run the ruleset in batch mode")
            # $(fn ...)@N evaluates the element against context
            # message N — per-row pre-render, picked at that position
            flush_run()
            col = newcol()
            helpers.append((col, "parts", [(p[0], p[1], p[2], None)]))
            segments.append(("ref", col, ref))
            continue
        if name == "context-length":
            flush_run()
            segments.append(("ctxlen",))
        elif name in ("grep", "context-lookup"):
            flush_run()
            opts, rest = compiler._leading_flags(
                raw_args, {"max-count": int}, aliases={"m": "max-count"})
            cond_text = compiler._cond_arg_text(name, rest)
            cond_col = newcol()
            helpers.append((cond_col, "cond", cond_text))
            segments.append(
                ("grep", cond_col, _nv_cols(rest[1:]),
                 int(opts.get("max-count", 0))))
        elif name == "context-values":
            flush_run()
            segments.append(("ctxvals", _nv_cols(raw_args)))
        elif subtree_ctx:
            raise NotImplementedError(
                "streaming context chaining: context refs nested inside "
                f"$({name} ...) ({template!r}) cannot pre-render "
                "per-row — run the ruleset in batch mode")
        else:
            run.append(p)
    flush_run()
    return segments, helpers


def _compile_ctx_helper(compiler, kind: str, payload):
    """One helper column at one level: 'parts' = template parts
    rendered against the row, 'cond' = a $(grep)-style filter
    expression as boolean, 'arg' = a template-function value arg."""
    if kind == "parts":
        return compiler._parts_col(payload).cast("string")
    if kind == "cond":
        return compiler._cond(payload).cast("boolean")
    return compiler._arg_col(payload).cast("string")


def _segment_skeleton(segments, level: str):
    """Seed-view approximation of a context-rendered target: the
    pre-renderable segments concatenated with context parts as '' —
    used only for LEVEL-1 helper renders of a re-chaining seed
    (the emitted values themselves are exact, rendered in-state)."""
    from pyspark.sql import functions as F

    cols = []
    for s in segments:
        if s[0] == "lit":
            cols.append(F.lit(s[1]))
        elif s[0] == "last":
            cols.append(F.coalesce(F.col(s[1] + level), F.lit("")))
        else:
            cols.append(F.lit(""))
    if not cols:
        return F.lit("")
    return F.concat(*cols)


def _attach_chain_columns(pool: DataFrame, timeout_seeds, events: DataFrame,
                          ts_col: str):
    """Pre-render everything a chained expiry needs as pool columns,
    so chained_pool_context_stream's state fn never touches a
    template engine: per timeout-create-context spec k, level-0
    columns (_chN_{id,vals,cond}0) rendered against the row itself —
    exact when the row is the expiring context's last message — and
    level-1 columns rendered against the SEED that row would produce
    (via a seed-view projection: rendered values over inherited
    fields, ts = the expiry instant), exact for the seed's own first
    re-chain (the stop-condition pattern). Templates that evaluate
    against live context state ($(grep)/@N/$(context-length)) cannot
    pre-render per-row and raise loudly — batch mode supports them.

    Seed templates that DO reference the live context
    ($(context-length)/$(grep)/$(context-lookup)/$(context-values)/@N)
    compile to SEGMENT PLANS instead (r13, _ctx_segment_plan): the
    per-row pieces (grep conditions, value args, @N field renders,
    pre-renderable runs) become helper columns on every pool row, and
    the state fn assembles the final string from the expiring
    context's collected rows — the reference's
    log_template_format_with_context evaluated over the same data,
    with all expression evaluation still JVM-side per-row."""
    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.actions import (
        _MACRO_COLS,
        _scope_cols,
        _template_uses_context_refs,
        compile_condition,
    )
    from syslog_ng_spark.template import TemplateCompiler, schema_resolver

    dtypes = dict(pool.dtypes)
    payload = [c for c in pool.columns
               if not c.startswith("_") and c != "CONTEXT_ID"]
    specs = []
    for k, (r, a) in enumerate(timeout_seeds):

        def _has_ctx(t: str) -> bool:
            return _template_uses_context_refs(t) or "$(context-" in t

        compiler0 = TemplateCompiler(schema_resolver(pool.dtypes))
        plain_vals: dict = {}
        ctx_val_tpls: dict = {}
        for n, t in a.message.values.items():
            tgt = _MACRO_COLS.get(n, n)
            if _has_ctx(t):
                ctx_val_tpls[tgt] = t
            else:
                plain_vals[tgt] = t
        # context-bearing templates → segment plans + helper recipes
        ctx_plans: dict = {}
        helper_recipes: list = []
        for tgt, t in ctx_val_tpls.items():
            segs, helpers = _ctx_segment_plan(
                t, compiler0, k, f"v{len(ctx_plans)}_")
            ctx_plans[tgt] = segs
            helper_recipes.extend(helpers)
        id_t = a.create_context.id_template
        id_segments = None
        if _has_ctx(id_t):
            segs, helpers = _ctx_segment_plan(id_t, compiler0, k, "i_")
            id_segments = segs
            helper_recipes.extend(helpers)

        rendered0 = {}
        for tgt, t in plain_vals.items():
            col = compiler0.compile(t)
            dt = dtypes.get(tgt, "string")
            if dt != "string":
                col = col.try_cast(dt)
            rendered0[tgt] = col
        id0 = (compiler0.compile(id_t) if id_segments is None
               else F.lit(""))
        cond0 = (compile_condition(a.condition, pool)
                 if a.condition else F.lit(True))
        vals0 = (
            F.to_json(F.struct(*[c.alias(t) for t, c in rendered0.items()]),
                      {"ignoreNullFields": "false"})
            if rendered0 else F.lit("{}")
        )
        pool = pool.select(
            "*",
            id0.alias(f"_ch{k}_id0"),
            vals0.alias(f"_ch{k}_vals0"),
            cond0.cast("boolean").alias(f"_ch{k}_cond0"),
            *[_compile_ctx_helper(compiler0, kind, payload_).alias(h + "_0")
              for h, kind, payload_ in helper_recipes],
        )

        # ---- level 1: the seed-view projection ----
        inherit = a.message.inherit != "none"
        expiry_ts = F.col(ts_col) + F.make_dt_interval(secs=F.col("_timeout"))
        seedcols = []
        for c in payload:
            dt = dtypes.get(c, "string")
            if c in rendered0:
                seedcols.append(rendered0[c].alias(c))
            elif c in ctx_plans:
                # context-rendered target: its exact value exists only
                # in-state at expiry. The seed-view uses the skeleton
                # (pre-renderable runs, context parts as '') — level-1
                # helper renders of a re-chaining seed that read THIS
                # field are approximate; the emitted values are exact.
                col = _segment_skeleton(ctx_plans[c], "_0")
                if dt != "string":
                    col = col.try_cast(dt)
                seedcols.append(col.alias(c))
            elif c == ts_col:
                seedcols.append(expiry_ts.alias(c))
            elif inherit:
                seedcols.append(F.col(c).alias(c))
            elif dt == "string":
                seedcols.append(F.lit("").alias(c))
            else:
                seedcols.append(F.lit(None).cast(dt).alias(c))
        prev_cols = pool.columns
        pool2 = pool.select(
            *[F.col(c).alias(f"_o_{c}") for c in prev_cols], *seedcols
        )
        compiler1 = TemplateCompiler(schema_resolver(pool2.dtypes))
        rendered1 = {}
        for tgt, t in plain_vals.items():
            col = compiler1.compile(t)
            dt = dtypes.get(tgt, "string")
            if dt != "string":
                col = col.try_cast(dt)
            rendered1[tgt] = col
        id1 = (compiler1.compile(id_t) if id_segments is None
               else F.lit(""))
        cond1 = (compile_condition(a.condition, pool2)
                 if a.condition else F.lit(True))
        vals1 = (
            F.to_json(F.struct(*[c.alias(t) for t, c in rendered1.items()]),
                      {"ignoreNullFields": "false"})
            if rendered1 else F.lit("{}")
        )
        pool = pool2.select(
            *[F.col(f"_o_{c}").alias(c) for c in prev_cols],
            id1.alias(f"_ch{k}_id1"),
            vals1.alias(f"_ch{k}_vals1"),
            cond1.cast("boolean").alias(f"_ch{k}_cond1"),
            *[_compile_ctx_helper(compiler1, kind, payload_).alias(h + "_1")
              for h, kind, payload_ in helper_recipes],
        )
        specs.append({
            "rule": r.rule_id,
            "timeout": a.create_context.timeout,
            "inherit": a.message.inherit,
            "id0": f"_ch{k}_id0", "vals0": f"_ch{k}_vals0",
            "cond0": f"_ch{k}_cond0",
            "id1": f"_ch{k}_id1", "vals1": f"_ch{k}_vals1",
            "cond1": f"_ch{k}_cond1",
            "scope_cols": _scope_cols(a.create_context.scope, events),
            # r13: live-context seed templates — state-side recipes
            # over the per-row helper columns (empty when every seed
            # template pre-renders)
            "ctx_vals": ctx_plans,
            "id_segments": id_segments,
            "rot": [h for h, _, _ in helper_recipes],
        })
    return pool, specs
