"""patterndb ``<actions>`` — synthetic messages on match / timeout.

Reference: modules/dbparser/pdb-action.c (trigger/condition/rate),
modules/dbparser/synthetic-message.c (inherit modes, value/tag
application), trigger plumbing modules/dbparser/patterndb.c:257-400,
ruleset XML shape modules/dbparser/tests/test_patterndb.h, behavior
tests modules/dbparser/tests/test_patterndb.c.

A rule may carry actions that *emit new messages*:
- ``trigger='match'``: one synthetic message per matching input
  message (the reference fires it as the message is processed);
- ``trigger='timeout'``: one synthetic message when the rule's
  correlation context expires (timer wheel in the reference; in batch
  a context is a session, and every session eventually expires, so
  this is one row per session).

Spark shape: classification is the same first-match CASE chain as
operators/patterndb.py; match actions are a filter + template-rendered
projection; timeout actions are sessionize() + groupBy (one shuffle on
the correlation key) with the last message riding the aggregation as
max_by(struct) — all JVM-side, no UDFs, oracle-reproducible.

Semantics preserved from the reference:
- inherit-properties none → fresh message carrying only the
  triggering message's timestamp (synthetic-message.c
  _generate_new_message_with_timestamp_of_the_triggering_message);
  'TRUE'/last-message → clone of the triggering / context's last
  message; 'context' → clone of the last message + merge of *unset*
  NVs from earlier context messages — with a flat column schema every
  core field is set, so it equals last-message here (documented
  deviation: sdata-map union merge is not performed).
- condition: template comparison ('"${PID}" ne "123"') or a
  message()/program()/host() regex filter, evaluated per candidate
  (patterndb.c _is_action_triggered).
- rate='N/T': at most N emissions per rule+action+context-key per T
  seconds. The reference uses a token bucket on arrival time; the
  batch analog admits the first N per aligned T-second window (same
  steady-state rate; burst shape differs — documented deviation,
  matching rate_limit_batch).
- timestamps: synthetic messages carry the triggering message's
  timestamp in every inherit mode; for timeout triggers the
  triggering message is the context's LAST message
  (patterndb.c _generate_default_message_from_context).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from syslog_ng_spark.operators.patterndb import compile_pattern
from syslog_ng_spark.template import TemplateCompiler, schema_resolver
from syslog_ng_spark.util import epoch_seconds

# reference macro name -> canonical log schema column
_MACRO_COLS = {
    "MESSAGE": "message",
    "MSG": "message",
    "HOST": "host",
    "PROGRAM": "program",
    "PID": "pid",
}


@dataclass
class SyntheticMessage:
    """<message> block: templated values + tags + inherit mode
    (synthetic-message.h SyntheticMessage)."""

    values: dict[str, str] = field(default_factory=dict)
    tags: list[str] = field(default_factory=list)
    inherit: str = "none"  # none | last-message | context


@dataclass
class SyntheticContext:
    """<create-context> attributes (synthetic-context.h): the id
    template, timeout and scope of the context the action starts."""

    id_template: str
    timeout: int = 60
    scope: str = "program"


@dataclass
class PdbAction:
    """<action> block (pdb-action.h PDBAction). ``create_context``
    set ⇒ content-type RAC_CREATE_CONTEXT (pdb-action.h:62): instead
    of emitting, the action seeds a NEW correlation context with one
    synthetic message (patterndb.c:_execute_action_create_context);
    ``message`` is then the seed's <message> block."""

    message: SyntheticMessage
    trigger: str = "match"  # match | timeout
    condition: str | None = None
    rate: tuple[int, int] | None = None  # (N, per-seconds)
    create_context: SyntheticContext | None = None


@dataclass
class PdbRule:
    """<rule> with correlation attributes + actions (pdb-rule.h)."""

    rule_id: str
    cls: str
    patterns: list[str]
    context_id: str | None = None  # template
    context_timeout: int = 60
    context_scope: str = "program"  # process|program|host|global
    actions: list[PdbAction] = field(default_factory=list)


def _parse_message(el: ET.Element) -> SyntheticMessage:
    values = {}
    for v in el.iter("value"):
        values[v.get("name")] = v.text or ""
    tags = [t.text for t in el.iter("tag") if t.text]
    inherit = el.get("inherit-properties") or el.get("inherit-mode") or "none"
    if inherit.lower() in ("true", "1", "yes"):
        inherit = "last-message"
    elif inherit.lower() in ("false", "0", "no"):
        inherit = "none"
    return SyntheticMessage(values=values, tags=tags, inherit=inherit)


def load_patterndb_rules(xml_text: str) -> list[PdbRule]:
    """Full-shape ruleset loader: patterns + correlation attributes +
    <actions> (pdb-load.c element handlers). Order preserved (first
    match wins, like the radix walk)."""
    root = ET.fromstring(xml_text)
    rules: list[PdbRule] = []
    for rule in root.iter("rule"):
        actions = []
        for act in rule.iter("action"):
            msg_el = act.find("message")
            create = None
            cc_el = act.find("create-context")
            if cc_el is not None:  # pdb-load.c:_process_create_context_element
                create = SyntheticContext(
                    id_template=cc_el.get("context-id") or "",
                    timeout=int(cc_el.get("context-timeout") or 60),
                    scope=cc_el.get("context-scope") or "program",
                )
                msg_el = cc_el.find("message")
            if msg_el is None:
                continue
            rate = None
            if act.get("rate"):
                n, per = act.get("rate").split("/", 1)
                rate = (int(n), int(per))
            actions.append(
                PdbAction(
                    message=_parse_message(msg_el),
                    trigger=act.get("trigger") or "match",
                    condition=act.get("condition"),
                    rate=rate,
                    create_context=create,
                )
            )
        patterns = [
            p.text
            for pats in rule.findall("patterns")
            for p in pats.findall("pattern")
            if p.text
        ]
        rules.append(
            PdbRule(
                rule_id=rule.get("id") or "",
                cls=rule.get("class") or "unknown",
                patterns=patterns,
                context_id=rule.get("context-id"),
                context_timeout=int(rule.get("context-timeout") or 60),
                context_scope=rule.get("context-scope") or "program",
                actions=actions,
            )
        )
    return rules


_FILTER_COND = re.compile(r"^\s*(message|program|host)\(\"((?:[^\"\\]|\\.)*)\"[^)]*\)\s*$")


def compile_condition(cond: str, df: DataFrame) -> Column:
    """Action condition → boolean Column. Two grammars (the subset the
    reference's tests exercise): a template comparison
    ('"${PID}" ne "123"', filter-cmp.c operators via the template
    compiler's $(if) condition parser) or a single field regex filter
    ('message("pat" type(pcre))', filter-re.c)."""
    m = _FILTER_COND.match(cond)
    if m:
        colname, pattern = m.group(1), m.group(2).replace('\\"', '"')
        return F.col(_MACRO_COLS.get(colname.upper(), colname)).rlike(pattern)
    return TemplateCompiler(schema_resolver(df.dtypes))._cond(cond)


def _scope_cols(scope: str, df: DataFrame) -> list[str]:
    """context-scope -> grouping columns (correlation-key.c:
    process ⊃ program ⊃ host ⊃ global)."""
    cols = {
        "process": ["host", "program", "pid"],
        "program": ["host", "program"],
        "host": ["host"],
        "global": [],
    }[scope]
    return [c for c in cols if c in df.columns]


def _rewrite_context_funcs(template: str) -> str:
    """$(context-length) etc. → ${CONTEXT_*} column refs — the batch
    context aggregates are precomputed columns here, where the
    reference evaluates context-funcs.c over the live context."""
    return template.replace("$(context-length)", "${CONTEXT_LENGTH}")


def _uses_context_refs(rules: list[PdbRule]) -> bool:
    """Do any action templates evaluate against the live context —
    $(grep)/$(context-lookup)/$(context-values) or a '${NAME}@N'
    message reference (context-funcs.c / parse_msg_ref)? Only then is
    the per-context message array collected (it costs a collect_list
    over the pool; templates that don't look at the context shouldn't
    pay for it)."""
    return any(
        _template_uses_context_refs(t)
        for r in rules
        for a in r.actions
        for t in a.message.values.values()
    )


def _template_uses_context_refs(template: str) -> bool:
    """Single-template flavor of the check above (used by the
    streaming chain pre-renderer, which can only evaluate templates
    against one message, never a live context)."""
    from syslog_ng_spark.template import parse_template

    ctx_fns = {"grep", "context-lookup", "context-values"}

    def walk(parts) -> bool:
        for p in parts:
            if p[0] == "lit":
                continue
            if len(p) > 3 and p[3] is not None:  # @N message reference
                return True
            if p[0] == "fn":
                if p[1] in ctx_fns:
                    return True
                for a in p[2]:
                    if a[0] == "tpl" and walk(a[1]):
                        return True
            if p[0] == "val" and p[2] and walk(p[2]):
                return True
        return False

    return walk(parse_template(template))


# template macro -> context struct field, mirroring TemplateCompiler.
# _ctx_scope's resolve() (everything else is a raw getField(name))
_CTX_MACRO_FIELDS = {
    "PID": "pid", "HOST": "host", "PROGRAM": "program",
    "MSG": "message", "MESSAGE": "message",
    "FACILITY": "facility", "FACILITY_NUM": "facility",
    "SEVERITY": "severity", "PRIORITY": "severity",
    "SEVERITY_NUM": "severity", "LEVEL_NUM": "severity",
}


def _context_struct_fields(rules: list[PdbRule], candidates: list[str]) -> list[str]:
    """Prune the collected per-context struct to the fields any action
    template could actually read (r14): context rows are only accessed
    by NAME — $(grep (cond) ${v}), $(context-values ${v}), ${v}@N all
    resolve via getField, and a field missing from the struct is a
    loud analysis error, never a silent null — so collecting every
    pool column into every context array paid ObjectHashAggregate and
    shuffle bytes for fields no template reads (10 fields carried,
    1 read, in the grep-context gate). Name harvesting is a deliberate
    OVER-approximation: every $NAME / ${NAME} token in every action
    template, create-context template, and condition of the ruleset
    (context state is shared across rules), macros mapped to their
    struct fields, intersected with `candidates` in stable order.
    '$_' binds a whole context row inside $(grep ...) — its presence
    keeps every field."""
    import re

    names: set[str] = set()
    texts: list[str] = []
    for r in rules:
        if r.context_id is not None:
            texts.append(r.context_id)
        for a in r.actions:
            texts.extend(a.message.values.values())
            if a.condition:
                texts.append(a.condition)
            if a.create_context is not None:
                # the seed's <message> values are a.message.values,
                # already collected above
                texts.append(a.create_context.id_template)
    for t in texts:
        for m in re.finditer(r"\$(?:\{([A-Za-z0-9_.@]+)\}|([A-Za-z0-9_.]+))", t):
            names.add((m.group(1) or m.group(2)).split("@")[0])
        if "$_" in t:
            return list(candidates)
    wanted = {(_CTX_MACRO_FIELDS.get(n, n)) for n in names}
    kept = [c for c in candidates if c in wanted]
    # a template can reference only $(context-length): size(_context)
    # still needs a non-empty struct — keep one narrow field
    return kept if kept else candidates[:1]


def _render(
    base: DataFrame,
    action: PdbAction,
    out_columns: list[str],
    extra_values: list[str],
    inherit_from_row: bool,
    ts_col: str,
    context_col: str | None = None,
) -> DataFrame:
    """Project a candidate DataFrame into synthetic rows with the
    union output schema (input columns + extra value columns +
    tags/synthetic markers). `context_col` names the collected
    per-context message array, binding $(grep)/@N in the action
    templates to the live context (context-funcs.c semantics)."""
    compiler = TemplateCompiler(
        schema_resolver(base.dtypes),
        context_col=context_col if context_col in base.columns else None,
    )
    rendered: dict[str, Column] = {}
    for name, tmpl in action.message.values.items():
        target = _MACRO_COLS.get(name, name)
        rendered[target] = compiler.compile(_rewrite_context_funcs(tmpl))

    cols = []
    base_types = dict(base.dtypes)
    for c in out_columns:
        if c in rendered:
            col = rendered[c]
            if c in base_types and base_types[c] != "string":
                col = col.try_cast(base_types[c])
            cols.append(col.alias(c))
        elif c == ts_col:
            cols.append(F.col(ts_col).alias(c))  # triggering msg's stamp
        elif c in base.columns and (inherit_from_row or c in ("CONTEXT_ID",)):
            cols.append(F.col(c).alias(c))
        elif c in extra_values:
            cols.append(F.lit("").alias(c))
        elif c in base.columns:
            # inherit none: unset (logmsg default '' for strings,
            # NULL otherwise)
            if base_types[c] == "string":
                cols.append(F.lit("").alias(c))
            else:
                cols.append(F.lit(None).cast(base_types[c]).alias(c))
        else:
            cols.append(F.lit("").alias(c))
    cols.append(F.array(*[F.lit(t) for t in action.message.tags]).alias("synthetic_tags"))
    return base.select(*cols)


def _rate_limit(cand: DataFrame, action: PdbAction, key: list[str], ts_col: str) -> DataFrame:
    if action.rate is None:
        return cand
    n, per = action.rate
    bucket = F.floor(epoch_seconds(F.col(ts_col)) / per)
    w = Window.partitionBy(*(key or [F.lit(1)]), bucket).orderBy(F.col(ts_col))
    return cand.withColumn("_rl", F.row_number().over(w)).where(F.col("_rl") <= n).drop("_rl")


def _merge_fold(maps_col: Column, dtype: str) -> Column:
    """Fold an ordered array of maps into one, later entries winning
    per key — log_msg_merge_context's net effect (logmsg.c:1237: clone
    of the last message, then walk messages last→first filling only
    unset keys ⇒ for every key the LATEST setter wins). Policy-free:
    the accumulator drops keys the incoming map re-sets before
    concatenating, so it never produces duplicate keys regardless of
    spark.sql.mapKeyDedupPolicy."""
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    ).cast(dtype)
    return F.aggregate(
        maps_col,
        empty,
        lambda acc, m: F.map_concat(
            F.map_filter(acc, lambda k, _v: ~F.map_contains_key(m, k)),
            F.coalesce(m, empty),
        ),
    )


@dataclass
class PreparedActions:
    """Stateless (stream-safe) front half of the actions pipeline:
    classification, per-rule capture frames, and the un-sessionized
    correlation pool. Shared by the batch operator (which sessionizes
    the pool with window functions) and the streaming operator (which
    feeds it through applyInPandasWithState)."""

    matched_by_rule: dict[str, DataFrame]
    capture_cols: list[str]
    extra_values: list[str]
    out_columns: list[str]
    pool: DataFrame | None
    pool_payload: list[str]
    # timeout-triggered create-context actions (context chaining on
    # expiry, patterndb.c pattern_db_expire_entry →
    # _execute_action_create_context): list of (rule, action); the
    # seeds can't join the initial pool — they exist only once their
    # parent context EXPIRES, so the batch operator iterates
    # generations and the streaming operator pre-renders seed fields
    make_chain_pool: object = None
    timeout_seeds: list = None


def prepare_actions(
    df: DataFrame,
    rules: list[PdbRule],
    msg_col: str = "message",
    ts_col: str = "ts",
    sdata_col: str | None = None,
    create_context_timeout_mode: str = "declared",
) -> PreparedActions:
    """create_context_timeout_mode: how a create-context action's new
    context is scheduled. "declared" (default) uses the action's own
    <create-context context-timeout=...> — the XML's declared intent,
    and what the reference's debug log prints (patterndb.c:341
    syn_context->timeout). "rule" arms with the OWNING rule's
    context-timeout instead, which is what the reference timer
    actually does (patterndb.c:351 timer_wheel_add_timer(...,
    rule->context.timeout, ...)) — use it for bit-fidelity against a
    live syslog-ng when the two values differ."""
    compiled = {r.rule_id: [compile_pattern(p) for p in r.patterns] for r in rules}

    # first-match rule classification (radix order)
    cls_expr = None
    for r in rules:
        cond = None
        for rx, _ in compiled[r.rule_id]:
            c = F.col(msg_col).rlike(rx)
            cond = c if cond is None else (cond | c)
        if cond is None:
            continue
        cls_expr = (
            F.when(cond, F.lit(r.rule_id))
            if cls_expr is None
            else cls_expr.when(cond, F.lit(r.rule_id))
        )
    if cls_expr is None:
        raise ValueError("no patterns in ruleset")
    tagged = df.withColumn("_rule", cls_expr.otherwise(F.lit("")))

    extra_values = []
    for r in rules:
        for a in r.actions:
            for name in a.message.values:
                target = _MACRO_COLS.get(name, name)
                if target not in df.columns and target not in extra_values:
                    extra_values.append(target)
    out_columns = list(df.columns) + extra_values

    # typed field capture (radix.c parser fields) so action templates
    # can reference ${field} from @PARSER:field@
    matched_by_rule: dict[str, DataFrame] = {}
    capture_cols: list[str] = []
    for r in rules:
        matched = tagged.where(F.col("_rule") == r.rule_id)
        for rx, fs in compiled[r.rule_id]:
            for name in fs:
                if name in matched.columns:
                    continue
                val = F.when(
                    F.col(msg_col).rlike(rx),
                    F.regexp_extract(F.col(msg_col), rx, fs.index(name) + 1),
                ).otherwise(F.lit(""))
                matched = matched.withColumn(name, val)
                if name not in capture_cols:
                    capture_cols.append(name)
        if r.context_id is not None:
            ctx_id = TemplateCompiler(schema_resolver(matched.dtypes)).compile(r.context_id)
            matched = matched.withColumn("CONTEXT_ID", ctx_id)
        matched_by_rule[r.rule_id] = matched

    base_types = dict(df.dtypes)
    pool_payload = list(df.columns) + capture_cols + extra_values

    def _pool_project(frame: DataFrame, rule_id: str, timeout: int,
                      scope: str, seed: bool, gen: int = 0) -> DataFrame:
        sel = []
        for c in pool_payload:
            if c in frame.columns:
                sel.append(F.col(c).alias(c))
            else:
                sel.append(F.lit("").alias(c))
        sel.append(F.col("CONTEXT_ID"))
        sel.append(F.lit(rule_id).alias("_rule"))
        sel.append(F.lit(timeout).cast("long").alias("_timeout"))
        sel.append(F.lit(1 if seed else 0).alias("_seq"))
        sel.append(F.lit(gen).alias("_gen"))
        out = frame.select(*sel)
        scope_cols = _scope_cols(scope, df)
        return out.withColumn(
            "_scope_key",
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in scope_cols])
            if scope_cols
            else F.lit(""),
        )

    def _seed_frame(r: PdbRule, a: PdbAction) -> DataFrame:
        """patterndb.c:_execute_action_create_context — generate the
        seed synthetic message from the triggering message (the rule
        here has no triggering context of its own in the supported
        shape, so inherit context == inherit last-message ==
        clone-of-trigger, matching
        synthetic_message_generate_without_context)."""
        trig = matched_by_rule[r.rule_id]
        if a.condition:
            trig = trig.where(compile_condition(a.condition, trig))
        compiler = TemplateCompiler(schema_resolver(trig.dtypes))
        rendered = {
            _MACRO_COLS.get(n, n): compiler.compile(_rewrite_context_funcs(t))
            for n, t in a.message.values.items()
        }
        inherit = a.message.inherit != "none"
        sel = []
        for c in pool_payload:
            dt = base_types.get(c, "string")
            if c in rendered:
                col = rendered[c]
                if dt != "string":
                    col = col.try_cast(dt)
                sel.append(col.alias(c))
            elif c == ts_col:
                sel.append(F.col(ts_col).alias(c))
            elif inherit and c in trig.columns:
                sel.append(F.col(c).alias(c))
            elif dt == "string":
                sel.append(F.lit("").alias(c))
            else:
                sel.append(F.lit(None).cast(dt).alias(c))
        # the context-id template renders against the TRIGGERING
        # message (patterndb.c:333-336 log_template_format(triggering_msg))
        ctx_id = TemplateCompiler(schema_resolver(trig.dtypes)).compile(
            a.create_context.id_template
        )
        return trig.select(*sel, ctx_id.alias("CONTEXT_ID"))

    if create_context_timeout_mode not in ("declared", "rule"):
        raise ValueError(
            "create_context_timeout_mode must be 'declared' or 'rule', "
            f"got {create_context_timeout_mode!r}")

    def _seed_timeout(r: PdbRule, a: PdbAction) -> int:
        if create_context_timeout_mode == "rule":
            return r.context_timeout
        return a.create_context.timeout

    # ---- shared correlation pool: one frame, one shuffle ----
    pool_parts: list[DataFrame] = []
    timeout_seeds: list = []
    for r in rules:
        if r.context_id is not None:
            pool_parts.append(
                _pool_project(
                    matched_by_rule[r.rule_id], r.rule_id, r.context_timeout,
                    r.context_scope, seed=False,
                )
            )
        for a in r.actions:
            if a.create_context is None:
                continue
            if a.trigger != "match":
                # context chaining: the seed exists only once its
                # parent context EXPIRES — handled generation-wise by
                # the consumers via make_chain_pool (r12)
                timeout_seeds.append((r, a))
                continue
            pool_parts.append(
                _pool_project(
                    _seed_frame(r, a), r.rule_id, _seed_timeout(r, a),
                    a.create_context.scope, seed=True,
                )
            )

    pool = None
    if pool_parts:
        pool = pool_parts[0]
        for p in pool_parts[1:]:
            pool = pool.unionByName(p)

    def make_chain_pool(expired: DataFrame, r: PdbRule, a: PdbAction,
                        gen: int) -> DataFrame:
        """Pool rows for the context a timeout-triggered
        create-context action seeds from an EXPIRED context frame
        (one row per expiry, last-message fields + CONTEXT_LENGTH +
        optional _sdata_merged/_context). Reference
        (_execute_action_create_context with triggering_context set):
        the seed clones the context's last message
        (synthetic_message_generate_with_context), values and the new
        context-id render against it, and the seed's timestamp is the
        expiry instant (last ts + the expiring row's timeout). The
        NEW context's schedule follows create_context_timeout_mode:
        "declared" (default) uses the action's create-context
        timeout (the XML's declared intent, consistently with the
        match-trigger path); "rule" arms with rule->context.timeout,
        which is what the reference timer actually does
        (patterndb.c:351, while its own debug log prints
        syn_context->timeout)."""
        cand = expired.where(F.col("_rule") == r.rule_id)
        if a.condition:
            cand = cand.where(compile_condition(a.condition, cand))
        # seed templates render WITH the triggering context
        # (log_template_format_with_context, patterndb.c:326-328):
        # $(grep)/@N walk the expiring context's collected rows
        compiler = TemplateCompiler(
            schema_resolver(cand.dtypes),
            context_col="_context" if "_context" in cand.columns else None)
        rendered = {
            _MACRO_COLS.get(n, n): compiler.compile(_rewrite_context_funcs(t))
            for n, t in a.message.values.items()
        }
        inherit = a.message.inherit != "none"
        expiry_ts = F.col(ts_col) + F.make_dt_interval(secs=F.col("_timeout"))
        sel = []
        for c in pool_payload:
            dt = base_types.get(c, "string")
            if c in rendered:
                col = rendered[c]
                if dt != "string":
                    col = col.try_cast(dt)
                sel.append(col.alias(c))
            elif c == ts_col:
                sel.append(expiry_ts.alias(c))
            elif (c == sdata_col and a.message.inherit == "context"
                  and "_sdata_merged" in cand.columns):
                sel.append(F.col("_sdata_merged").alias(c))
            elif inherit and c in cand.columns:
                sel.append(F.col(c).alias(c))
            elif dt == "string":
                sel.append(F.lit("").alias(c))
            else:
                sel.append(F.lit(None).cast(dt).alias(c))
        ctx_id = compiler.compile(a.create_context.id_template)
        seed = cand.select(*sel, ctx_id.alias("CONTEXT_ID"))
        return _pool_project(seed, r.rule_id, _seed_timeout(r, a),
                             a.create_context.scope, seed=True, gen=gen)

    return PreparedActions(
        matched_by_rule=matched_by_rule,
        capture_cols=capture_cols,
        extra_values=extra_values,
        out_columns=out_columns,
        pool=pool,
        pool_payload=pool_payload,
        make_chain_pool=make_chain_pool,
        timeout_seeds=timeout_seeds,
    )


def patterndb_actions(
    df: DataFrame,
    rules: list[PdbRule],
    msg_col: str = "message",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    sdata_col: str | None = None,
    max_chain_depth: int = 4,
    create_context_timeout_mode: str = "declared",
) -> DataFrame:
    """Synthetic messages emitted by every rule's actions.

    Output schema: input columns ∪ extra value-name columns, plus
    `rule_id` (emitting rule), `trigger`, and `synthetic_tags`. Use
    `apply_actions` to union these back into the stream (the
    reference's _emit_message path feeds them to the same log paths).

    Correlation state is GLOBAL, exactly like the reference's one
    `db->correlation.state` hash table (patterndb.c:579-635): contexts
    are keyed by (scope fields, rendered context-id) and SHARED across
    rules — a message matching rule B joins a context rule A created,
    the last rule to add a message owns the context
    (patterndb.c:629-634 `context->rule = rule`), and that rule's
    timeout actions fire when it expires
    (pattern_db_expire_entry:426). ``create-context`` actions
    (patterndb.c:_execute_action_create_context) seed a context with
    one synthetic message instead of emitting.

    inherit-properties='context' performs the reference's NV union
    merge (synthetic-message.c:168-174 + logmsg.c:log_msg_merge_context)
    on the ``sdata_col`` map column (auto-detected as 'sdata'): the
    synthetic message clones the context's last message and every
    other sdata key takes the value of its latest setter. Core fields
    are flat columns and always "set", so the merge only has meaning
    for the map — same net semantics, documented shape.

    Plan shape: ONE first-match classification pass over the input
    (shared CASE chain); context-less match actions are a
    filter+project (no shuffle); all correlation contexts ride ONE
    shared pool shuffled once on (scope, context-id) — the same key
    the reference's state hash table uses, so it parallelizes at
    100 TB and AQE splits skewed keys. When any action template
    references the context ($(grep)/$(context-*)/${NAME}@N —
    context-funcs.c), the pool additionally collects the per-context
    message array (event order) and templates evaluate against it;
    templates that don't reference it never pay for the collect.
    Timeout-triggered create-context (context chaining on expiry,
    r12) iterates generations: expiries of generation g seed
    generation g+1 (the seed clones the expiring context's last
    message, values/ctx-id render against it, stamped at the expiry
    instant), the pool rebuilds, and the loop stops when a generation
    seeds nothing — `max_chain_depth` caps it; a ruleset still
    seeding at the cap raises (self-chaining is unbounded in batch).
    """
    if sdata_col is None and "sdata" in df.columns:
        sdata_col = "sdata"

    prep = prepare_actions(
        df, rules, msg_col=msg_col, ts_col=ts_col, sdata_col=sdata_col,
        create_context_timeout_mode=create_context_timeout_mode)
    matched_by_rule = prep.matched_by_rule
    extra_values = prep.extra_values
    out_columns = prep.out_columns
    pool_payload = prep.pool_payload
    base_types = dict(df.dtypes)
    ord_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    ) + [F.col("_seq")]

    collect_ctx = _uses_context_refs(rules)
    ctx_fields = (
        _context_struct_fields(
            rules,
            [c for c in pool_payload if not base_types.get(c, "string").startswith("map")],
        )
        if collect_ctx
        else []
    )

    def _build_sessions(pool: DataFrame) -> tuple[DataFrame, DataFrame]:
        # variable-timeout sessionize: the gap allowed after a message
        # is THAT message's rule's timeout (timer_wheel_mod_timer with
        # rule->context.timeout, patterndb.c:621)
        w = Window.partitionBy("_scope_key", "CONTEXT_ID").orderBy(*ord_cols)
        prev_ts = F.lag(F.col(ts_col)).over(w)
        prev_to = F.lag(F.col("_timeout")).over(w)
        gap = epoch_seconds(F.col(ts_col)) - epoch_seconds(prev_ts)
        is_new = F.when(prev_ts.isNull() | (gap > prev_to), F.lit(1)).otherwise(F.lit(0))
        sess_pool = pool.withColumn(
            "session_id",
            F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
        )
        wc = Window.partitionBy("_scope_key", "CONTEXT_ID", "session_id").orderBy(
            *ord_cols
        ).rowsBetween(Window.unboundedPreceding, 0)
        sess_pool = sess_pool.withColumn(
            "CONTEXT_LENGTH", F.count(F.lit(1)).over(wc).cast("string")
        )
        if sdata_col:
            # cumulative latest-setter-wins merge; at the last row of a
            # session this is the full context merge
            sess_pool = sess_pool.withColumn(
                "_sdata_merged",
                _merge_fold(F.collect_list(F.col(sdata_col)).over(wc), base_types[sdata_col]),
            )
        if collect_ctx:
            # the live context as an array<struct> in arrival order —
            # every message so far incl. the current one — so action
            # templates evaluate $(grep)/$(context-*)/@N against real
            # context state (context-funcs.c). Map columns are
            # excluded: the streaming state path can't carry them and
            # the context scope resolves flat fields (same shape both
            # modes). Collected ONLY when a template references the
            # context (collect_list over the pool isn't free).
            ctx_struct = F.struct(*[F.col(c) for c in ctx_fields])
            sess_pool = sess_pool.withColumn(
                "_context", F.collect_list(ctx_struct).over(wc)
            )

        # ---- timeout-context aggregation (shared by timeout actions) ----
        ordcol = F.struct(*ord_cols)
        keep = pool_payload + ["_rule", "_timeout"]
        aggs = [
            F.max_by(F.struct(*[F.col(c) for c in keep]), ordcol).alias("_last"),
            F.count(F.lit(1)).cast("string").alias("CONTEXT_LENGTH"),
            # the generation a context last GAINED a row in — chained
            # seeding at generation g processes exactly the contexts
            # with _max_gen == g (older ones already seeded, newer
            # ones don't exist yet)
            F.max(F.col("_gen")).alias("_max_gen"),
        ]
        if sdata_col:
            aggs.append(F.max_by(F.col("_sdata_merged"), ordcol).alias("_sdata_merged"))
        if collect_ctx:
            # full context in event order: collect (order, message)
            # structs, sort by the order struct, strip it
            ctx_struct = F.struct(*[F.col(c) for c in ctx_fields])
            aggs.append(
                F.array_sort(
                    F.collect_list(F.struct(ordcol.alias("_o"), ctx_struct.alias("_m")))
                ).alias("_ctx_raw")
            )
        ctx_frame = (
            sess_pool.groupBy("_scope_key", "CONTEXT_ID", "session_id")
            .agg(*aggs)
            .select(
                *[F.col(f"_last.{c}").alias(c) for c in keep],
                F.col("_scope_key"),
                F.col("CONTEXT_ID"),
                F.col("CONTEXT_LENGTH"),
                F.col("_max_gen"),
                *([F.col("_sdata_merged")] if sdata_col else []),
                *(
                    [F.transform(F.col("_ctx_raw"), lambda x: x["_m"]).alias("_context")]
                    if collect_ctx
                    else []
                ),
            )
        )
        return sess_pool, ctx_frame

    sess_pool = ctx_frame = None
    chain_cached: list[DataFrame] = []
    if prep.pool is not None:
        pool = prep.pool
        sess_pool, ctx_frame = _build_sessions(pool)
        # ---- context chaining: timeout-triggered create-context ----
        # (patterndb.c pattern_db_expire_entry → _execute_action_
        # create_context). Generation-iterated: expiries of
        # generation g seed generation g+1, the pool grows, sessions
        # rebuild; terminates when a generation seeds nothing.
        # Batch-model note: a seed whose rendered context-id EQUALS
        # its parent's joins the parent's (expired) session instead
        # of starting a fresh context — distinct chained ids (the
        # operative use) behave exactly like the reference.
        if prep.timeout_seeds:
            # persist each generation's ctx_frame (r14): generation
            # g's isEmpty gate executes the full sessionize+agg
            # pipeline of build g anyway; caching its SMALL aggregated
            # output (one row per context) lets both the next seed
            # build and the final timeout-action branches read it back
            # instead of re-running the window pipeline — measured
            # 6.2s -> 3.9s on patterndb_chain_context at sf0.1. Only
            # chaining rulesets pay the materialization barrier;
            # single-build rulesets (no timeout create-context) skip
            # this branch entirely. Frames ride out via track_cached
            # so callers can release them after their action.
            ctx_frame = ctx_frame.persist()
            chain_cached.append(ctx_frame)
        for gen in range(max_chain_depth):
            if not prep.timeout_seeds:
                break
            expired = ctx_frame.where(F.col("_max_gen") == gen)
            seed_parts = [
                prep.make_chain_pool(expired, r, a, gen + 1)
                for r, a in prep.timeout_seeds
            ]
            seeds = seed_parts[0]
            for s in seed_parts[1:]:
                seeds = seeds.unionByName(s)
            seeds = seeds.persist()
            if seeds.isEmpty():
                seeds.unpersist()
                break
            chain_cached.append(seeds)
            # the pool itself is NOT persisted (measured r12, sf0.1):
            # its lineage is one cheap classification pass — caching
            # it cost 1.5× the recompute (6.4s vs 4.4s warm); the
            # per-generation seeds and ctx frames ARE persisted (they
            # gate the loop / feed the final branches)
            pool = pool.unionByName(seeds)
            sess_pool, ctx_frame = _build_sessions(pool)
            ctx_frame = ctx_frame.persist()
            chain_cached.append(ctx_frame)
        else:
            if prep.timeout_seeds:
                # Only raise if the FINAL generation would actually
                # seed again: build its would-be seeds (make_chain_pool
                # applies each action's condition), so a chain that
                # legitimately terminates exactly at the cap — the
                # condition goes false on the last generation — is not
                # a spurious non-convergence (r12 ADVICE).
                final_expired = ctx_frame.where(
                    F.col("_max_gen") == max_chain_depth)
                would_seed = [
                    prep.make_chain_pool(final_expired, r, a,
                                         max_chain_depth + 1)
                    for r, a in prep.timeout_seeds
                ]
                unconverged = would_seed[0]
                for s in would_seed[1:]:
                    unconverged = unconverged.unionByName(s)
                if not unconverged.isEmpty():
                    raise RuntimeError(
                        "patterndb context chain did not converge within "
                        f"max_chain_depth={max_chain_depth}: the ruleset's "
                        "timeout create-context actions keep seeding new "
                        "contexts (self-chaining ruleset?). Raise "
                        "max_chain_depth if the chain is genuinely deeper."
                    )

    outs: list[DataFrame] = []
    for r in rules:
        matched = matched_by_rule[r.rule_id]
        for a in r.actions:
            if a.create_context is not None:
                continue  # seeds the pool; emits nothing itself
            if a.trigger == "match":
                if r.context_id is not None:
                    # match actions of context rules see the SHARED
                    # context: $(context-length) counts seeds and other
                    # rules' messages too
                    cand = sess_pool.where(
                        (F.col("_rule") == r.rule_id) & (F.col("_seq") == 0)
                    )
                    if sdata_col and a.message.inherit == "context":
                        cand = cand.withColumn(sdata_col, F.col("_sdata_merged"))
                    rate_key = ["_scope_key", "CONTEXT_ID"]
                else:
                    cand = matched.withColumn("CONTEXT_LENGTH", F.lit("1"))
                    rate_key = _scope_cols(r.context_scope, df)
                if a.condition:
                    cand = cand.where(compile_condition(a.condition, cand))
                cand = _rate_limit(cand, a, rate_key, ts_col)
                inherit = a.message.inherit != "none"
                rendered = _render(cand, a, out_columns, extra_values, inherit, ts_col,
                                    context_col="_context")
            elif a.trigger == "timeout":
                if r.context_id is None:
                    continue  # timeout needs a correlation context
                # the rule that last touched the context owns its
                # expiry (patterndb.c:629, pattern_db_expire_entry:426)
                cand = ctx_frame.where(F.col("_rule") == r.rule_id)
                if sdata_col and a.message.inherit == "context":
                    cand = cand.withColumn(sdata_col, F.col("_sdata_merged"))
                if a.condition:
                    cand = cand.where(compile_condition(a.condition, cand))
                cand = _rate_limit(cand, a, ["_scope_key", "CONTEXT_ID"], ts_col)
                inherit = a.message.inherit != "none"
                rendered = _render(cand, a, out_columns, extra_values, inherit, ts_col,
                                    context_col="_context")
            else:
                raise ValueError(f"unknown trigger {a.trigger!r}")
            rendered = rendered.withColumn("rule_id", F.lit(r.rule_id)).withColumn(
                "trigger", F.lit(a.trigger)
            )
            outs.append(rendered)

    if not outs:
        raise ValueError("ruleset has no supported actions")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    if chain_cached:
        from syslog_ng_spark.util import track_cached

        out = track_cached(out, *chain_cached)
    return out


def apply_actions(
    df: DataFrame,
    rules: list[PdbRule],
    msg_col: str = "message",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Original stream ∪ synthetic messages (the reference emits both
    through the same log paths). Originals carry synthetic=false and
    '' for the extra value columns (logmsg unset semantics)."""
    synth = patterndb_actions(df, rules, msg_col, ts_col, order_tiebreak)
    extra = [c for c in synth.columns if c not in df.columns]
    orig = df
    for c in extra:
        if c == "synthetic_tags":
            orig = orig.withColumn(c, F.array().cast("array<string>"))
        else:
            orig = orig.withColumn(c, F.lit(""))
    return (
        orig.withColumn("synthetic", F.lit(False))
        .unionByName(synth.withColumn("synthetic", F.lit(True)))
    )
