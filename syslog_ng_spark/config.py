"""Declarative pipeline config — the syslog-ng config analog.

Reference: a syslog-ng deployment is a config file of named sources,
parsers, filters, rewrites, destinations wired into log paths
(lib/cfg-tree.c). This module accepts the same shape as a plain dict
(JSON/YAML-friendly) and compiles it to a lazy DataFrame pipeline, so
a reference user can port a config block by transliteration:

    log = {
      "source": {"kind": "file", "path": "/logs/*.log"},
      "steps": [
        {"op": "parse-syslog", "flavor": "rfc3164", "year": 2024},
        {"op": "filter-severity", "max": "warning"},
        {"op": "rewrite-subst", "field": "message",
         "pattern": "secret=\\S+", "replacement": "secret=***"},
        {"op": "set-tag", "tag": "audited"},
      ],
      "destination": {"kind": "parquet", "path": "/out", "partition_by": ["host"]},
    }
    run_pipeline(spark, log)
"""

from __future__ import annotations

from collections.abc import Mapping
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syslog_ng_spark import sinks
from syslog_ng_spark.operators import filters, parsers, rewrite
from syslog_ng_spark.sources import files


# canonical log frame columns (datamodel.events_as_logs shape) — the
# schema internal() yields empty and multi-driver unions align on
_LOG_SCHEMA = (
    "ts timestamp, host string, program string, pid int, facility int, "
    "severity int, message string, sdata map<string,string>, "
    "tags array<string>"
)


def _source(spark: SparkSession, spec: Mapping) -> DataFrame:
    df = _source_raw(spark, spec)
    return _apply_source_options(df, spec)


def _apply_source_options(df: DataFrame, spec: Mapping) -> DataFrame:
    """Generic LogSourceOptions every driver accepts, applied in the
    reference's source-side order (lib/logsource.c log_source_queue:
    hostname mangling — socket streams, done by the caller — then
    use-syslogng-pid at :618, source tags() at :622-629,
    host-override() at :636 and program-override() at :639 after the
    mangle callbacks, so the overrides win over mangling).
    keep-timestamp(no) drops the sender's parsed stamp: the reference
    sets LP_NO_PARSE_DATE (lib/logreader.c:750) so $STAMP stays the
    receive time — here the read instant (current_timestamp is
    query-constant in batch; per-micro-batch in streaming, which IS
    the reception time)."""
    group = spec.get("group_name")
    if group:
        # $SOURCE: the source statement's name, set at reception
        # (lib/driver.c:219 log_msg_set_value(LM_V_SOURCE, group));
        # the source() filter string-matches this value
        # (lib/filter/filter-re.c:138 filter_source_new)
        df = df.withColumn("source", F.lit(str(group)))
    if spec.get("use_syslogng_pid"):
        # lib/logsource.c:618 — the source replaces $PID with the
        # daemon's own pid on every message it emits
        df = _override_pid(df)
    src_tags = list(spec.get("tags") or ())
    if group:
        # source-group tag, applied after the per-source tags()
        # (lib/logsource.c:630 source_group_tag, named
        # '.source.<group>' per logsource.c:787)
        src_tags.append(f".source.{group}")
    if src_tags:
        arr = F.array(*[F.lit(str(t)) for t in src_tags])
        if "tags" in df.columns:
            df = df.withColumn(
                "tags",
                F.array_union(
                    F.coalesce(F.col("tags"),
                               F.array().cast("array<string>")),
                    arr))
        else:
            df = df.withColumn("tags", arr)
    if spec.get("host_override"):
        df = df.withColumn("host", F.lit(str(spec["host_override"])))
    if spec.get("program_override"):
        df = df.withColumn("program", F.lit(str(spec["program_override"])))
    if spec.get("keep_timestamp") is False:
        df = df.withColumn("ts", F.current_timestamp())
    return df


def _override_pid(df: DataFrame) -> DataFrame:
    import os as _os

    pid_t = dict(df.dtypes).get("pid", "int")
    return df.withColumn("pid", F.lit(_os.getpid()).cast(pid_t))


def _generated_messages(df: DataFrame, spec: Mapping) -> DataFrame:
    """example-msg-generator message body over a frame of event ids,
    the same in batch and daemon mode: values(NAME => tpl) render
    against the empty message (names of core message fields into their
    flat columns; every other name is an arbitrary NV pair and lands in
    the canonical `sdata` map — the reference's nv-table, which
    value-pairs scoping / --key globbing ($(graphite-output --key
    test.*), functional test_graphite_output.py) selects from, and
    schema_resolver resolves ${name} template refs from), then
    template() renders MESSAGE against the resulting NV set; the
    default MESSAGE is the module's fixed marker line."""
    from syslog_ng_spark.operators.actions import _MACRO_COLS
    from syslog_ng_spark.template import template_format

    tpls = spec.get("templates")
    nv: dict[str, str] = {}
    for name, tpl in (spec.get("values") or {}).items():
        if name in _MACRO_COLS:
            df = template_format(df, tpl, target=_MACRO_COLS[name], templates=tpls)
        else:
            nv[name] = f"_genv{len(nv)}"
            df = template_format(df, tpl, target=nv[name], templates=tpls)
    if nv:
        df = df.withColumn(
            "sdata",
            F.map_from_arrays(
                F.array(*[F.lit(n) for n in nv]),
                F.array(*[F.col(c).cast("string") for c in nv.values()]),
            ),
        ).drop(*nv.values())
    body = spec.get("template")
    if body:
        return template_format(df, body, target="message", templates=tpls)
    return df.withColumn("message", F.lit("-- Generated message. --"))


def _apply_log_msg_size(df: DataFrame, spec: Mapping) -> DataFrame:
    """log-msg-size(N) for the line model: the TEXT proto yields the
    whole max-sized buffer as one message when a line overruns it
    (logproto-text-server.c:356,384), so an over-long line becomes
    ceil(len/N) chunk messages. trim-large-messages() does not apply
    to text framing — it is the framed proto's knob
    (logproto-framed-server.c:261; framing.split_frames honors it).
    N counts characters here (the line model is decoded strings; the
    reference counts octets — identical for ASCII logs)."""
    n = spec.get("log_msg_size")
    if not n or "raw" not in df.columns:
        return df
    n = int(n)
    others = [c for c in df.columns if c != "raw"]
    chunks = F.expr(
        f"transform(sequence(0, int((greatest(length(raw), 1) - 1) / {n})),"
        f" i -> substring(raw, i * {n} + 1, {n}))")
    return df.select(*others, F.explode(chunks).alias("raw"))


def _apply_recv_tz(df: DataFrame, spec: Mapping) -> DataFrame:
    """time-zone() / global recv-time-zone(): BSD 3164 stamps carry no
    zone, so the parsed wallclock is interpreted in the configured
    zone and normalized to the engine's UTC timeline (msg-format.c
    recv_time_zone; RFC5424 stamps carry their own offset, which
    always wins, so only the 3164 path routes here)."""
    tz = spec.get("recv_time_zone")
    if tz:
        df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), str(tz)))
    return df


def _parse_source(df: DataFrame, spec: Mapping) -> DataFrame:
    """Source-side front-end of every line-reading source, in batch and
    daemon mode alike: log-msg-size chunking, then the source-level
    parse (the daemon's file()/pipe() default; the .conf compiler sets
    these from flags()): syslog_parse parses each line into the
    canonical columns, message_from_raw is flags(no-parse) — the whole
    line becomes MESSAGE."""
    df = _apply_log_msg_size(df, spec)
    if spec.get("syslog_parse") == "rfc5424":
        return parsers.syslog_parser_5424(
            df, default_pri=spec.get("default_pri", 13))
    if spec.get("syslog_parse"):
        return _apply_recv_tz(parsers.syslog_parser_3164(
            df, year=spec.get("year", 2024),
            default_pri=spec.get("default_pri", 13)), spec)
    if spec.get("message_from_raw"):
        return df.withColumn("message", F.col("raw"))
    return df


def _union(dfs: list[DataFrame]) -> DataFrame:
    """Heterogeneous frames (multi-driver sources, junction channels)
    align by name; absent columns are NULL, like NV pairs absent on a
    message."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def _source_raw(spark: SparkSession, spec: Mapping) -> DataFrame:
    kind = spec["kind"]
    if kind == "msg-generator":
        # modules/examples/sources/msg-generator
        return _generated_messages(
            spark.range(int(spec.get("num", 1))).select(
                F.col("id").alias("event_id")), spec)
    if kind == "file":
        if spec.get("pad_size"):
            # pad-size(N): fixed-size padded records, not lines
            # (logproto-record-server.c via logproto-file-reader.c:32)
            from syslog_ng_spark.sources.framing import record_messages

            blobs = spark.read.format("binaryFile").load(spec["path"])
            df = record_messages(blobs, spec["pad_size"]).drop(
                "path", "record_no")
            # a record is not a line: log-msg-size never splits it
            spec = {**spec, "log_msg_size": None}
        else:
            df = files.text_lines(
                spark, spec["path"], recursive=spec.get("recursive", False))
        return _parse_source(df, spec)
    if kind == "union":
        # multi-driver source statements / multi-source log paths
        return _union([_source(spark, s) for s in spec["sources"]])
    if kind == "program-source":
        # program() source (modules/afprog): run the command once
        # driver-side (matching the daemon's single-host spawn), one
        # row per stdout line; source-level parse flags as for file()
        import subprocess

        proc = subprocess.run(
            spec["command"], shell=True, capture_output=True, text=True,
            timeout=spec.get("timeout", 60),
        )
        lines = [(ln,) for ln in proc.stdout.splitlines()]
        df = spark.createDataFrame(lines, "raw string") if lines else \
            spark.createDataFrame([], "raw string")
        return _parse_source(df, spec)
    if kind == "internal":
        # internal(): the daemon's own diagnostics — an empty canonical
        # frame in batch (there is no daemon), kept so reference configs
        # with `system(); internal();` compile and union cleanly
        return spark.createDataFrame([], _LOG_SCHEMA)
    if kind == "mbox":
        # line order within a split follows byte offset and splits are
        # ordered by offset, so the monotonic id reproduces file order
        lines = files.text_lines(spark, spec["path"]).withColumn(
            "line_no", F.monotonically_increasing_id()
        )
        return files.mbox_messages(lines)
    if kind == "socket-stream":
        raise NotImplementedError(
            f"source driver {spec.get('driver')!r} is a live-socket stream: "
            "use sources.streaming.socket_lines / the streaming entrypoints, "
            "not the batch pipeline compiler"
        )
    if kind == "unsupported":
        raise NotImplementedError(
            f"source driver {spec.get('driver')!r} has no Spark analog "
            "(compiled with strict=False)"
        )
    if kind == "parquet":
        return files.parquet_table(spark, spec["path"])
    if kind == "csv":
        return files.csv_table(spark, spec["path"], schema=spec.get("schema"))
    if kind == "json":
        return files.json_table(spark, spec["path"], schema=spec.get("schema"))
    if kind == "systemd-journal":
        # system()/systemd-journal(): binary .journal files read
        # directly (r8), no libsystemd; "since" = incremental cursor
        # (int or {file: seqnum} from journal_cursors), r9
        from syslog_ng_spark.sources.journal_binary import journal_binary_as_logs

        return journal_binary_as_logs(
            spark, spec["path"], prefix=spec.get("prefix", ".journald."),
            since=spec.get("since"),
        )
    raise ValueError(f"unknown source kind: {kind}")


def _tpl_compiler(df: DataFrame, templates: Mapping | None):
    """compile_tpl override for filter_predicate when the pipeline
    carries a named-template registry (None → the default path)."""
    if not templates:
        return None
    from syslog_ng_spark.template import compile_template

    return lambda t: compile_template(t, df, templates=templates)


def _step(df: DataFrame, spec: Mapping, templates: Mapping | None = None) -> DataFrame:
    op = spec["op"]
    if op == "parse-syslog":
        flavor = spec.get("flavor", "rfc3164")
        if flavor == "rfc5424":
            return parsers.syslog_parser_5424(df, raw=spec.get("column", "raw"))
        return parsers.syslog_parser_3164(
            df, raw=spec.get("column", "raw"), year=spec.get("year", 2024)
        )
    if op == "parse-csv":
        return parsers.csv_parser(df, spec["column"], spec["names"], sep=spec.get("sep", ","))
    if op == "parse-kv":
        if spec.get("quoted"):
            return parsers.kv_parser_quoted(df, spec["column"], target=spec.get("target", "kv"))
        return parsers.kv_parser(df, spec["column"], target=spec.get("target", "kv"))
    if op == "parse-kv-scan":
        # the reference-exact kv-scanner path the .conf front-end emits
        from syslog_ng_spark.operators.kvscan import kv_scanner_parser

        return kv_scanner_parser(
            df,
            spec["column"],
            target=spec.get("target", "kv"),
            kv_sep=spec.get("kv_sep", "="),
            pair_sep=spec.get("pair_sep", ", "),
            stray_words_target=spec.get("stray_target"),
        )
    if op == "parse-json":
        col = spec["column"]
        if "marker" in spec:
            # marker check + skip (modules/json/json-parser.c): rows
            # without the marker get a NULL payload → null map
            marker = spec["marker"]
            tmp = "_json_payload"
            df = df.withColumn(
                tmp,
                F.when(F.col(col).startswith(marker),
                       F.expr(f"substring({col}, {len(marker) + 1})")))
            return parsers.json_parser(
                df, tmp, target=spec.get("target", "sdata")).drop(tmp)
        return parsers.json_parser(df, col, target=spec.get("target", "sdata"))
    if op == "parse-date":
        return parsers.date_parser(df, spec["column"], spec["format"], target=spec.get("target", "ts"))
    if op == "classify":
        return parsers.pattern_parser(
            df, spec["column"], [tuple(r) for r in spec["rules"]],
            target=spec.get("target", "class"), default=spec.get("default", "unknown"),
        )
    if op == "filter-severity":
        return df.where(filters.severity_at_least(F.col("severity"), spec["max"]))
    if op == "filter-facility":
        return df.where(filters.facility_filter(F.col("facility"), *spec["facilities"]))
    if op == "filter-match":
        return df.where(filters.match_filter(F.col(spec.get("column", "message")), spec["pattern"]))
    if op == "filter-netmask":
        return df.where(filters.netmask_filter(F.col(spec["column"]), spec["cidr"]))
    if op == "filter-in-list":
        return df.where(filters.in_list_filter(F.col(spec["column"]), spec["values"]))
    if op == "multiline":
        # {"op": "multiline", "mode": "indented"|"prefix", "prefix": rx,
        #  "order": "line_no", "group": "path"}
        from syslog_ng_spark.operators.multiline import reassemble_multiline

        return reassemble_multiline(
            df,
            line_col=spec.get("column", "raw"),
            order_col=spec.get("order", "line_no"),
            group_col=spec.get("group"),
            mode=spec.get("mode", "indented"),
            prefix=spec.get("prefix"),
            suffix=spec.get("suffix"),
        )
    if op == "parse-patterndb":
        # {"op": "parse-patterndb", "rules": [[class, pattern], ...]}
        # or {"xml": "<patterndb>..."}
        from syslog_ng_spark.operators.patterndb import (
            load_patterndb_xml,
            patterndb_parse,
        )

        rules = (
            load_patterndb_xml(spec["xml"])
            if "xml" in spec
            else [tuple(r) for r in spec["rules"]]
        )
        return patterndb_parse(
            df,
            spec.get("column", "message"),
            rules,
            target=spec.get("target", "class"),
            default=spec.get("default", "unknown"),
        )
    if op == "suppress":
        from syslog_ng_spark.operators.correlate import suppress

        return suppress(
            df,
            spec.get("key", ["host", "message"]),
            ts=spec.get("ts", "ts"),
            seconds=spec.get("seconds", 30),
        )
    if op == "enrich-geoip":
        # {"op": "enrich-geoip", "ranges_path": parquet-with-
        #  start_int/end_int/attrs, "column": "ip"}
        from syslog_ng_spark.operators.enrich import geoip_range_enrich

        ranges = df.sparkSession.read.parquet(spec["ranges_path"])
        return geoip_range_enrich(df, ranges, ip_col=spec.get("column", "ip"))
    if op == "format":
        # render a syslog-ng template string per row (template.py);
        # the rewrite/destination-template analog:
        #   {"op": "format", "template": "$ISODATE $HOST $MSG",
        #    "target": "line"}
        from syslog_ng_spark.template import template_format

        return template_format(df, spec["template"],
                               target=spec.get("target", "rendered"),
                               templates=templates)
    def _cond():
        # condition(<filter expr>) on rewrite drivers: a per-row guard
        # (rewrite_condition_opt); None when absent
        tree = spec.get("condition")
        if tree is None:
            return None
        from syslog_ng_spark.confcompile import filter_predicate

        return filter_predicate(df, tree, compile_tpl=_tpl_compiler(df, templates))

    if op == "rewrite-set":
        # set()'s value IS a template in the reference (use $$ to
        # write a literal dollar); {"literal": true} opts out for
        # values that must never be expanded
        value = spec["value"]
        if isinstance(value, str) and "$" in value and not spec.get("literal"):
            from syslog_ng_spark.template import compile_template

            value_col = compile_template(value, df, templates=templates)
        else:
            value_col = F.lit(value)
        return rewrite.set_field(df, spec["field"], value_col, condition=_cond())
    if op == "rewrite-subst":
        return rewrite.subst(df, spec["field"], spec["pattern"], spec["replacement"],
                             condition=_cond())
    if op == "rewrite-unset":
        return rewrite.unset(df, *spec["fields"], condition=_cond())
    if op == "set-tag":
        return rewrite.set_tag(df, spec["tag"], condition=_cond())
    if op == "set-severity":
        return rewrite.set_severity(df, spec["level"], condition=_cond())
    # ---- ops reachable from the .conf front-end (confcompile) ----
    if op == "filter-expr":
        # a full filter { } expression tree (and/or/not + predicates),
        # compiled to one Catalyst boolean column
        from syslog_ng_spark.confcompile import filter_predicate

        return df.where(filter_predicate(
            df, spec["expr"], compile_tpl=_tpl_compiler(df, templates)))
    if op == "parse-tags":
        # tags-parser(template(...)): render, parse the comma list,
        # merge into `tags` (parsers.tags_parser), drop the scratch col
        from syslog_ng_spark.template import template_format

        tmp = "_tags_src"
        rendered = template_format(df, spec["template"], target=tmp,
                                   templates=templates)
        return parsers.tags_parser(rendered, tmp).drop(tmp)
    if op == "parse-audit":
        return parsers.linux_audit_parser(
            df, spec.get("column", "message"), target=spec.get("target", "kv")
        )
    if op == "parse-app":
        # SCL application parsers (apache-accesslog-parser() etc.) by name
        from syslog_ng_spark.operators import app_parsers

        fn = {
            "apache_accesslog": app_parsers.apache_accesslog_parser,
            "cisco": app_parsers.cisco_parser,
            "iptables": app_parsers.iptables_parser,
            "sudo": app_parsers.sudo_parser,
            "ewmm": app_parsers.ewmm_parser,
            "cee": app_parsers.cee_parser,
            "fortigate": app_parsers.fortigate_parser,
            "osquery": app_parsers.osquery_parser,
            "checkpoint": app_parsers.checkpoint_parser,
            "panos": app_parsers.panos_parser,
            "netskope": app_parsers.netskope_parser,
            "websense": app_parsers.websense_parser,
            "junos": app_parsers.junos_parser,
            "solaris_msgid": app_parsers.solaris_msgid_parser,
            "snmptrapd": app_parsers.snmptrapd_parser,
            "detect": app_parsers.detect_app,
        }[spec["app"]]
        return fn(df)
    if op == "clear-tag":
        return rewrite.clear_tag(df, spec["tag"], condition=_cond())
    if op == "set-facility":
        return rewrite.set_facility(df, spec["facility"], condition=_cond())
    if op == "rewrite-groupunset":
        return rewrite.unset_map_keys(df, spec.get("map_field", "sdata"), *spec["keys"])
    if op == "cc-mask":
        return rewrite.credit_card_mask(df)
    if op == "cc-hash":
        return rewrite.credit_card_hash(df)
    if op == "junction":
        # junction { channel{...}; ... } / if-elif-else sugar: the frame
        # fans out into every channel, channel outputs union back into
        # the path (cfg-tree.c multiplexer)
        outs = []
        for chan in spec["channels"]:
            branch = df
            for step in chan["steps"]:
                branch = _step(branch, step, templates=templates)
            outs.append(branch)
        return _union(outs)
    if op == "unsupported":
        raise NotImplementedError(
            f"step driver {spec.get('driver')!r} has no Spark analog "
            "(compiled with strict=False)"
        )
    raise ValueError(f"unknown step op: {op}")


# the destination spec fields that hold templates: $SEQNUM in any of
# them numbers the frame this destination writes
_TEMPLATE_FIELDS = ("template", "message", "key", "topic")

# the template _destination renders for these kinds when the spec
# sets none
_DEFAULT_TEMPLATES = {"program": {"template": "$MESSAGE"},
                      "network": {"template": "$MESSAGE"},
                      "kafka": {"message": "$MESSAGE"}}


def _columns_read(df: DataFrame, dests, templates: Mapping | None = None) -> list[str] | None:
    """The columns of `df` that `dests` read, in frame order, or None
    when one of them writes whole rows (parquet/csv/json, text without
    template(), suppress(), elasticsearch). Each template field is
    compiled against `df` and the analyzed projection names the
    columns it references."""
    from syslog_ng_spark.template import compile_template

    tpls = []
    for d in dests:
        kind = d["kind"]
        rendered = kind in _DEFAULT_TEMPLATES or (kind == "text" and "template" in d)
        if d.get("suppress") or not (rendered or kind == "none"):
            return None
        fields = {**_DEFAULT_TEMPLATES.get(kind, {}),
                  **{f: d[f] for f in _TEMPLATE_FIELDS if d.get(f)}}
        tpls += fields.values()
    refs = df.select(*[compile_template(t, df, templates=templates) for t in tpls]) \
        ._jdf.queryExecution().analyzed().references()
    out = df._jdf.queryExecution().analyzed().output()
    return [a.name() for a in (out.apply(i) for i in range(out.size())) if refs.contains(a)]


def _rendered(df: DataFrame, template: str, templates: Mapping | None,
              compiled: dict | None) -> DataFrame:
    """`df` with the column `rendered`, `template` rendered per row.
    `compiled` is a dict a long-lived writer keeps across calls (the
    daemon, across micro-batches): it holds the template's compiled
    Column per frame schema, which is all the compile reads of `df`."""
    from syslog_ng_spark.template import compile_template, template_format

    if compiled is None:
        return template_format(df, template, target="rendered", templates=templates)
    key = (template, tuple(df.dtypes))
    if key not in compiled:
        compiled[key] = compile_template(template, df, templates=templates)
    return df.withColumn("rendered", compiled[key])


def _destination(df: DataFrame, spec: Mapping, templates: Mapping | None = None,
                 on_driver: bool = False, compiled: dict | None = None) -> int:
    """Write `df` to one destination spec. Returns the number of rows
    this write actually NUMBERED with a fresh $SEQNUM (0 when the
    destination's templates don't reference it, or the frame already
    carried a seqnum column) so a long-lived caller (the daemon's
    foreachBatch) can advance its per-destination counter by exactly
    what was numbered instead of re-counting the batch.

    on_driver=True appends a text destination's lines from the driver
    (`sinks.append_text_on_driver`; the daemon's local file()
    destinations); `compiled` keeps a text destination's compiled
    template across calls (`_rendered`)."""
    from syslog_ng_spark.operators.delivery import (
        ensure_seqnum_counted, release_numbering_cache)

    kind = spec["kind"]
    if kind == "unsupported":
        raise NotImplementedError(
            f"destination driver {spec.get('driver')!r} has no Spark analog "
            "(compiled with strict=False)"
        )
    spec = {**_DEFAULT_TEMPLATES.get(kind, {}), **spec}
    if spec.get("suppress"):
        # suppress(N): per-writer duplicate collapse
        # (lib/logwriter.c log_writer_is_msg_suppressed) — applied to
        # THIS destination's view only, like each LogWriter owning its
        # own last-message state. In daemon mode the foreachBatch
        # frame lands here, so runs are scoped to a micro-batch.
        from syslog_ng_spark.operators.correlate import writer_suppress

        df = writer_suppress(df, seconds=int(spec["suppress"]))
    # $SEQNUM: the writer's counter numbers what THIS destination
    # delivers, after suppress, continuing from seqnum_start
    df, numbered = ensure_seqnum_counted(
        df, *(spec.get(f) for f in _TEMPLATE_FIELDS), templates=templates,
        start=spec.get("seqnum_start", 1))
    try:
        if kind == "parquet":
            sinks.write_parquet(df, spec["path"], partition_by=spec.get("partition_by", ()),
                                mode=spec.get("mode", "overwrite"))
        elif kind == "csv":
            sinks.write_csv(df, spec["path"], mode=spec.get("mode", "overwrite"))
        elif kind == "json":
            sinks.write_json(df, spec["path"], mode=spec.get("mode", "overwrite"))
        elif kind == "text":
            # file() destination: an optional template() renders each line
            # (the reference's file-dest default is $ISODATE $HOST $MSGHDR$MSG)
            lines, column = df, spec.get("column", "raw")
            if "template" in spec:
                lines, column = _rendered(df, spec["template"].rstrip("\n"), templates,
                                          compiled), "rendered"
            if on_driver:
                sinks.append_text_on_driver(lines, spec["path"], column=column)
            else:
                sinks.write_text(lines, spec["path"], column=column,
                                 mode=spec.get("mode", "overwrite"))
        elif kind == "program":
            sinks.ProgramDestination(
                command=spec["command"], template=spec["template"],
                templates=templates,
            ).write(df)
        elif kind == "elasticsearch":
            sinks.elasticsearch_http(spec["url"], spec.get("index", "syslog-ng")).write(df)
        elif kind == "network":
            # network()/syslog() with optional transport(tls) tls(...) (r8)
            tls_spec = spec.get("tls")
            sinks.NetworkDestination(
                targets=[tuple(t) for t in spec["targets"]],
                template=spec["template"],
                framing=spec.get("framing", "newline"),
                tls=sinks.TlsOptions(**tls_spec) if tls_spec else None,
                templates=templates,
            ).write(df)
        elif kind == "kafka":
            sinks.kafka_sink(
                df,
                spec["brokers"],
                message=spec["message"],
                key=spec.get("key"),
                topic=spec.get("topic", "syslog-ng"),
                fallback_topic=spec.get("fallback_topic"),
                templates=templates,
            )
        elif kind != "none":
            raise ValueError(f"unknown destination kind: {kind}")
    finally:
        # unconditional: the numbering attaches a persisted layout
        # cache even on the numbered==0 empty-frame path, and release
        # is a no-op for frames without one — neither a daemon's empty
        # micro-batches nor a failed or unsupported write may leak a pin
        release_numbering_cache(df)
    return numbered


def build_pipeline(spark: SparkSession, spec: Mapping) -> DataFrame:
    """Compile a config dict to a DataFrame (lazily; no execution).
    A `templates` entry (the .conf compiler emits the config's named
    template registry) binds $(template NAME) in every step."""
    df = _source(spark, spec["source"])
    tpls = spec.get("templates")
    rcpt_frame = None
    if spec.get("use_rcptid"):
        # options { use-uniqid(yes); }: RCPTID assigned at reception,
        # before any step, so every destination renders the same id
        # for the same message (lib/rcptid.c)
        from syslog_ng_spark.operators.delivery import assign_rcptid

        df = assign_rcptid(df)
        rcpt_frame = df  # carries the layout-pinning cache
    for step in spec.get("steps", ()):
        df = _step(df, step, templates=tpls)
    if rcpt_frame is not None:
        # hand the numbering cache to run_pipeline so it can release
        # the pin once every destination has materialized
        df._rcptid_frame = rcpt_frame
    return df


def run_pipeline(spark: SparkSession, spec: Mapping) -> DataFrame:
    """Compile and execute: writes the destination(s), returns the
    frame. `destinations` (a list, the log-path fan-out shape the .conf
    compiler emits) and the original singular `destination` both work."""
    df = build_pipeline(spark, spec)
    tpls = spec.get("templates")
    if "destination" in spec:
        _destination(df, spec["destination"], templates=tpls)
    for dest in spec.get("destinations", ()):
        _destination(df, dest, templates=tpls)
    rcpt_frame = getattr(df, "_rcptid_frame", None)
    if rcpt_frame is not None:
        # every destination has materialized the numbered frame —
        # drop the rcptid layout pin (r12 ADVICE: batch mode leaked it)
        from syslog_ng_spark.operators.delivery import release_numbering_cache

        release_numbering_cache(rcpt_frame)
    return df


# ---------------------------------------------------------------------------
# .conf text front-end (conflang + confcompile)
# ---------------------------------------------------------------------------


def parse_conf(text: str, include_dir: str | None = None):
    """Parse syslog-ng config TEXT (the cfg-grammar.y language) into a
    conflang.Conf of named blocks + log paths. See conflang.py for the
    supported grammar surface."""
    from syslog_ng_spark.conflang import parse_conf as _parse

    return _parse(text, include_dir=include_dir)


def compile_conf(conf_or_text, strict: bool = True) -> list[Mapping]:
    """Compile a Conf (or raw config text) to one pipeline spec dict per
    log { } path — the same dicts run_pipeline executes."""
    from syslog_ng_spark.confcompile import compile_conf as _compile
    from syslog_ng_spark.conflang import Conf

    conf = conf_or_text if isinstance(conf_or_text, Conf) else parse_conf(conf_or_text)
    return _compile(conf, strict=strict)


def run_conf(spark: SparkSession, text: str, include_dir: str | None = None,
             strict: bool = True) -> list[DataFrame]:
    """Parse, compile, and execute a syslog-ng config file end-to-end:
    every log path runs, every destination is written; returns the
    result frame per path (in file order)."""
    pipelines = compile_conf(parse_conf(text, include_dir), strict=strict)
    return [run_pipeline(spark, p) for p in pipelines]


# ---------------------------------------------------------------------------
# streaming execution of conf pipelines — the daemon mode
# ---------------------------------------------------------------------------


# driver-side source bridges started by _source_stream (udp()
# datagram relays, proxied-tcp/tls handshake relays) — close() to
# free their ports (threads are daemon-scoped, die with the process)
_ACTIVE_UDP_BRIDGES: list = []


def _source_stream(spark: SparkSession, spec: Mapping) -> DataFrame:
    """Streaming counterpart of _source: the same specs become
    readStream frames, so one compiled config runs in either mode.
    Source-level parse flags apply identically."""
    from syslog_ng_spark.sources import streaming as stream_src

    kind = spec["kind"]
    if kind == "file":
        # directory-watching ingestion (the replayable production path)
        df = stream_src.file_stream(
            spark, spec["path"], recursive=spec.get("recursive", False))
    elif kind == "socket-stream":
        driver = spec.get("driver", "")
        if driver.startswith("unix"):
            raise NotImplementedError(
                f"{driver}() has no Spark streaming analog "
                "(TCP/UDP only — the socket sources)")
        if driver.startswith("udp"):
            # driver-side datagram bridge (r10): one datagram = one
            # message, per-datagram peer address kept for mangling
            df, bridge = stream_src.udp_datagram_lines(
                spark, spec.get("ip", spec.get("host", "127.0.0.1")),
                spec.get("port", 514))
            _ACTIVE_UDP_BRIDGES.append(bridge)
        elif spec.get("proxied"):
            # transport(proxied-tcp/proxied-tls): per-connection
            # HAProxy v1 handshake in the accept loop; every message
            # carries PROXIED_* columns (r12)
            from syslog_ng_spark.sources.proxyproto import proxied_tcp_lines

            tls_spec = spec.get("tls")
            tls = sinks.TlsOptions(**tls_spec) if tls_spec else None
            df, bridge = proxied_tcp_lines(
                spark, spec.get("ip", spec.get("host", "127.0.0.1")),
                spec.get("port", 514), tls=tls)
            _ACTIVE_UDP_BRIDGES.append(bridge)
        else:
            df = stream_src.socket_lines(
                spark, spec.get("host", "localhost"), spec.get("port", 514))
    elif kind == "union":
        return _union([_source_stream(spark, s) for s in spec["sources"]])
    elif kind == "msg-generator":
        # daemon mode: one message per freq() tick off the rate
        # source; num() caps via a value filter (the stream then idles,
        # like the reference's generator after max_num). freq(N) is
        # the PERIOD between messages in seconds (msg-generator-
        # source-options.h:64 stores freq*1000 ms; the timer re-arms
        # every freq ms, msg-generator-source.c:55) — freq(0.1) is
        # 10 msg/s, freq(10) one message every 10 s. Spark's rate
        # source only ticks at integer rows/sec, so sub-1Hz periods
        # run the source at 1 row/s and keep every round(freq)-th
        # tick (non-integer periods > 1 s round to the nearest
        # second).
        freq = float(spec.get("freq", 1) or 1)
        num = int(spec.get("num", 1))
        if freq <= 1:
            df = stream_src.rate_source(
                spark, rows_per_second=max(1, round(1 / freq)))
            df = df.where(F.col("value") < num).select(
                F.col("value").alias("event_id"))
        else:
            period = max(1, round(freq))
            df = stream_src.rate_source(spark, rows_per_second=1)
            df = df.where(
                (F.col("value") % period == 0)
                & (F.col("value") < num * period)
            ).select((F.col("value") / period).cast("long").alias("event_id"))
        return _apply_source_options(_generated_messages(df, spec), spec)
    else:
        raise NotImplementedError(
            f"source kind {kind!r} has no streaming mode — journals and "
            "mboxes ingest as incremental batches (see journal_cursors)")
    df = _parse_source(df, spec)
    if kind == "socket-stream":
        df = _mangle_hostname(df, spec)
    return _apply_source_options(df, spec)


def _mangle_hostname(df: DataFrame, spec: Mapping) -> DataFrame:
    """log_source_mangle_hostname (lib/logsource.c:368-415) for the
    daemon-mode socket source: HOST_FROM is always the resolved peer;
    under the reference DEFAULT keep-hostname(no) the header HOST is
    REPLACED by the peer, chain-hostnames(yes) appends it
    ('orig/peer', or 'peer/peer' when the header carried none), and
    keep-hostname(yes) preserves a non-empty header HOST. The peer of
    Spark's socket source is the single configured endpoint, so the
    'resolved name' is that host (reverse-resolved once, driver-side,
    when use-dns is on and the endpoint is an address). File/batch
    sources skip mangling: the reference would substitute the
    COLLECTOR's hostname there, a daemon-host concept with no analog
    on a multi-executor cluster."""
    if "peer" in df.columns:
        # udp(): per-datagram sender from the bridge. Per-row reverse
        # DNS would need a blocking UDF per message — addresses are
        # kept as-is (use-dns(no) semantics; the reference's own
        # recommendation for busy UDP servers)
        plit = F.col("peer")
    else:
        peer = spec.get("host", "localhost")
        if spec.get("use_dns", True):
            import re as _re
            import socket as _socket

            if _re.fullmatch(r"[0-9.]+|[0-9a-fA-F:]*:[0-9a-fA-F:]*", peer):
                try:
                    peer = _socket.gethostbyaddr(peer)[0]
                except OSError:
                    pass  # unresolvable: keep the address, like the daemon
        plit = F.lit(peer)
    df = df.withColumn("host_from", plit)
    if "host" not in df.columns:  # flags(no-parse): no header HOST
        return df.withColumn("host", plit)
    orig = F.col("host")
    empty = orig.isNull() | (orig == "")
    if spec.get("keep_hostname"):
        new = F.when(empty, plit).otherwise(orig)
    elif spec.get("chain_hostnames"):
        new = F.when(empty, F.concat(plit, F.lit("/"), plit)) \
            .otherwise(F.concat(orig, F.lit("/"), plit))
    else:
        new = plit
    return df.withColumn("host", new)


def _file_paths(spec: Mapping):
    """The paths of every file() driver in a source spec."""
    if spec["kind"] == "union":
        for sub in spec["sources"]:
            yield from _file_paths(sub)
    elif spec["kind"] == "file":
        yield spec["path"]


def _copy_runtime_conf(spark: SparkSession, session: SparkSession) -> None:
    """Carry the caller's runtime SQL conf (time zone, map-key policy,
    ...) into the daemon's session; static keys came with the shared
    SparkContext already."""
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            session.conf.set(key, value)


def run_conf_stream(
    spark: SparkSession,
    text: str,
    checkpoint_dir: str,
    include_dir: str | None = None,
    strict: bool = True,
    available_now: bool = False,
):
    """Run a syslog-ng config as Structured Streaming — the daemon
    mode: network()/syslog() sources become live socket streams,
    file() sources become checkpointed directory tails, and every
    destination receives each micro-batch through the SAME batch
    writer (_destination via foreachBatch), so file/network-TLS/kafka/
    program destinations all work unchanged. One StreamingQuery per
    log path, checkpointed under `checkpoint_dir/log#N`; every path is
    built before the first query starts. Pass available_now=True to
    drain what exists and stop (file sources; backfill/testing) —
    sockets need the default continuous trigger. Returns the list of
    StreamingQuery handles.

    foreachBatch hands each micro-batch over as computed rows, so
    Catalyst cannot prune a column there that no destination reads.
    Each path's stream is therefore projected, before writeStream, to
    the columns its destinations' templates reference
    (`_columns_read`); a path with a destination that writes whole
    rows keeps every column, and a use-uniqid(yes) path, whose steps
    run per micro-batch, is not projected. Destinations that share a
    file-family path write one micro-batch at a time: their committers
    share the path's `_temporary` directory.

    A text destination on a local path (the file() destination) is
    appended by the driver, one part file per micro-batch
    (`sinks.append_text_on_driver`): the file lives on the daemon's
    host, and Spark's writer would add a commit protocol to every
    trigger. Each destination compiles its template once and reuses
    the Column for every micro-batch of the same schema
    (`_rendered`). Both keep a trigger well inside perfbench's 250 ms
    file interval, where its latency stays flat rather than queueing
    (SCALE.md Addendum 24).

    The streams run on a session of their own, derived from `spark`
    (`spark.newSession()`) with `spark`'s runtime SQL conf copied in;
    `spark` itself is not changed. When any file() source is local
    (`streaming.lists_locally`), that session lists the file sources
    on the driver (`streaming.list_on_driver`): the local files live
    on the daemon's host, not the executors', and one driver pass per
    trigger costs the same whether the glob matches 10 files or 500,
    where Spark's default lists more than 32 with a Spark job every
    trigger. The threshold is session-wide, so another scheme in the
    same conf is listed on the driver too; a conf with no local file
    source keeps Spark's distributed listing, which can win on an
    object store. When `checkpoint_dir` is local, that session writes
    the checkpoint logs through Hadoop's FileSystem API
    (`streaming.checkpoint_on_file_system`), which forks no process
    per file-status call (SCALE.md Addendum 23)."""
    import json as _json
    import os as _os
    import threading
    from contextlib import nullcontext

    from syslog_ng_spark.sources import streaming as stream_src

    pipelines = compile_conf(parse_conf(text, include_dir), strict=strict)
    session = spark.newSession()
    local = any(stream_src.lists_locally(spark, path)
                for p in pipelines for path in _file_paths(p["source"]))
    local_checkpoint = stream_src.lists_locally(spark, checkpoint_dir)

    def configure():
        _copy_runtime_conf(spark, session)
        if local:
            stream_src.list_on_driver(session)
        if local_checkpoint:
            stream_src.checkpoint_on_file_system(session)

    configure()
    file_kinds = ("text", "parquet", "csv", "json")
    # one lock per file-family destination path, shared by every query
    locks = {d["path"]: threading.Lock() for p in pipelines
             for d in p.get("destinations", ()) if d["kind"] in file_kinds}
    writers = []
    for p in pipelines:
        df = _source_stream(session, p["source"])
        tpls = p.get("templates")
        # micro-batches APPEND to file-family destinations (the batch
        # default overwrite would erase earlier batches' output)
        dests = [
            {**d, "mode": "append"} if d["kind"] in file_kinds else d
            for d in p.get("destinations", ())
        ]
        # options { use-uniqid(yes); } in daemon mode (r12): $RCPTID is
        # a RECEPTION id — assigned per micro-batch on the raw source
        # frame BEFORE the step chain (filtered messages still consume
        # ids, lib/rcptid.c), with the next id PERSISTED beside the
        # checkpoint so the counter survives daemon restarts
        # (rcptid_set_id persist-state) and batch REPLAYS renumber
        # from the same start (the saved (batch_id, batch_start) pair)
        batch_steps: tuple = ()
        rcpt_path = None
        if p.get("use_rcptid"):
            batch_steps = tuple(p.get("steps", ()))
            _os.makedirs(checkpoint_dir, exist_ok=True)
            rcpt_path = (
                f"{checkpoint_dir}/{p['name'].replace('#', '_')}_rcptid.json"
            )
        else:
            for step in p.get("steps", ()):
                df = _step(df, step, templates=tpls)
            cols = _columns_read(df, dests, tpls)
            if cols is not None:
                df = df.select(*[F.col(f"`{c}`") for c in cols])
        # per-destination $SEQNUM continuation: the daemon's LogWriter
        # counter lives for the daemon's lifetime, so each micro-batch
        # continues where the last ended
        seq_next = [1] * len(dests)
        # a local text destination is written by the driver, and each
        # destination compiles its template once for the daemon's life
        on_driver = [d["kind"] == "text" and stream_src.lists_locally(spark, d["path"])
                     for d in dests]
        compiled = [{} for _ in dests]

        def write_batch(batch_df, _id, _dests=dests, _tpls=tpls, _seq=seq_next,
                        _steps=batch_steps, _rcpt=rcpt_path, _driver=on_driver,
                        _compiled=compiled):
            rcpt_frame = None
            if _rcpt:
                from syslog_ng_spark.operators.delivery import (
                    assign_rcptid_counted, release_numbering_cache)

                try:
                    with open(_rcpt) as f:
                        st = _json.load(f)
                except (OSError, ValueError):
                    st = {"next": 1, "batch_id": None, "batch_start": 1}
                start = (st["batch_start"] if _id == st.get("batch_id")
                         else st["next"])
                batch_df, total = assign_rcptid_counted(batch_df, start=start)
                rcpt_frame = batch_df
                for step in _steps:
                    batch_df = _step(batch_df, step, templates=_tpls)
            # each destination reports how many rows IT numbered (0 if
            # its templates don't reference $SEQNUM) — no extra count
            # job, and the continuation point can't desync from what
            # the writer actually assigned
            for i, d in enumerate(_dests):
                with locks.get(d.get("path"), nullcontext()):
                    _seq[i] += _destination(
                        batch_df, {**d, "seqnum_start": _seq[i]}, templates=_tpls,
                        on_driver=_driver[i], compiled=_compiled[i])
            if _rcpt:
                release_numbering_cache(rcpt_frame)
                tmp = _rcpt + ".tmp"
                with open(tmp, "w") as f:
                    _json.dump({"next": start + total, "batch_id": _id,
                                "batch_start": start}, f)
                _os.replace(tmp, _rcpt)

        writer = df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", f"{checkpoint_dir}/{p['name'].replace('#', '_')}"
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        writers.append(writer)
    # building a plan may set conf on the active session (the
    # LAST_WIN map-key policy of format._merge_maps): copy again
    # before the streams clone the session at start
    configure()
    return [w.start() for w in writers]
