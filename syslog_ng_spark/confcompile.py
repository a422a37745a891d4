"""Compile parsed syslog-ng configs (conflang.Conf) to runnable specs.

Second half of the .conf front-end: conflang.py parses the LANGUAGE;
this module maps each driver invocation onto the repo's operator
surface — the same spec dicts `config.build_pipeline` executes — and
compiles filter expression trees to pyspark Column predicates.

Reference correspondence: lib/cfg-tree.c wires parsed blocks into log
pipelines; the driver→operator tables below mirror MIGRATION.md's
construct map. Unsupported drivers fail loudly with their own name
(strict mode, default) or compile to {"kind": "unsupported"} markers
that raise at run time (strict=False — lets a whole legacy file
compile so the supported paths still run).

Log-path flags are recorded but only partially semantic in batch:
flow-control is a daemon back-pressure knob (meaningless for Spark
jobs), catchall would need the other paths' source sets, and
final/fallback express cross-path routing — run paths separately or
encode the exclusion as an explicit filter.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from syslog_ng_spark.conflang import (
    BlockDef,
    Call,
    Conf,
    ConfError,
    Ident,
    Lexer,
    LogElement,
    Parser,
)

# NV-pair name (value("...")) -> batch schema column. Names outside the
# hard table fall back to lowercase (user columns) — dotted SDATA names
# stay as sdata map keys, handled by the rewrite/filter compilers.
_FIELD_MAP = {
    "MESSAGE": "message", "MSG": "message", "HOST": "host",
    "FULLHOST": "host", "HOST_FROM": "host", "PROGRAM": "program",
    "PID": "pid", "FACILITY": "facility", "SEVERITY": "severity",
    "LEVEL": "severity", "PRIORITY": "severity", "RAWMSG": "raw",
}


def field_column(name: str) -> str:
    name = name.lstrip("$")
    return _FIELD_MAP.get(name, name.lower())


# strptime (date-parser format(), modules/timestamp/date-parser.c) ->
# Spark datetime pattern tokens
_STRPTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%p": "a", "%z": "XX", "%Z": "zz", "%j": "DDD", "%%": "%",
    "%T": "HH:mm:ss", "%F": "yyyy-MM-dd",
}


def strptime_to_spark(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i: i + 2]
            if tok not in _STRPTIME:
                raise ConfError(f"unsupported strptime token {tok!r} in date-parser format")
            out.append(_STRPTIME[tok])
            i += 2
        elif fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")  # literal letters need quoting in Spark
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _scalar(v) -> str:
    return v.name if isinstance(v, Ident) else str(v)


def _yesno(v, default: bool) -> bool:
    """cfg_process_yesno: yes/on/1 true, no/off/0 false."""
    if v is None:
        return default
    return _scalar(v).lower() in ("yes", "on", "1", "true")


def _render_item(x) -> str:
    """Render an argument back to config text (block __VARARGS__)."""
    if isinstance(x, Call):
        inner = " ".join(_render_item(i) for i in x.items)
        return f"{x.name}({inner})"
    if isinstance(x, Ident):
        return x.name
    if isinstance(x, str):
        return '"' + x.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return str(x)


def _instantiate_block(conf: Conf, block: BlockDef, call: Call) -> str:
    """Expand an SCL block body: bind call options to parameters,
    substitute `param` backticks (+ `__VARARGS__`), return body text
    (lib/cfg-block.c cfg_block_generate)."""
    binds = dict(block.params)
    extras = []
    for item in call.items:
        if isinstance(item, Call) and item.norm in binds:
            binds[item.norm] = (
                _scalar(item.items[0]) if item.items else ""
            )
        else:
            if not block.varargs:
                raise ConfError(
                    f"block {block.name!r} got unknown option "
                    f"{getattr(item, 'name', item)!r} and declares no '...'",
                    call.line)
            extras.append(_render_item(item))
    binds["__VARARGS__"] = " ".join(extras)
    return block.body, dict(binds)


def _parse_in_context(conf: Conf, context: str, body: str,
                      defines: dict) -> list:
    """Re-parse an expanded block body in its context and return the
    context's natural AST (drivers / steps / expr)."""
    wrapped = "{" + body + "}"
    # strict: a leftover `ref` here IS a missing block parameter
    lx = Lexer(wrapped, defines, strict_backticks=True)
    toks = lx.tokens()
    p = Parser(toks, conf, lx.text)
    p._defines_ref = lx.defines
    if context == "filter":
        p.expect("LB")
        expr = p._filter_expr()
        while p.peek().kind == "SEMI":
            p.next()
        p.expect("RB")
        return expr
    if context == "parser":
        return p._parser_body()
    return p._driver_list()


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------

_SOCKET_DRIVERS = {"network", "syslog", "tcp", "udp", "tcp6", "udp6",
                   "unix-stream", "unix-dgram"}


def compile_source_driver(conf: Conf, call: Call, strict: bool) -> list[dict]:
    specs = _compile_source_specs(conf, call, strict)
    for s in specs:
        _common_source_options(conf, call, s)
    return specs


def _common_source_options(conf: Conf, call: Call, spec: dict) -> dict:
    """Generic LogSourceOptions accepted by EVERY source driver
    (lib/logsource.h:37-48), applied message-side in
    lib/logsource.c log_source_queue: tags() marks every message from
    the source (:622-629), host-override()/program-override() replace
    $HOST/$PROGRAM after the mangle callbacks (:636-641),
    keep-timestamp(no) drops the sender's stamp so $STAMP is the
    receive time (LP_NO_PARSE_DATE, lib/logreader.c:750).
    keep-timestamp falls back to the global options{} block
    (logsource.c:783-784); the overrides and tags are per-driver
    only, like the reference grammar."""
    ho = call.opt_scalar("host-override")
    if ho is not None:
        spec["host_override"] = str(ho)
    po = call.opt_scalar("program-override")
    if po is not None:
        spec["program_override"] = str(po)
    kt = call.opt_scalar("keep-timestamp")
    if kt is None:
        kt = conf.options.get("keep-timestamp")
    if kt is not None:
        spec["keep_timestamp"] = _yesno(kt, True)
    tags_opt = call.opt("tags")
    if tags_opt is not None:
        spec["tags"] = [x.name if isinstance(x, Ident) else str(x)
                        for x in tags_opt.items]
    # log-msg-size(N) + trim-large-messages() (cfg-grammar.y:1276,
    # global fallbacks :934 / cfg.trim_large_messages): the proto
    # message-size cap — over-long text lines split into N-sized
    # chunks (text server), oversized octet-counted frames truncate
    # (trim yes) or kill the connection (framing.split_frames)
    lms = call.opt_scalar("log-msg-size")
    if lms is None:
        lms = conf.options.get("log-msg-size")
    if lms is not None:
        spec["log_msg_size"] = int(lms)
    tlm = call.opt_scalar("trim-large-messages")
    if tlm is None:
        tlm = conf.options.get("trim-large-messages")
    if tlm is not None:
        spec["trim_large_messages"] = _yesno(tlm, False)
    # time-zone() (cfg-grammar.y:1288 msg_format_option
    # recv_time_zone): the zone assumed for stamps that carry NO zone
    # info (BSD 3164 stamps); falls back to the global
    # recv-time-zone() (cfg-grammar.y:941, msg-format.c:183-184)
    tz = call.opt_scalar("time-zone")
    if tz is None:
        tz = conf.options.get("recv-time-zone")
    if tz is not None:
        spec["recv_time_zone"] = str(tz)
    # default-facility()/default-severity() (cfg-grammar.y
    # msg_format_option): the PRI a message without a <PRI> header
    # takes. Either alone fills the other half with the reference's
    # LOG_USER / LOG_NOTICE defaults (grammar actions at
    # cfg-grammar.y:1289-1300).
    ds = call.opt_scalar("default-severity")
    dfc = call.opt_scalar("default-facility")
    if ds is not None or dfc is not None:
        from syslog_ng_spark.operators.filters import _fac_num, _sev_num

        def _num(v, f):
            return int(v) if isinstance(v, (int, float)) else f(str(v))

        sev = _num(ds, _sev_num) if ds is not None else 5
        fac = _num(dfc, _fac_num) if dfc is not None else 1
        spec["default_pri"] = (fac << 3) | sev
    return spec


def _compile_source_specs(conf: Conf, call: Call, strict: bool) -> list[dict]:
    n = call.norm
    block = conf.blocks.get(("source", call.name)) or conf.blocks.get(("source", n))
    if block is not None:
        body, defines = _instantiate_block(conf, block, call)
        drivers = _parse_in_context(conf, "source", body, defines)
        out = []
        for d in drivers:
            out.extend(compile_source_driver(conf, d, strict))
        return out
    pos = call.positional()
    if n in ("file", "pipe", "stdin", "wildcard-file"):
        # the daemon parses syslog AT THE SOURCE (filters in log paths
        # see $MESSAGE/$LEVEL without any declared parser);
        # flags(no-parse) keeps the whole line as MESSAGE, and
        # flags(syslog-protocol) selects RFC5424
        flags = call.flag_words()
        if "no-parse" in flags:
            parse: dict = {"message_from_raw": True}
        elif "syslog-protocol" in flags:
            parse = {"syslog_parse": "rfc5424"}
        else:
            parse = {"syslog_parse": "rfc3164"}
        # pad-size(N): fixed-size padded records instead of lines
        # (logproto-file-reader.c:32 → log_proto_padded_record_server)
        pad = call.opt_scalar("pad-size")
        if pad is not None and int(pad) > 0:
            parse["pad_size"] = int(pad)
        # follow-freq(N): the file poll period. The reference grammar
        # only accepts nonnegative floats (affile-grammar.ym:178
        # nonnegative_float — a negative value fails config parse,
        # functional test_follow_freq_value.py); Spark's directory
        # stream polls per micro-batch, so the value only validates
        ff = call.opt_scalar("follow-freq")
        if ff is not None:
            if float(ff) < 0:
                raise ConfError(
                    "follow-freq() expects a nonnegative number",
                    call.line)
            parse["follow_freq"] = float(ff)
        usp = call.opt_scalar("use-syslogng-pid")
        if usp is None:
            usp = conf.options.get("use-syslogng-pid")
        if usp is not None:
            parse["use_syslogng_pid"] = _yesno(usp, False)
        if n == "wildcard-file":
            base = call.opt_scalar("base-dir")
            pat = call.opt_scalar("filename-pattern", default="*")
            rec = str(call.opt_scalar("recursive", default="no")) in ("yes", "on", "1", "true")
            return [{"kind": "file", "path": os.path.join(str(base), str(pat)),
                     "recursive": rec, **parse}]
        path = str(pos[0]) if pos else "/dev/stdin"
        return [{"kind": "file", "path": path, **parse}]
    if n == "program":
        # afprogram source: the daemon spawns the command and reads its
        # stdout as a log stream; batch analog runs it once driver-side
        # (the daemon runs it on its one host too) and parallelizes
        # the captured lines
        flags = call.flag_words()
        spec = {"kind": "program-source", "command": str(pos[0])}
        if "no-parse" in flags:
            spec["message_from_raw"] = True
        elif "syslog-protocol" in flags:
            spec["syslog_parse"] = "rfc5424"
        else:
            spec["syslog_parse"] = "rfc3164"
        return [spec]
    if n == "example-msg-generator":
        # modules/examples/sources/msg-generator: one message per
        # freq() tick, num() caps the count, values(NAME => tpl) set
        # NV pairs rendered against the empty message, template()
        # renders MESSAGE against those (source-side template)
        spec = {"kind": "msg-generator",
                "num": int(call.opt_scalar("num", default=1) or 1)}
        # freq(N): N SECONDS between messages (the grammar takes
        # positive int or float; msg-generator-source-options.h:64
        # stores freq*1000 ms, default 1000 ms = 1 msg/s)
        fq = call.opt_scalar("freq")
        if fq is not None:
            spec["freq"] = float(fq)
        tpl = call.opt("template")
        if tpl is not None and tpl.items:
            spec["template"] = str(tpl.items[0])
        vals: dict = {}
        v = call.opt("values")
        if v is not None:
            items = list(v.items)
            i = 0
            while i + 2 < len(items):
                name, arrow, tv = items[i], items[i + 1], items[i + 2]
                if getattr(arrow, "name", str(arrow)) != "=>":
                    raise ConfError(
                        "values() expects NAME => template pairs", v.line)
                vals[str(name)] = str(tv)
                i += 3
            if i != len(items):
                # trailing incomplete pair (e.g. `values(a => x b =>)`)
                raise ConfError(
                    "values() has a trailing incomplete NAME => template "
                    "pair", v.line)
        spec["values"] = vals
        usp = call.opt_scalar("use-syslogng-pid")
        if usp is not None:
            spec["use_syslogng_pid"] = _yesno(usp, False)
        return [spec]
    if n in ("system", "systemd-journal"):
        path = call.opt_scalar("dir", default="/var/log/journal")
        return [{"kind": "systemd-journal", "path": str(path)}]
    if n == "internal":
        return [{"kind": "internal"}]
    if n == "mbox":
        return [{"kind": "mbox", "path": str(pos[0])}]
    if n in _SOCKET_DRIVERS:
        spec = {"kind": "socket-stream", "driver": call.name}
        if pos:
            spec["host"] = str(pos[0])
        port = call.opt_scalar("port")
        if port is not None:
            spec["port"] = int(port)
        ip = call.opt_scalar("ip") or call.opt_scalar("localip")
        if ip is not None:
            spec["ip"] = str(ip)  # datagram drivers BIND here
        # transport(proxied-tcp/proxied-tls): the HAProxy v1 header
        # handshake precedes the log stream
        # (lib/logproto/logproto-proxied-text-server.c;
        # transport-mapper-inet.c:387 maps proxied-tls to the same
        # logproto with TLS required)
        transport = str(call.opt_scalar("transport", default="")).lower()
        if transport.startswith("proxied"):
            spec["proxied"] = True
            tls = call.opt("tls")
            if transport == "proxied-tls" or tls is not None:
                spec["tls"] = _tls_spec(tls) if tls is not None else {}
        # hostname-mangling source options (lib/logsource.c
        # log_source_mangle_hostname): per-driver option wins, then the
        # global options{} block, then the reference defaults —
        # keep-hostname(no), chain-hostnames(no), use-dns(yes)
        for opt, key, dflt in (("keep-hostname", "keep_hostname", False),
                               ("chain-hostnames", "chain_hostnames", False),
                               ("use-dns", "use_dns", True),
                               # lib/logsource.c:619 — PID replaced by
                               # the daemon's own pid on every message
                               ("use-syslogng-pid", "use_syslogng_pid",
                                False)):
            v = call.opt_scalar(opt)
            if v is None:
                v = conf.options.get(opt)
            spec[key] = _yesno(v, dflt)
        flags = call.flag_words()
        if "no-parse" in flags:
            spec["message_from_raw"] = True
        elif n == "syslog" or "syslog-protocol" in flags:
            spec["syslog_parse"] = "rfc5424"  # syslog() speaks RFC5424
        else:
            spec["syslog_parse"] = "rfc3164"
        return [spec]
    if strict:
        raise ConfError(f"source driver {call.name!r} has no Spark analog here "
                        "(see docs/MIGRATION.md for the supported source surface)",
                        call.line)
    return [{"kind": "unsupported", "driver": call.name}]


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------

# SCL application parser driver -> operators.app_parsers function-backed
# step ({"op": "parse-app", "app": ...} dispatched in config._step)
_APP_PARSERS = {
    "apache-accesslog-parser": "apache_accesslog",
    "cisco-parser": "cisco",
    "iptables-parser": "iptables",
    "sudo-parser": "sudo",
    "ewmm-parser": "ewmm",
    "cee-parser": "cee",
    "fortigate-parser": "fortigate",
    "osquery-parser": "osquery",
    "checkpoint-parser": "checkpoint",
    "panos-parser": "panos",
    "netskope-parser": "netskope",
    "websense-parser": "websense",
    "junos-parser": "junos",
    "solaris-msgid-parser": "solaris_msgid",
    "snmptrapd-parser": "snmptrapd",
    "app-parser": "detect",
}


def _derived_app_filter(conf: Conf, app) -> str:
    """Match predicate for an application[] block WITHOUT a filter{}.
    Reference semantics: such an app matches iff its parser succeeds
    (the generated channel has only the parser, and parser failure
    drops the message from that junction branch). The general success
    contract isn't expressible as a predicate, but the common SCL
    shape — json-parser(marker(M)), used by cee/cim — fails exactly
    when $MESSAGE doesn't start with the marker
    (modules/json/json-parser.c marker check), so that prefix test IS
    the match."""
    if app.parser_text:
        items = _parse_in_context(conf, "parser", app.parser_text, {})
        if len(items) == 1 and isinstance(items[0], Call) \
                and items[0].norm == "json-parser":
            marker = items[0].opt_scalar("marker")
            if marker is not None:
                m = str(marker).replace("\\", "\\\\").replace("'", "\\'")
                return f"message('{m}' type(string) flags(prefix))"
    raise ConfError(
        f"application {app.name!r} has no filter{{}} and its parser's "
        "success can't be derived as a match predicate — add a filter{} "
        "to the application block", app.line)


def _compile_app_parser(conf: Conf, call: Call, strict: bool) -> list[dict] | None:
    """app-parser(topic(T)) — the reference implements this driver as a
    CONFIG GENERATOR (modules/appmodel/app-parser-generator.c): it
    splices every registered application[] with a matching topic into
    `junction { channel { filter{F}; parser{P}; rewrite { set-tag
    ('.app.<name>'); set('<name>' value('.app.name')); }; flags(final)
    }; ... }` and re-parses the text. This does the same, except
    flags(final) first-match-wins is compiled into the channel guards
    directly (guard_i = F_i and not any earlier F), which is exact for
    side-effect-free filters. Unmatched messages are DROPPED, like the
    reference's junction whose final frame never matches — the
    surrounding if/else recovers them (scl/default-network-drivers).
    Returns None when the conf registers no application[] blocks (the
    caller then uses the built-in shipped-app detection)."""
    if not conf.applications:
        return None
    topic = call.opt_scalar("topic")
    if topic is None:
        raise ConfError("app-parser() requires a topic() argument", call.line)
    topic = str(topic)
    auto = str(call.opt_scalar("auto-parse", default="yes")).lower()
    included = call.opt_scalar("auto-parse-include")
    excluded = call.opt_scalar("auto-parse-exclude")
    apps = [a for (nm, fw), a in conf.applications.items() if fw == topic]
    if included is not None:
        # the reference matches included/excluded via strstr on the
        # option string (app-parser-generator.c:_is_application_included)
        apps = [a for a in apps if a.name in str(included)]
    if excluded is not None:
        apps = [a for a in apps if a.name not in str(excluded)]
    if auto in ("no", "off", "false", "0") or not apps:
        # the generator's empty frame: a never-matching filter — the
        # whole stream fails this parser (if/else routes the other way)
        return [{"op": "filter-expr", "expr": {"op": "const", "value": False}}]
    parts = []
    prior: list[str] = []
    for a in apps:
        ftext = (a.filter_text or _derived_app_filter(conf, a)).strip()
        while ftext.endswith(";"):
            ftext = ftext[:-1].rstrip()
        guard = f"({ftext}\n)"
        if prior:
            guard += " and not (" + " or ".join(prior) + ")"
        prior.append(f"({ftext}\n)")
        body = f"    filter {{ {guard} }};\n"
        if a.parser_text:
            body += f"    parser {{ {a.parser_text} }};\n"
        body += (f"    rewrite {{ set-tag('.app.{a.name}'); "
                 f"set('{a.name}' value('.app.name')); }};\n")
        parts.append("channel {\n" + body + "};")
    text = "channel { junction {\n" + "\n".join(parts) + "\n}; };"
    items = _parse_in_context(conf, "parser", text, {})
    out: list[dict] = []
    for it in items:
        out.extend(compile_parser_driver(conf, it, strict))
    return out


def _template_column(call: Call, default: str = "message") -> str:
    tpl = call.opt_scalar("template")
    if tpl is None:
        return default
    t = str(tpl)
    inner = t.strip()
    if inner.startswith("${") and inner.endswith("}") and "$" not in inner[2:-1]:
        return field_column(inner[2:-1])
    if inner.startswith("$") and "$" not in inner[1:]:
        return field_column(inner[1:])
    raise ConfError(
        f"template({t!r}) is a composite template; the batch parser steps "
        "take a single column — add a 'format' step to materialize it first",
        call.line)


def compile_parser_driver(conf: Conf, call_or_channel, strict: bool) -> list[dict]:  # noqa: C901
    if isinstance(call_or_channel, tuple) and call_or_channel[0] == "channel":
        steps: list[dict] = []
        for elem in call_or_channel[1]:
            steps.extend(_compile_step_element(conf, elem, strict))
        return steps
    call: Call = call_or_channel
    n = call.norm
    block = conf.blocks.get(("parser", call.name)) or conf.blocks.get(("parser", n))
    if block is not None:
        body, defines = _instantiate_block(conf, block, call)
        items = _parse_in_context(conf, "parser", body, defines)
        out = []
        for it in items:
            out.extend(compile_parser_driver(conf, it, strict))
        return out
    if n == "syslog-parser":
        flags = call.flag_words()
        flavor = "rfc5424" if "syslog-protocol" in flags else "rfc3164"
        return [{"op": "parse-syslog", "flavor": flavor,
                 "column": _template_column(call, "raw")}]
    if n == "csv-parser":
        cols_opt = call.opt("columns")
        if cols_opt is None:
            raise ConfError("csv-parser() needs columns(...)", call.line)
        names = [_scalar(x) for x in cols_opt.items]
        sep = str(call.opt_scalar("delimiters", default=","))
        return [{"op": "parse-csv", "column": _template_column(call),
                 "names": names, "sep": sep, "flags": call.flag_words()}]
    if n == "kv-parser":
        # r11: the reference-exact kv-scanner (operators/kvscan.py,
        # lib/scanner/kv-scanner) with the full option surface:
        # value-separator(c), pair-separator(s),
        # extract-stray-words-into(name) (kv-parser-grammar.ym)
        spec = {"op": "parse-kv-scan", "column": _template_column(call)}
        prefix = call.opt_scalar("prefix")
        if prefix is not None:
            spec["target"] = str(prefix).rstrip(".")
        vs = call.opt_scalar("value-separator")
        if vs is not None:
            if len(str(vs)) != 1:
                raise ConfError("kv-parser(value-separator) must be one "
                                "character", call.line)
            spec["kv_sep"] = str(vs)
        ps = call.opt_scalar("pair-separator")
        if ps is not None:
            spec["pair_sep"] = str(ps)
        esw = call.opt_scalar("extract-stray-words-into")
        if esw is not None:
            spec["stray_target"] = str(esw)
        # allow-pair-separator-option(yesno): accepted-no-op in the
        # reference grammar too (kv-parser-grammar.ym:89 consumes it
        # without a setter — a compat switch for old configs)
        call.opt_scalar("allow-pair-separator-option")
        return [spec]
    if n == "json-parser":
        spec = {"op": "parse-json", "column": _template_column(call)}
        prefix = call.opt_scalar("prefix")
        if prefix is not None:
            spec["target"] = str(prefix).strip(".")
        marker = call.opt_scalar("marker")
        if marker is not None:
            # json-parser(marker('@cee:')): only marker-prefixed input
            # parses; the marker is stripped first (modules/json/
            # json-parser.c marker check + skip)
            spec["marker"] = str(marker)
        return [spec]
    if n == "date-parser":
        fmt = call.opt_scalar("format")
        if fmt is None:
            raise ConfError("date-parser() needs format(...)", call.line)
        return [{"op": "parse-date", "column": _template_column(call),
                 "format": strptime_to_spark(str(fmt))}]
    if n == "db-parser":
        f = call.opt_scalar("file")
        if f is None:
            raise ConfError("db-parser() needs file(...)", call.line)
        with open(str(f), encoding="utf-8") as fh:
            xml = fh.read()
        return [{"op": "parse-patterndb", "xml": xml}]
    if n == "linux-audit-parser":
        spec = {"op": "parse-audit", "column": _template_column(call)}
        prefix = call.opt_scalar("prefix")
        if prefix is not None:
            spec["target"] = str(prefix).rstrip(".")
        return [spec]
    if n == "tags-parser":
        tpl = call.opt_scalar("template", default="$MESSAGE")
        return [{"op": "parse-tags", "template": str(tpl)}]
    if n == "app-parser":
        generated = _compile_app_parser(conf, call, strict)
        if generated is not None:
            return generated
        # no application[] blocks registered in this conf: the built-in
        # detect_app rules stand in for the reference's bundled SCL
        # application registrations (which ship with the daemon)
        return [{"op": "parse-app", "app": "detect"}]
    if n in _APP_PARSERS:
        return [{"op": "parse-app", "app": _APP_PARSERS[n]}]
    if strict:
        raise ConfError(f"parser driver {call.name!r} has no Spark analog here "
                        "(see docs/MIGRATION.md)", call.line)
    return [{"op": "unsupported", "driver": call.name}]


# ---------------------------------------------------------------------------
# rewrites
# ---------------------------------------------------------------------------


def _value_fields(call: Call) -> list[str]:
    out = []
    for item in call.items:
        if isinstance(item, Call) and item.norm == "value" and item.items:
            out.append(field_column(_scalar(item.items[0])))
    return out


def _condition_of(conf: Conf, call: Call):
    """condition(<filter expr>) on a rewrite driver
    (rewrite_condition_opt): returns the resolved tree or None."""
    opt = call.opt("condition")
    if opt is None or not opt.items:
        return None
    return _resolve_filter_calls(opt.items[0], conf.filters)


def _with_cond(spec: dict, cond) -> list[dict]:
    if cond is not None:
        spec["condition"] = cond
    return [spec]


def compile_rewrite_driver(conf: Conf, call: Call, strict: bool) -> list[dict]:  # noqa: C901
    n = call.norm
    block = conf.blocks.get(("rewrite", call.name)) or conf.blocks.get(("rewrite", n))
    if block is not None:
        body, defines = _instantiate_block(conf, block, call)
        drivers = _parse_in_context(conf, "rewrite", body, defines)
        out = []
        for d in drivers:
            out.extend(compile_rewrite_driver(conf, d, strict))
        return out
    pos = call.positional()
    cond = _condition_of(conf, call)
    if n == "set":
        fields = _value_fields(call) or ["message"]
        return _with_cond({"op": "rewrite-set", "field": fields[0],
                           "value": expand_template_fns(conf, str(pos[0]))}, cond)
    if n == "subst":
        fields = _value_fields(call) or ["message"]
        return _with_cond({"op": "rewrite-subst", "field": fields[0],
                           "pattern": str(pos[0]),
                           "replacement": str(pos[1])}, cond)
    if n == "unset":
        fields = _value_fields(call)
        if not fields:
            raise ConfError("unset() needs value(...)", call.line)
        return _with_cond({"op": "rewrite-unset", "fields": fields}, cond)
    if n == "groupunset":
        vals = call.opt("values")
        if vals is None:
            raise ConfError("groupunset() needs values(...)", call.line)
        keys = [_scalar(x) for x in vals.items]
        if any("*" in k for k in keys):
            raise ConfError("groupunset() glob patterns are not supported — "
                            "list the keys (rewrite.unset_map_keys)", call.line)
        return [{"op": "rewrite-groupunset", "map_field": "sdata", "keys": keys}]
    if n == "set-tag":
        return _with_cond({"op": "set-tag", "tag": str(pos[0])}, cond)
    if n == "clear-tag":
        return _with_cond({"op": "clear-tag", "tag": str(pos[0])}, cond)
    if n == "set-severity":
        return _with_cond({"op": "set-severity", "level": _scalar(pos[0])}, cond)
    if n == "set-facility":
        return _with_cond({"op": "set-facility", "facility": _scalar(pos[0])},
                          cond)
    if n == "credit-card-mask":
        return [{"op": "cc-mask"}]
    if n == "credit-card-hash":
        return [{"op": "cc-hash"}]
    if strict:
        raise ConfError(f"rewrite driver {call.name!r} has no Spark analog here "
                        "(see docs/MIGRATION.md)", call.line)
    return [{"op": "unsupported", "driver": call.name}]


# ---------------------------------------------------------------------------
# destinations
# ---------------------------------------------------------------------------

_TLS_KEYMAP = {
    "ca-file": "ca_file", "ca-dir": "ca_dir", "cert-file": "cert_file",
    "key-file": "key_file", "peer-verify": "peer_verify",
    "cipher-suite": "ciphers", "sni": "sni",
}


def _tls_spec(call: Call) -> dict:
    spec = {}
    for item in call.items:
        if not isinstance(item, Call):
            continue
        key = _TLS_KEYMAP.get(item.norm)
        if key is None:
            raise ConfError(f"tls() option {item.name!r} is not supported",
                            item.line)
        spec[key] = _scalar(item.items[0]) if item.items else None
    return spec


_TPL_FN_RE = None  # lazily-compiled $(template NAME) matcher


def expand_template_fns(conf: Conf, text: str, _seen: tuple = ()) -> str:
    """Inline STATIC $(template NAME) references at config-compile time
    (tf-template.c static binding: a literal name resolves against the
    configuration's template registry when the config is read; unknown
    static names are config errors). Dynamic $-bearing names stay for
    the template compiler's runtime CASE. Cycle-checked."""
    import re as _re

    global _TPL_FN_RE
    if _TPL_FN_RE is None:
        _TPL_FN_RE = _re.compile(r"\$\(template\s+([A-Za-z0-9_-]+)\s*\)")

    def sub(m):
        name = m.group(1)
        if name in _seen:
            raise ConfError(f"$(template) recursion via {name!r}")
        body = conf.templates.get(name)
        if body is None:
            raise ConfError(f'$(template) Unknown template function or template "{name}"')
        return expand_template_fns(conf, body, _seen + (name,))

    return _TPL_FN_RE.sub(sub, text)


def _dest_template(conf: Conf, call: Call) -> str | None:
    tpl = call.opt("template")
    if tpl is None or not tpl.items:
        return None
    v = tpl.items[0]
    if isinstance(v, Ident):  # template(t_name) — named template reference
        if v.name not in conf.templates:
            raise ConfError(f"unknown template {v.name!r}", call.line)
        return expand_template_fns(conf, conf.templates[v.name])
    s = str(v)
    # a bare name in quotes also resolves
    return expand_template_fns(conf, conf.templates.get(s, s))


def compile_destination_driver(conf: Conf, call: Call, strict: bool) -> list[dict]:
    specs = _compile_destination_specs(conf, call, strict)
    for s in specs:
        _common_dest_options(conf, call, s)
    return specs


def _common_dest_options(conf: Conf, call: Call, spec: dict) -> dict:
    """dest_writer_options every writer accepts: suppress(N) collapses
    repeated identical messages per writer (cfg-grammar.y:1314, with
    the global options{} fallback at :926; applied by
    operators.correlate.writer_suppress)."""
    sup = call.opt_scalar("suppress")
    if sup is None:
        sup = conf.options.get("suppress")
    if sup is not None and int(sup) > 0:
        spec["suppress"] = int(sup)
    return spec


def _compile_destination_specs(conf: Conf, call: Call, strict: bool) -> list[dict]:  # noqa: C901
    n = call.norm
    block = (conf.blocks.get(("destination", call.name))
             or conf.blocks.get(("destination", n)))
    if block is not None:
        body, defines = _instantiate_block(conf, block, call)
        drivers = _parse_in_context(conf, "destination", body, defines)
        out = []
        for d in drivers:
            out.extend(compile_destination_driver(conf, d, strict))
        return out
    pos = call.positional()
    if n in ("file", "pipe"):
        spec = {"kind": "text", "path": str(pos[0])}
        tpl = _dest_template(conf, call)
        if tpl is not None:
            spec["template"] = tpl
        return [spec]
    if n == "program":
        spec = {"kind": "program", "command": str(pos[0])}
        tpl = _dest_template(conf, call)
        if tpl is not None:
            spec["template"] = tpl
        return [spec]
    if n in ("network", "syslog", "tcp", "tcp6"):
        transport = str(call.opt_scalar("transport", default="tcp")).lower()
        if transport == "udp" or n in ("udp", "udp6"):
            raise ConfError("UDP destinations are not supported (TCP/TLS only "
                            "— sinks.NetworkDestination)", call.line)
        # reference defaults: network()/tcp() port 514, syslog() 601
        default_port = 601 if n == "syslog" else 514
        port = int(call.opt_scalar("port", default=default_port))
        host = str(pos[0]) if pos else "127.0.0.1"
        spec = {"kind": "network", "targets": [[host, port]],
                "framing": "octet-counted" if n == "syslog" else "newline"}
        tpl = _dest_template(conf, call)
        if tpl is not None:
            spec["template"] = tpl
        tls = call.opt("tls")
        if transport == "tls" or tls is not None:
            spec["tls"] = _tls_spec(tls) if tls is not None else {}
        return [spec]
    if n == "kafka":
        brokers = call.opt_scalar("bootstrap-servers", "kafka-bootstrap-servers")
        if brokers is None and pos:
            brokers = pos[0]
        spec = {"kind": "kafka", "brokers": str(brokers)}
        for conf_key, spec_key in (("topic", "topic"), ("key", "key"),
                                   ("message", "message"),
                                   ("fallback-topic", "fallback_topic")):
            v = call.opt_scalar(conf_key)
            if v is not None:
                spec[spec_key] = str(v)
        return [spec]
    if n == "elasticsearch-http":
        spec = {"kind": "elasticsearch", "url": str(call.opt_scalar("url")),
                "index": str(call.opt_scalar("index", default="syslog-ng"))}
        return [spec]
    if strict:
        raise ConfError(f"destination driver {call.name!r} has no Spark analog "
                        "here (see docs/MIGRATION.md)", call.line)
    return [{"kind": "unsupported", "driver": call.name}]


# ---------------------------------------------------------------------------
# filter predicate compiler (tree -> Column)
# ---------------------------------------------------------------------------


def _glob_to_like(pat: str) -> str:
    out = []
    for c in pat:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_"):
            out.append("\\" + c)
        else:
            out.append(c)
    return "".join(out)


def parse_filter_text(text: str) -> dict:
    """Parse one filter EXPRESSION string ('facility(local3)',
    '"$A" lt "$B" and message(...)') to its AST node — the entry the
    template functions $(if)/$(grep)/$(filter) use, matching
    tf_cond_prepare running filter_expr_parser over argv[1]
    (modules/basicfuncs/cond-funcs.c:38-47)."""
    from syslog_ng_spark.conflang import Conf, Lexer, Parser

    lx = Lexer(text + ";", {})
    p = Parser(lx.tokens(), Conf(), lx.text)
    expr = p._filter_expr()
    return expr


def _re_column(
    df: DataFrame | None,
    node: dict,
    resolve=None,
    compile_tpl=None,
) -> Column:
    from syslog_ng_spark.template import compile_template

    resolve = resolve or F.col
    if "target" in node:
        col = resolve(field_column(node["target"].upper()))
    elif "value" in node:
        col = resolve(field_column(node["value"]))
    elif compile_tpl is not None:
        col = compile_tpl(node["template"])
    else:
        col = compile_template(node["template"], df)
    mtype = node.get("type", "pcre")
    pat = node["pattern"]
    flags = node.get("flags", [])
    if mtype == "string":
        # LogMatcherString (lib/logmatcher.c:88-116): EXACT match by
        # default; flags(prefix) / flags(substring) relax it;
        # flags(ignore-case) lowers both sides
        if "ignore-case" in flags:
            col = F.lower(col)
            pat = pat.lower()
        if "substring" in flags:
            return col.contains(pat)
        if "prefix" in flags:
            return col.startswith(pat)
        return col == pat
    if mtype == "glob":
        return col.like(_glob_to_like(pat))
    if "ignore-case" in flags:
        return col.rlike("(?i)" + pat)
    return col.rlike(pat)  # pcre / posix


def filter_predicate(
    df: DataFrame | None,
    node: dict,
    resolve=None,
    compile_tpl=None,
) -> Column:
    """Compile a filter expression tree (conflang._filter_expr output)
    to a boolean Column — the FilterExprNode eval analog
    (lib/filter/filter-expr.c), built entirely from Catalyst
    expressions so the predicate pushes down like any other.

    `resolve` overrides how field names become Columns (default F.col
    against `df`) and `compile_tpl` overrides template compilation —
    the template functions pass scope-aware versions so the same
    grammar evaluates per CONTEXT ELEMENT inside $(grep)."""
    from syslog_ng_spark.operators import filters as flt

    resolve = resolve or F.col

    def rec(n: dict) -> Column:
        return filter_predicate(df, n, resolve=resolve, compile_tpl=compile_tpl)

    op = node["op"]
    if op == "and":
        out = rec(node["args"][0])
        for a in node["args"][1:]:
            out = out & rec(a)
        return out
    if op == "or":
        out = rec(node["args"][0])
        for a in node["args"][1:]:
            out = out | rec(a)
        return out
    if op == "not":
        # a filter is two-valued: where() already drops a NULL (an
        # unset field) as no-match, so its negation must keep it — also
        # what routes such a message to a final/fallback path's sibling
        return ~F.coalesce(rec(node["arg"]), F.lit(False))
    if op == "severity":
        return flt.severity_filter(resolve("severity"), node["lo"], node["hi"])
    if op == "facility":
        return flt.facility_filter(resolve("facility"), *node["facs"])
    if op == "re":
        return _re_column(df, node, resolve=resolve, compile_tpl=compile_tpl)
    if op == "netmask":
        has_ip = df is not None and "ip" in df.columns
        return flt.netmask_filter(resolve("ip") if has_ip else resolve("host"),
                                  node["cidr"])
    if op == "netmask6":
        has_ip = df is not None and "ip" in df.columns
        return flt.netmask6_filter(resolve("ip") if has_ip else resolve("host"),
                                   node["cidr"])
    if op == "tags":
        return flt.tags_filter(resolve("tags"), *node["tags"])
    if op == "in-list":
        with open(node["path"], encoding="utf-8") as fh:
            values = [ln.strip() for ln in fh if ln.strip()]
        return flt.in_list_filter(resolve(field_column(node["value"])), values)
    if op == "cmp":
        if compile_tpl is not None:
            lc, rc = compile_tpl(node["left"]), compile_tpl(node["right"])
            if node["numeric"]:
                lc, rc = flt._atoi(lc), flt._atoi(rc)
            return flt._CMP_OPS[node["cmp"]](lc, rc)
        return flt.cmp_filter(df, node["left"], node["right"], node["cmp"],
                              numeric=node["numeric"])
    if op == "const":
        return F.lit(bool(node["value"]))
    if op == "call":
        raise ConfError(f"unresolved filter() call {node['name']!r} — compile "
                        "through compile_conf so named filters inline")
    raise ConfError(f"unknown filter node {op!r}")


def _resolve_filter_calls(node: dict, filters: dict, seen: tuple = ()) -> dict:
    """Inline filter(name) references (filter-call.c) at compile time,
    cycle-checked."""
    op = node["op"]
    if op in ("and", "or"):
        return {"op": op, "args": [_resolve_filter_calls(a, filters, seen)
                                   for a in node["args"]]}
    if op == "not":
        return {"op": "not", "arg": _resolve_filter_calls(node["arg"], filters, seen)}
    if op == "call":
        name = node["name"]
        if name in seen:
            raise ConfError(f"filter() reference cycle through {name!r}")
        if name not in filters:
            raise ConfError(f"unknown filter {name!r}")
        return _resolve_filter_calls(filters[name], filters, seen + (name,))
    return node


# ---------------------------------------------------------------------------
# log path assembly
# ---------------------------------------------------------------------------


def _compile_step_element(conf: Conf, elem: LogElement, strict: bool) -> list[dict]:
    if elem.kind == "filter":
        tree = conf.filters.get(elem.ref) if elem.ref else elem.inline
        if tree is None:
            raise ConfError(f"unknown filter {elem.ref!r}", elem.line)
        return [{"op": "filter-expr",
                 "expr": _resolve_filter_calls(tree, conf.filters)}]
    if elem.kind == "parser":
        items = conf.parsers.get(elem.ref) if elem.ref else elem.inline
        if items is None:
            raise ConfError(f"unknown parser {elem.ref!r}", elem.line)
        steps: list[dict] = []
        for it in items:
            steps.extend(compile_parser_driver(conf, it, strict))
        return steps
    if elem.kind == "rewrite":
        items = conf.rewrites.get(elem.ref) if elem.ref else elem.inline
        if items is None:
            raise ConfError(f"unknown rewrite {elem.ref!r}", elem.line)
        steps = []
        for it in items:
            steps.extend(compile_rewrite_driver(conf, it, strict))
        return steps
    if elem.kind == "channel":
        steps = []
        for sub in elem.inline:
            steps.extend(_compile_step_element(conf, sub, strict))
        return steps
    if elem.kind == "junction":
        channels = []
        for chan in elem.inline:
            csteps: list[dict] = []
            for sub in chan:
                if sub.kind == "destination":
                    raise ConfError(
                        "a destination inside a junction channel is not "
                        "supported by the batch compiler — give that "
                        "branch its own log path", sub.line)
                csteps.extend(_compile_step_element(conf, sub, strict))
            channels.append({"steps": csteps})
        return [{"op": "junction", "channels": channels}]
    raise ConfError(f"{elem.kind} cannot appear as a pipeline step", elem.line)


def _path_match_pred(steps: list[dict]):
    """(leading-filter conjunction | None for match-all, exact: bool).
    The daemon's 'matched by this path' = passed every filter; the
    conjunction of a path's LEADING filter-expr steps (before any
    transform) reproduces that exactly when no filter appears after a
    transform and no junction guards exist — `exact` reports it."""
    leading: list[dict] = []
    seen_transform = False
    exact = True
    for s in steps:
        if s["op"] == "filter-expr" and not seen_transform:
            leading.append(s["expr"])
        elif s["op"] == "filter-expr":
            exact = False  # filter over transformed fields: not hoistable
        else:
            seen_transform = True
            if s["op"] == "junction":
                exact = False  # per-branch guards drop rows branch-wise
    pred = None
    for t in leading:
        pred = t if pred is None else {"op": "and", "args": [pred, t]}
    return pred, exact


def _negate(pred) -> dict:
    if pred is None:  # match-all path consumes everything
        return {"op": "const", "value": False}
    return {"op": "not", "arg": pred}


def compile_conf(conf: Conf, strict: bool = True) -> list[dict]:
    """Compile every log { } path to a pipeline spec dict for
    config.run_pipeline: {"source": ..., "steps": [...],
    "destinations": [...], "flags": [...]}. Multiple source drivers /
    source statements union (unionByName allowMissingColumns, the
    cfg-tree multi-source join); multiple destinations each receive
    the same frame (the daemon's fan-out).

    Log-path flags compile to filter algebra (lib/cfg-tree.c routing):
    `catchall` attaches the path to every named source in the config;
    `final` makes later paths sharing its sources exclude the messages
    it matched (NOT its filter conjunction prepended); `fallback`
    restricts the path to messages NO earlier non-fallback
    same-source path matched. The algebra hoists each involved path's
    leading filter conjunction to the source frame, so it requires
    filters-before-transforms on those paths (the universal config
    idiom) — a final/fallback interaction with a filter AFTER a
    parser/rewrite raises ConfError rather than silently approximating.
    Paths with partially-overlapping source sets also raise: with the
    sources unioned there is no per-row origin to scope the exclusion
    to (split the path, or tag sources explicitly). `flow-control` is
    recorded only — daemon back-pressure has no batch meaning."""
    pipelines = []
    finals: list[tuple[frozenset, object]] = []       # (source key, pred)
    non_fallback: list[tuple[frozenset, object, bool]] = []
    for idx, path in enumerate(conf.logs):
        sources: list[dict] = []
        steps: list[dict] = []
        dests: list[dict] = []
        flags: list[str] = []
        inners: list = []
        for elem in path.elements:
            if elem.kind == "source":
                drivers = conf.sources.get(elem.ref) if elem.ref else elem.inline
                if drivers is None:
                    raise ConfError(f"unknown source {elem.ref!r}", elem.line)
                for d in drivers:
                    compiled = compile_source_driver(conf, d, strict)
                    if elem.ref:
                        # the statement NAME becomes $SOURCE
                        # (driver.c:219) and the '.source.<group>' tag
                        # (logsource.c:787); inline anonymous sources
                        # carry neither (the reference generates
                        # '#anon-source<N>' — not reproduced)
                        for s in compiled:
                            s.setdefault("group_name", str(elem.ref))
                    sources.extend(compiled)
            elif elem.kind == "destination":
                drivers = conf.destinations.get(elem.ref) if elem.ref else elem.inline
                if drivers is None:
                    raise ConfError(f"unknown destination {elem.ref!r}", elem.line)
                for d in drivers:
                    dests.extend(compile_destination_driver(conf, d, strict))
            elif elem.kind == "flags":
                flags.extend(elem.inline)
            elif elem.kind == "inner-log":
                inners.append(elem)
            else:
                if inners:
                    raise ConfError(
                        "steps after an embedded log { } block are not "
                        "supported — put them before the inner paths or "
                        "inside them (the union-back of inner outputs "
                        "into the outer path has no sound batch shape "
                        "when inner paths drop rows)", elem.line)
                steps.extend(_compile_step_element(conf, elem, strict))
        if "catchall" in flags:
            sources = []
            for name in conf.sources:
                for d in conf.sources[name]:
                    sources.extend(compile_source_driver(conf, d, strict))
        if not sources:
            # a path without source() or flags(catchall) is valid and
            # receives nothing — the reference's functional logpath
            # suite exercises exactly this shape (a 'log { destination
            # (d4); };' that must stay empty)
            continue

        skey = frozenset(repr(sorted(s.items())) for s in sources)
        pred, exact = _path_match_pred(steps)
        exclusions: list[dict] = []

        def overlap(other: frozenset) -> str:
            """'full' only when the exclusion is SOUND: every row of
            THIS path came from a source the earlier path consumed
            from (skey ⊆ other). The earlier path being a strict
            subset is 'partial' — rows from this path's extra sources
            must not be excluded, and after the union there is no
            per-row origin to scope by."""
            if not (skey & other):
                return "none"
            return "full" if skey <= other else "partial"

        for fkey, fpred in finals:
            o = overlap(fkey)
            if o == "partial":
                raise ConfError(
                    f"log path #{idx}: a final path shares only part of "
                    "this path's sources — the exclusion cannot be scoped "
                    "per-origin after the source union; split the path",
                    path.line)
            if o == "full":
                exclusions.append(_negate(fpred))
        if "fallback" in flags:
            for pkey, ppred, pexact in non_fallback:
                o = overlap(pkey)
                if o == "partial":
                    raise ConfError(
                        f"fallback log path #{idx} partially overlaps an "
                        "earlier path's sources; split the path", path.line)
                if o == "full":
                    if not pexact:
                        raise ConfError(
                            f"fallback log path #{idx} needs the match "
                            "predicate of an earlier path whose filters "
                            "come after transforms — reorder that path's "
                            "filters before its parsers/rewrites",
                            path.line)
                    exclusions.append(_negate(ppred))
        if exclusions:
            ex = exclusions[0]
            for e in exclusions[1:]:
                ex = {"op": "and", "args": [ex, e]}
            steps = [{"op": "filter-expr", "expr": ex}] + steps

        if "final" in flags:
            if not exact:
                raise ConfError(
                    f"log path #{idx} has flags(final) but its filters "
                    "come after transforms (or inside a junction), so its "
                    "match predicate cannot be hoisted to the source "
                    "frame — move the filters first", path.line)
            finals.append((skey, pred))
        if "fallback" not in flags:
            non_fallback.append((skey, pred, exact))

        source_spec = sources[0] if len(sources) == 1 else {
            "kind": "union", "sources": sources}

        def emit(name: str, psteps: list, pdests: list, pflags: list) -> None:
            pipelines.append({
                "name": name,
                "source": source_spec,
                "steps": psteps,
                "destinations": pdests,
                "flags": pflags,
                # the config's named-template registry, threaded to every
                # exec-layer compile_template so DYNAMIC $(template ${v})
                # and fallback forms bind at runtime (tf-template.c) —
                # expand_template_fns above only inlines the static form
                "templates": dict(conf.templates),
                # options { use-uniqid(yes); } (cfg-grammar.y
                # KW_USE_UNIQID; use-rcptid is the deprecated alias):
                # assign $RCPTID at reception. Default off (cfg.c:512).
                "use_rcptid": str(
                    conf.options.get("use-uniqid",
                                     conf.options.get("use-rcptid", "no"))
                ).lower() in ("yes", "on", "1", "true"),
            })

        if not inners:
            emit(f"log#{idx}", steps, dests, flags)
            continue

        # EMBEDDED log paths (cfg-grammar.y log_forks): each inner
        # path sees the outer frame after the prefix steps; inner
        # flags(final) hides its matches from LATER inner siblings,
        # inner flags(fallback) sees only what no earlier non-fallback
        # sibling matched — the same hoisted-conjunction algebra as
        # the top-level flags, scoped to the sibling group. Outer
        # destinations (before the inner blocks) receive every row.
        if dests:
            emit(f"log#{idx}", steps, dests, flags)
        inner_finals: list = []
        inner_non_fb: list[tuple[object, bool]] = []
        for j, ielem in enumerate(inners):
            isteps: list[dict] = []
            idests: list[dict] = []
            iflags: list[str] = []
            for e in ielem.inline:
                if e.kind == "source":
                    raise ConfError(
                        "source() inside an embedded log { } is not "
                        "supported — put sources on the outer path", e.line)
                if e.kind == "inner-log":
                    raise ConfError(
                        "embedded log { } nesting beyond one level is "
                        "not supported", e.line)
                if e.kind == "destination":
                    drivers = (conf.destinations.get(e.ref)
                               if e.ref else e.inline)
                    if drivers is None:
                        raise ConfError(f"unknown destination {e.ref!r}",
                                        e.line)
                    for d in drivers:
                        idests.extend(compile_destination_driver(conf, d, strict))
                elif e.kind == "flags":
                    iflags.extend(e.inline)
                else:
                    isteps.extend(_compile_step_element(conf, e, strict))
            ipred, iexact = _path_match_pred(isteps)
            iexcl = [_negate(p) for p in inner_finals]
            if "fallback" in iflags:
                for p, pexact in inner_non_fb:
                    if not pexact:
                        raise ConfError(
                            f"embedded fallback path needs the match "
                            "predicate of an earlier sibling whose filters "
                            "come after transforms — reorder that sibling's "
                            "filters first", ielem.line)
                    iexcl.append(_negate(p))
            guard: list[dict] = []
            if iexcl:
                ex = iexcl[0]
                for e2 in iexcl[1:]:
                    ex = {"op": "and", "args": [ex, e2]}
                guard = [{"op": "filter-expr", "expr": ex}]
            emit(f"log#{idx}.{j}", steps + guard + isteps, idests,
                 flags + iflags)
            if "final" in iflags:
                if not iexact:
                    raise ConfError(
                        "embedded log { } with flags(final) needs its "
                        "filters before its transforms", ielem.line)
                inner_finals.append(ipred)
            if "fallback" not in iflags:
                inner_non_fb.append((ipred, iexact))
    return pipelines
