"""Application parsers from the reference's SCL library — the
config-block parsers real deployments enable per app.

Reference: /root/reference/scl/apache/apache.conf
(apache-accesslog-parser: csv with '""'/'[]' quote pairs → the
logstash-like schema, rawrequest split, %d/%b/%Y:%H:%M:%S %z date,
HTTP/x → x), /root/reference/scl/cisco/plugin.conf (cisco-parser:
optional seqno, optional '*' clock-unsynced mark, multi-format
timestamp, %FAC-SEV-MNEMONIC triplet incl. the FAC-subfac-SEV
4-part form), /root/reference/scl/iptables/iptables.conf
(iptables-parser: kv-parser under a '.iptables.' prefix).

All pure Catalyst regexp/map expressions — one pass per line, no
UDFs; every parser returns typed columns so downstream filters push
into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# vhost:port prefix is optional (vhost_combined/vhost_common formats);
# referrer/agent tail is optional (common vs combined)
_APACHE_RE = (
    r"^(?:([A-Za-z0-9\-\._]+):(\d+) )?"  # 1 vhost, 2 port
    r"(\S+) (\S+) (\S+) "  # 3 clientip, 4 ident, 5 auth
    r"\[([^\]]+)\] "  # 6 timestamp
    # 7 rawrequest, split inside the same match into 8 verb (its first
    # token), 9 request (the second, after one space) and 10
    # httpversion: a third and LAST token, 'HTTP/' stripped (the
    # conf's subst). A token is a run of non-whitespace, non-quote chars;
    # "last" allows one line terminator before the quote, like `$`
    r'"((?:([^\s"]+)(?: ([^\s"]+)(?: (?:HTTP/)?([^\s"]*)'
    r'(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?"))?)?)?[^"]*)" '
    r"(\d{3}) (\S+)"  # 11 response, 12 bytes ('-' allowed)
    r'(?: "([^"]*)" "([^"]*)")?$'  # 13 referrer, 14 agent
)


def apache_accesslog_parser(
    df: DataFrame, col: str = "message", prefix: str = "apache_"
) -> DataFrame:
    """apache-accesslog-parser(): common / combined / vhost_common /
    vhost_combined access-log lines → the logstash-like schema the
    reference produces (scl/apache/apache.conf): clientip, ident,
    auth, ts (parsed %d/%b/%Y:%H:%M:%S %z), verb, request,
    httpversion (HTTP/ stripped, the conf's subst), response int,
    bytes long ('-' → null), referrer, agent, vhost, port. Lines that
    don't match yield nulls (the reference's drop-invalid is a
    .where(col(prefix+'response').isNotNull()) away). An empty raw
    request gives NULL verb/request/httpversion; a request without
    the token a field needs gives ''.

    One 14-group regex parses the line, the request's tokens
    included, once per row (parsers._parse_once); the per-column
    regexp_extract form re-executed it ~11x per row, and the request
    took three regexp_extracts more."""
    from syslog_ng_spark.operators.parsers import _group, _parse_once

    def g(i: int) -> Column:
        return F.coalesce(_group(i), F.lit(""))

    def nullable(c: Column) -> Column:
        return F.when(c != "", c)

    def request_token(i: int) -> Column:
        return F.when(g(7) != "", g(i))

    return _parse_once(df, col, _APACHE_RE, 14, {
        prefix + "vhost": nullable(g(1)),
        prefix + "port": nullable(g(2)).cast("int"),
        prefix + "clientip": nullable(g(3)),
        prefix + "ident": nullable(g(4)),
        prefix + "auth": nullable(g(5)),
        prefix + "ts": F.try_to_timestamp(nullable(g(6)), F.lit("dd/MMM/yyyy:HH:mm:ss Z")),
        prefix + "verb": request_token(8),
        prefix + "request": request_token(9),
        prefix + "httpversion": request_token(10),
        prefix + "response": nullable(g(11)).cast("int"),
        prefix + "bytes": F.when(g(12) == "-", F.lit(None).cast("long")).otherwise(
            nullable(g(12)).cast("long")),
        prefix + "referrer": nullable(g(13)),
        prefix + "agent": nullable(g(14)),
    })


# optional '<pri>', optional 'seq: ', optional '*'/'.' (clock not
# synced / drifted), timestamp up to the ': %' boundary, then the
# %TRIPLET: message tail
_CISCO_RE = (
    r"^(?:<(\d+)>)?"  # 1 pri
    r"(?:(\d+): )?"  # 2 seqno
    r"(?:[*.]?"
    r"([A-Za-z]{3} [0-9 ]?\d(?: \d{4})? \d{2}:\d{2}:\d{2}(?:\.\d{1,3})?(?: (?:AM|PM))?)"
    r"(?: [A-Z]{1,4})?: )?"  # 3 timestamp (optional tz abbrev eaten)
    r"%([A-Z0-9_]+)-"  # 4 facility
    r"(?:([A-Z0-9_]+)-)?"  # 5 optional subfacility
    r"(\d)-"  # 6 severity
    r"([A-Z0-9_]+): "  # 7 mnemonic
    r"(.*)$"  # 8 message
)

_CISCO_TS_FORMATS = (
    # the reference's date-parser candidate list, strptime → JVM patterns
    "MMM d hh:mm:ss a",
    "MMM d HH:mm:ss.SSS",
    "MMM d HH:mm:ss",
    "MMM d yyyy HH:mm:ss.SSS",
    "MMM d yyyy HH:mm:ss",
)


def cisco_parser(df: DataFrame, col: str = "raw", prefix: str = "cisco_") -> DataFrame:
    """cisco-parser() (scl/cisco/plugin.conf): IOS-style syslog —
    optional <pri>, optional sequence number, optional timestamp with
    a leading '*' / '.' clock-sync mark, then the %FACILITY-SEVERITY-
    MNEMONIC triplet (or the 4-part FACILITY-subfac-SEVERITY form,
    folded into facility as 'FAC-subfac' exactly like the conf's
    set("${facility}-$4")). Produces pri-derived facility/severity
    ints too, and tries the reference's timestamp format candidates
    in order (first parse wins, like date-parser's format list).

    The 8-group regex runs once per row (parsers._parse_once), not
    once per output column."""
    from syslog_ng_spark.operators.parsers import _group, _parse_once

    def g(i: int) -> Column:
        return F.coalesce(_group(i), F.lit(""))

    def nullable(c: Column) -> Column:
        return F.when(c != "", c)

    pri = nullable(g(1)).cast("int")
    # IOS pads single-digit days with a space ('Mar  1'); collapse runs
    # so one 'MMM d' pattern covers both paddings
    ts_txt = F.regexp_replace(nullable(g(3)), " +", " ")
    parsed_ts = F.coalesce(
        *[F.try_to_timestamp(ts_txt, F.lit(fmt)) for fmt in _CISCO_TS_FORMATS]
    )
    fac = nullable(g(4))
    subfac = nullable(g(5))
    return _parse_once(df, col, _CISCO_RE, 8, {
        prefix + "pri": pri,
        prefix + "facility_num": (pri / 8).cast("int"),
        prefix + "severity_num": pri % 8,
        prefix + "seqno": nullable(g(2)).cast("long"),
        prefix + "ts": parsed_ts,
        prefix + "facility": F.when(
            subfac.isNotNull(), F.concat_ws("-", fac, subfac)).otherwise(fac),
        prefix + "severity": nullable(g(6)).cast("int"),
        prefix + "mnemonic": nullable(g(7)),
        prefix + "message": nullable(g(8)),
    })


def iptables_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".iptables."
) -> DataFrame:
    """iptables-parser() (scl/iptables/iptables.conf): the kernel's
    netfilter log line ('IN=eth0 OUT= SRC=1.2.3.4 ... PROTO=TCP
    SPT=51812 ...') through the kv-parser with every key landed under
    the '.iptables.' prefix. Valueless tokens like flag words ('DF',
    'SYN') are not k=v pairs and are skipped, matching kv-scanner;
    empty values ('OUT=') survive as empty strings."""
    from syslog_ng_spark.operators.parsers import kv_parser

    parsed = kv_parser(df, col, target="_kv_tmp")
    pruned = F.map_filter(F.col("_kv_tmp"), lambda k, v: v.isNotNull())
    return parsed.withColumn(
        target, F.transform_keys(pruned, lambda k, v: F.concat(F.lit(prefix), k))
    ).drop("_kv_tmp")


def sudo_parser(
    df: DataFrame, col: str = "message", prefix: str = ".sudo.", drop_non_command: bool = True
) -> DataFrame:
    """sudo-parser() (reference: scl/sudo/sudo.conf): sudo's audit
    line — stray words before the first ';'-separated k=v pair carry
    the invoking user ('   alice : TTY=pts/0 ; PWD=/x ; USER=root ;
    COMMAND=/bin/ls -l'). kv-parser(pair-separator(';')) semantics:
    pairs split on ';', key = text before '=', values keep inner
    spaces (COMMAND with arguments survives whole); the first stray
    word becomes SUBJECT (the conf's extract-stray-words-into('0') +
    list-head). Rows without COMMAND are dropped by default (the
    conf's pam-noise filter)."""
    # stray words may precede the pair inside a segment ('alice : TTY=x')
    # — the key is the word immediately left of '=', wherever it sits
    segs = F.split(F.col(col), ";")
    entries = F.filter(
        F.transform(
            segs,
            lambda s: F.struct(
                F.regexp_extract(s, r"(?:^|\s)([A-Za-z_][A-Za-z0-9_]*)=", 1).alias("key"),
                F.regexp_extract(
                    s, r"(?:^|\s)[A-Za-z_][A-Za-z0-9_]*=(.*?)\s*$", 1
                ).alias("value"),
            ),
        ),
        lambda e: e["key"] != "",
    )
    # _fold_kv_entries, not bare map_from_entries: a line repeating a
    # key (e.g. ';COMMAND=' twice) gets last-wins instead of a runtime
    # DUPLICATED_MAP_KEY that depends on how the session was built
    from syslog_ng_spark.operators.parsers import _fold_kv_entries

    kv = _fold_kv_entries(entries)
    subject = F.regexp_extract(F.col(col), r"^\s*(\S+)", 1)
    out = df.withColumn(
        "sdata",
        F.map_concat(
            F.transform_keys(kv, lambda k, v: F.concat(F.lit(prefix), k)),
            F.create_map(F.lit(prefix + "SUBJECT"), subject),
        ),
    )
    if drop_non_command:
        out = out.where(F.element_at("sdata", prefix + "COMMAND").isNotNull())
    return out


def ewmm_parser(df: DataFrame, msg_col: str = "message", program_col: str = "program") -> DataFrame:
    """ewmm-parser() (reference: scl/ewmm/ewmm.conf): syslog-ng's
    enterprise-wide message model — a 5424 frame whose program is
    '@syslog-ng' and whose MSG is a JSON object of ALL name-value
    pairs (names keep their initial dot). Reconstructs: MESSAGE and
    HOST promoted from the JSON (json-parser overwrites builtins),
    tags from the hop-by-hop ._TAGS list (tags-parser), remaining
    pairs as sdata with '._'-prefixed hop-by-hop fields removed.
    Non-EWMM rows (program != '@syslog-ng') pass through with null
    outputs — keep or route on `is_ewmm`."""
    from pyspark.sql.types import MapType, StringType

    is_ewmm = F.col(program_col) == "@syslog-ng"
    j = F.when(is_ewmm, F.from_json(F.col(msg_col), MapType(StringType(), StringType())))
    tags = F.filter(
        F.transform(F.split(F.element_at(j, "._TAGS"), ","), lambda t: F.trim(t)),
        lambda t: t != "",
    )
    sdata = F.map_filter(
        j, lambda k, v: ~k.startswith("._") & ~k.isin("MESSAGE", "HOST", "PROGRAM")
    )
    return (
        df.withColumn("is_ewmm", is_ewmm)
        .withColumn("ewmm_message", F.element_at(j, "MESSAGE"))
        .withColumn("ewmm_host", F.element_at(j, "HOST"))
        .withColumn("ewmm_program", F.element_at(j, "PROGRAM"))
        .withColumn("ewmm_tags", tags)
        .withColumn("ewmm_sdata", sdata)
    )


def detect_app(
    df: DataFrame,
    program_col: str = "program",
    msg_col: str = "message",
    target: str = "app",
) -> DataFrame:
    """app-parser()-style application auto-detection (reference:
    scl/default-network-drivers + each scl block's application[]
    registration): the first matching application[] filter tags the
    row, downstream routes to that app's parser. Rules mirror the
    shipped application blocks: iptables = kernel + 'PROTO='
    substring (iptables.conf), sudo = program sudo (sudo.conf),
    ewmm = program '@syslog-ng' (ewmm.conf), cisco = the %TRIPLET
    mark, apache = the access-log shape, netskope = '<134>{' prefix +
    '_insertion_epoch_timestamp' member (netskope plugin.conf),
    websense = 'vendor=Websense' substring (websense plugin.conf).
    One codegen'd CASE WHEN — first match wins, like the reference's
    app-parser topic ordering."""
    p, m = F.col(program_col), F.col(msg_col)
    rules = [
        ("ewmm", p == "@syslog-ng"),
        ("iptables", (p == "kernel") & m.contains("PROTO=")),
        ("sudo", p == "sudo"),
        ("cisco", m.rlike(r"%[A-Z0-9_]+(-[A-Z0-9_]+)?-\d-[A-Z0-9_]+: ")),
        ("apache", m.rlike(_APACHE_RE)),
        ("netskope", m.startswith("<134>{") & m.contains("_insertion_epoch_timestamp")),
        ("websense", m.contains("vendor=Websense")),
    ]
    expr = None
    for name, cond in rules:
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(target, expr.otherwise(F.lit("unknown")))


def cee_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".cee."
) -> DataFrame:
    """cee application adapter (reference: scl/cee/adapter.conf):
    messages whose MSG starts with the '@cee:' marker carry a JSON
    payload — json-parser(marker('@cee:') prefix('.cee.')). Rows
    without the marker pass through with a null map (route on
    `is_cee`)."""
    from pyspark.sql.types import MapType, StringType

    is_cee = F.col(col).startswith("@cee:")
    payload = F.when(
        is_cee, F.from_json(F.ltrim(F.expr(f"substring({col}, 6)")), MapType(StringType(), StringType()))
    )
    return df.withColumn("is_cee", is_cee).withColumn(
        target, F.transform_keys(payload, lambda k, v: F.concat(F.lit(prefix), k))
    )


def nodejs_parser(
    df: DataFrame, col: str = "raw", target: str = "sdata", prefix: str = ".nodejs.winston."
) -> DataFrame:
    """nodejs() source adapter (reference: scl/nodejs/plugin.conf): a
    TCP listener for winston's socket transport, whose wire format is
    a JSON *array* — json-parser(extract-prefix('[1]')) takes the
    second element (the log record object), prefixes its members with
    '.nodejs.winston.', then the rewrite block promotes
    .nodejs.winston.message to MESSAGE and unsets it from the map.

    Spark-first: get_json_object('$[1]') + from_json to
    map<string,string>, transform_keys for the prefix, map_filter to
    drop the promoted key — all Catalyst, no UDF."""
    from pyspark.sql.types import MapType, StringType

    rec = F.from_json(
        F.get_json_object(F.col(col), "$[1]"), MapType(StringType(), StringType())
    )
    msg_key = prefix + "message"
    prefixed = F.transform_keys(rec, lambda k, v: F.concat(F.lit(prefix), k))
    return (
        df.withColumn("message", F.element_at(prefixed, msg_key))
        .withColumn(target, F.map_filter(prefixed, lambda k, v: k != msg_key))
    )


def fortigate_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".fortigate."
) -> DataFrame:
    """fortigate-parser() (reference: scl/fortigate/fortigate.conf):
    FortiOS logs are pure kv ('date=2024-01-05 time=03:04:05
    devname="FG100" level=warning ...') — kv-parser under
    '.fortigate.', quoted values unquoted, then date-parser over the
    date+time pair into `fortigate_ts`. Rows without devname are not
    fortigate rows (the conf's filter); kept here with is_fortigate
    so callers can route."""
    from syslog_ng_spark.operators.parsers import kv_parser_quoted

    parsed = kv_parser_quoted(df, col, target="_kv_tmp")
    pruned = F.map_filter(F.col("_kv_tmp"), lambda k, v: v.isNotNull())
    out = parsed.withColumn(
        target, F.transform_keys(pruned, lambda k, v: F.concat(F.lit(prefix), k))
    ).drop("_kv_tmp")
    ts = F.try_to_timestamp(
        F.concat_ws(
            " ",
            F.element_at(target, prefix + "date"),
            F.element_at(target, prefix + "time"),
        ),
        F.lit("yyyy-MM-dd HH:mm:ss"),
    )
    return out.withColumn("fortigate_ts", ts).withColumn(
        "is_fortigate", F.element_at(target, prefix + "devname").isNotNull()
    )


def osquery_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".osquery."
) -> DataFrame:
    """osquery source adapter (reference: scl/osquery/plugin.conf):
    osqueryd result lines are JSON objects — json-parser under
    '.osquery.' (nested members keep their JSON rendering, the
    reference's json-parser flattening for scalars)."""
    from pyspark.sql.types import MapType, StringType

    j = F.from_json(F.col(col), MapType(StringType(), StringType()))
    return df.withColumn(
        target, F.transform_keys(j, lambda k, v: F.concat(F.lit(prefix), k))
    )


def checkpoint_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".checkpoint."
) -> DataFrame:
    """checkpoint-parser() kv stage (reference: scl/checkpoint/
    plugin.conf): Check Point's 'key:value;key:value' payload —
    kv-parser(value-separator(':') pair-separator(';')) under
    '.checkpoint.'; keys arrive space-padded after ';' and are
    trimmed like kv-scanner's whitespace skip."""
    segs = F.filter(F.split(F.col(col), ";"), lambda s: s.contains(":"))
    entries = F.transform(
        segs,
        lambda s: F.struct(
            F.trim(F.substring_index(s, ":", 1)).alias("key"),
            s.substr(
                F.length(F.substring_index(s, ":", 1)) + 2, F.length(s)
            ).alias("value"),
        ),
    )
    # last-wins on repeated keys (dirty lines repeat ';key:'), same
    # policy as kv-parser — see parsers._fold_kv_entries
    from syslog_ng_spark.operators.parsers import _fold_kv_entries

    kv = _fold_kv_entries(entries)
    return df.withColumn(
        target, F.transform_keys(kv, lambda k, v: F.concat(F.lit(prefix), k))
    )


# PAN-OS per-type second-stage column lists (reference:
# scl/paloalto/panos.conf, verbatim order). The header stage is shared:
# FUTURE_USE, Receive Time, Serial, Type, Subtype, FUTURE_USE,
# Generated Time, then the type-specific remainder (greedy 'tmp').
_PANOS_HEADER = [
    "future_use1", "receive_time", "serial", "type", "subtype", "future_use2",
    "time_generated",
]
_PANOS_COLUMNS = {
    "SYSTEM": [
        "vsys", "eventid", "object", "future_use3", "future_use4", "module",
        "severity", "opaque", "seqno", "actionflags",
        "dg_hier_level_1", "dg_hier_level_2", "dg_hier_level_3", "dg_hier_level_4",
        "vsys_name", "device_name",
    ],
    "CONFIG": [
        "host", "vsys", "cmd", "admin", "client", "result", "path", "seqno",
        "actionflags",
        "dg_hier_level_1", "dg_hier_level_2", "dg_hier_level_3", "dg_hier_level_4",
        "vsys_name", "device_name",
    ],
    "TRAFFIC": [
        "src", "dst", "natsrc", "natdst", "rule", "srcuser", "dstuser", "app",
        "vsys", "from", "to", "inbound_if", "outbound_if", "logset",
        "future_use3", "sessionid", "repeatcnt", "sport", "dport", "natsport",
        "natdport", "flags", "proto", "action", "bytes", "bytes_sent",
        "bytes_received", "packets", "start", "sec", "category", "future_use4",
        "seqno", "actionflags", "srcloc", "dstloc", "future_use5", "pkts_sent",
        "pkts_received", "session_end_reason",
        "dg_hier_level_1", "dg_hier_level_2", "dg_hier_level_3", "dg_hier_level_4",
        "vsys_name", "device_name",
    ],
    "THREAT": [
        "src", "dst", "natsrc", "natdst", "rule", "srcuser", "dstuser", "app",
        "vsys", "from", "to", "inbound_if", "outbound_if", "logset",
        "future_use3", "sessionid", "repeatcnt", "sport", "dport", "natsport",
        "natdport", "flags", "proto", "action", "misc", "threatid", "category",
        "severity", "direction", "seqno", "actionflags", "srcloc", "dstloc",
        "future_use4", "contenttype", "pcap_id", "filedigest", "cloud",
        "url_idx", "user_agent", "filetype", "xff", "referer", "sender",
        "subject", "recipient", "reportid",
        "dg_hier_level_1", "dg_hier_level_2", "dg_hier_level_3", "dg_hier_level_4",
        "vsys_name", "device_name",
    ],
}


def panos_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".panos."
) -> DataFrame:
    """panos-parser() (reference: scl/paloalto/panos.conf): PAN-OS
    comma-separated logs — a shared 7-column header stage (with the
    greedy remainder in 'tmp'), then a type-dispatched second csv
    stage whose column lists are the conf's, verbatim, for
    SYSTEM / CONFIG / TRAFFIC / THREAT (the conf's 'custom format'
    CONFIG variant and the optional post-device_name tail columns are
    left unmapped — the reference itself only requires columns up to
    device_name). All fields land under '.panos.' in one map; rows
    with an unknown type get header fields only.

    Per-type mapping is a single map_from_entries CASE — one pass, no
    UDFs, and the split array is materialized once (higher-order
    lambdas re-evaluate captured expressions per element). The whole
    kv expression is rendered as ONE SQL string (r14): the ~140
    per-field struct builders cost ~1.5 s of py4j round trips per
    plan build as Column calls; the parsed tree is identical
    (named_struct/CASE/filter are what the Column API emits)."""
    base = df.withColumn("_c", F.split(F.col(col), ","))

    def entry(name: str, idx: int) -> str:
        # try_element_at: short/malformed lines yield NULLs (filtered
        # below), matching csv-parser's drop-invalid tolerance
        return (
            f"named_struct('key', '{prefix}{name}', "
            f"'value', try_element_at(_c, {idx}))"
        )

    header = ", ".join(entry(n, i + 1) for i, n in enumerate(_PANOS_HEADER))
    arms = "".join(
        " WHEN '{t}' THEN array({ents})".format(
            t=t,
            ents=", ".join(
                entry(n, len(_PANOS_HEADER) + 1 + i) for i, n in enumerate(cols)
            ),
        )
        for t, cols in _PANOS_COLUMNS.items()
    )
    kv = F.expr(
        f"map_from_entries(filter(concat(array({header}), "
        f"CASE try_element_at(_c, 4){arms} "
        f"ELSE CAST(array() AS array<struct<key:string,value:string>>) END), "
        f"e -> e.value IS NOT NULL))"
    )
    return base.withColumn(target, kv).drop("_c")


def netskope_parser(
    df: DataFrame, col: str = "message", target: str = "sdata", prefix: str = ".netskope."
) -> DataFrame:
    """netskope-parser() (reference: scl/netskope/plugin.conf): the
    whole incoming line is a JSON event, optionally behind a syslog
    <pri> prefix — subst('^<[0-9]+>', '') then json-parser under
    '.netskope.'. `is_netskope` replays the conf's application
    filter: literal '<134>{' prefix AND the
    '_insertion_epoch_timestamp' member present."""
    from pyspark.sql.types import MapType, StringType

    stripped = F.regexp_replace(F.col(col), "^<[0-9]+>", "")
    j = F.from_json(stripped, MapType(StringType(), StringType()))
    return df.withColumn(
        target, F.transform_keys(j, lambda k, v: F.concat(F.lit(prefix), k))
    ).withColumn(
        "is_netskope",
        F.col(col).startswith("<134>{")
        & F.col(col).contains("_insertion_epoch_timestamp"),
    )


def websense_parser(
    df: DataFrame, col: str = "raw", target: str = "sdata", prefix: str = ".websense.",
    year: int = 2024,
) -> DataFrame:
    """websense-parser() (reference: scl/websense/plugin.conf):
    Websense lines are BSD-syslog-shaped except for (a) a timezone
    code after the stamp and (b) no $PROGRAM. The conf's two substs
    are replayed — drop the tz code, inject 'Websense: ' as program
    before 'vendor=Websense' — then syslog-parser() and kv-parser()
    under '.websense.'. `is_websense` is the application filter
    (substring 'vendor=Websense')."""
    from syslog_ng_spark.operators.parsers import kv_parser, syslog_parser_3164

    # the conf substitutes '$1 ' which leaves a doubled space before
    # the host ('...10:48:57  10.203...') — its syslog-parser tolerates
    # whitespace runs, RFC3164_RE's single-space shape doesn't, so
    # replace with '$1' and let the original pre-host space stand
    r1 = F.regexp_replace(
        F.col(col),
        r"([A-Za-z]{3} [0-9 ]\d \d{2}:\d{2}:\d{2}) [A-Z]{3,4}",
        r"$1",
    )
    r2 = F.regexp_replace(r1, "(vendor=Websense)", r"Websense: $1")
    staged = df.withColumn("_ws_raw", r2).withColumn(
        "is_websense", F.col(col).contains("vendor=Websense")
    )
    parsed = syslog_parser_3164(staged, raw="_ws_raw", year=year)
    parsed = kv_parser(parsed, "message", target="_ws_kv")
    pruned = F.map_filter(F.col("_ws_kv"), lambda k, v: v.isNotNull())
    return parsed.withColumn(
        target, F.transform_keys(pruned, lambda k, v: F.concat(F.lit(prefix), k))
    ).drop("_ws_kv")


_JUNOS_REASON_KEY = "junos@2636.1.1.1.2.129.reason"


def junos_parser(df: DataFrame, col: str = "raw") -> DataFrame:
    """junos application adapter (reference: scl/junos/plugin.conf):
    Juniper RT_FLOW logs are plain RFC5424 with a [junos@2636...]
    structured-data element — the parse IS syslog-parser(); the
    application's only own logic is the routing filter
    \"${.SDATA.junos@2636.1.1.1.2.129.reason}\" ne '', replayed here
    as `is_junos`."""
    from syslog_ng_spark.operators.parsers import syslog_parser_5424

    parsed = syslog_parser_5424(df, raw=col)
    return parsed.withColumn(
        "is_junos",
        F.coalesce(F.element_at("sdata", _JUNOS_REASON_KEY), F.lit("")) != "",
    )


def solaris_msgid_parser(df: DataFrame, col: str = "message") -> DataFrame:
    """extract-solaris-msgid() (reference: scl/solaris/plugin.conf):
    Solaris kernel lines open with '[ID <msgid> <facility.level>]'.
    The conf runs a greedy csv-parser with '[]' quote-pairs (first
    token = the bracket body, remainder -> MESSAGE) then re-splits the
    body for the numeric msgid. Same result in one regex pass:
    `.solaris.msgid` + MESSAGE stripped of the prefix; non-matching
    rows pass through untouched (the conf's 'filter message([ID
    prefix)' guard)."""
    body = F.regexp_extract(F.col(col), r"^\[ID (\d+) [^\]]*\] ?(.*)$", 1)
    rest = F.regexp_extract(F.col(col), r"^\[ID (\d+) [^\]]*\] ?(.*)$", 2)
    hit = F.col(col).startswith("[ID ") & (body != "")
    return df.withColumn("solaris_msgid", F.when(hit, body)).withColumn(
        col, F.when(hit, rest).otherwise(F.col(col))
    )


# snmptrapd varbind key charset (reference: modules/afsnmp/
# varbindlist-scanner.c _is_valid_key_character: alnum _ . - :)
_SNMP_KEY = r"[A-Za-z0-9_.:\-]+"
# one varbind: key [ws] = [ws] [TYPE:] (quoted | run-until-next-pair).
# The TYPE annotation is a colon-terminated token with no space before
# the ':' (varbindlist-scanner.c _extract_type: strpbrk(': \t') must
# land on ':'); the unquoted value stops before '\t' or the next
# ' key =' — the C kv-scanner's value-ends-at-next-key rule. The value
# run is WORD-CHUNKED: consume a space-free word, then accept another
# only if it is not the next pair's 'key =' — the next-key lookahead
# fires once per word boundary. The first formulation put the
# lookahead on every character ((?:(?!...)[^\t\n])*) — O(chars x
# key-length); word-chunking measured 6.2s -> 5.4s for the two-scan
# varbind stage at sf1 (1M traps). The remaining cost is the regex
# engine's per-match allocation (a bare one-group scan is 2.4s, a
# plain tab split 0.1s) — inherent to extract_all, and 150k traps/s
# on one node is far above real trap volumes.
_SNMP_VB_RE = (
    rf'({_SNMP_KEY})[ \t]*=[ \t]*(?:[^:\s"]+:[ \t]*)?'
    rf'("[^"]*"|(?:[^\t\n ]+(?:[ ]+(?!{_SNMP_KEY}[ \t]*=)[^\t\n ]+)*)?)'
)
# header: ISO stamp, hostname, [transport (may contain nested
# brackets — greedy to the LAST ']' before the colon)], ':', then the
# v1 enterprise OID if present
_SNMP_HDR_RE = (
    r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})\s+(\S+)\s+\[(.*)\]\s*:(?:\s*(\S+))?\s*$"
)
# v1 second line: '\t <type> Trap (<subtype>) Uptime: <uptime>'
_SNMP_V1_RE = r"^\t\s*(.*? Trap) \((.*?)\) Uptime:\s*(.*?)\s*$"


def snmptrapd_parser(
    df: DataFrame, col: str = "raw", target: str = "sdata", prefix: str = ".snmp."
) -> DataFrame:
    """snmptrapd() source parser (reference: modules/afsnmp/
    snmptrapd-parser.c + varbindlist-scanner.c, semantics pinned by
    its criterion suite tests/test_snmptrapd_parser.c — those cases
    are replicated in tests/test_app_parsers.py):

    - header line 'YYYY-MM-DD HH:MM:SS host [transport]:' →
      .snmp.hostname / .snmp.transport_info + `ts`
    - SNMPv1 traps carry ' enterprise_oid' after the colon and a
      second line '\\t <type> Trap (<subtype>) Uptime: <uptime>' →
      .snmp.enterprise_oid/type/subtype/uptime
    - the varbind list (next line) is 'key = TYPE: value' pairs —
      TYPE annotation stripped, STRING quotes removed, values
      trimmed, key ':' runs normalized to '_' per the reference's
      key-normalization tests; scan stops at the next newline
    - messages with no parseable header, or a v2 varbind list
      opening with a tab, are dropped (`is_trap` false — the
      reference returns FALSE from its process())

    The varbind stage is the cost center: two group-pull scans of the
    line with the word-chunked _SNMP_VB_RE (see its comment for the
    measured alternatives — per-char lookahead, and a single
    full-match scan with per-element key/value regexes, which loses
    because ~2 small regex launches per element cost more than the
    second scan). Header/v1 stay as plain regexp_extracts — at their
    size the single-regex group-list rewrite measured slightly slower
    (0.36s vs 0.30s per 1M at sf1)."""
    line1 = F.substring_index(F.col(col), "\n", 1)
    has_nl = F.col(col).contains("\n")
    rest = F.when(
        has_nl, F.substr(F.col(col), F.length(line1) + 2, F.length(F.col(col)))
    ).otherwise(F.lit(""))

    def hg(i: int) -> Column:
        return F.nullif(F.regexp_extract(line1, _SNMP_HDR_RE, i), F.lit(""))

    header_ok = F.regexp_like(line1, F.lit(_SNMP_HDR_RE))
    enterprise = hg(4)
    is_v1 = enterprise.isNotNull()
    rest_l1 = F.substring_index(rest, "\n", 1)
    rest_l2 = F.when(
        rest.contains("\n"),
        F.substring_index(F.substr(rest, F.length(rest_l1) + 2), "\n", 1),
    ).otherwise(F.lit(""))
    vb_line = F.when(is_v1, rest_l2).otherwise(rest_l1)

    def v1g(i: int) -> Column:
        return F.nullif(F.regexp_extract(rest_l1, _SNMP_V1_RE, i), F.lit(""))

    # zip keys/values; normalize ':'+ runs in keys to '_'; strip the
    # quotes of quoted values, rtrim unquoted ones
    vb_entries = F.expr(
        f"""
        transform(
          arrays_zip(regexp_extract_all(_snmp_vb, r'{_SNMP_VB_RE}', 1),
                     regexp_extract_all(_snmp_vb, r'{_SNMP_VB_RE}', 2)),
          p -> struct(
            concat('{prefix}', regexp_replace(p['0'], ':+', '_')) as key,
            CASE WHEN startswith(p['1'], '"')
                 THEN substring(p['1'], 2, length(p['1']) - 2)
                 ELSE rtrim(p['1']) END as value))
        """.strip()
    )
    staged = df.withColumn("_snmp_vb", vb_line)
    hdr_entries = F.array(
        F.struct(F.lit(prefix + "hostname").alias("key"), hg(2).alias("value")),
        F.struct(F.lit(prefix + "transport_info").alias("key"), hg(3).alias("value")),
        F.struct(F.lit(prefix + "enterprise_oid").alias("key"), enterprise.alias("value")),
        F.struct(F.lit(prefix + "type").alias("key"), v1g(1).alias("value")),
        F.struct(F.lit(prefix + "subtype").alias("key"), v1g(2).alias("value")),
        F.struct(F.lit(prefix + "uptime").alias("key"), v1g(3).alias("value")),
    )
    all_entries = F.concat(hdr_entries, vb_entries)
    # duplicate varbind OIDs occur in real traps — last-wins via
    # _fold_kv_entries, matching varbindlist-scanner's overwrite
    from syslog_ng_spark.operators.parsers import _fold_kv_entries

    kv = _fold_kv_entries(F.filter(all_entries, lambda e: e["value"].isNotNull()))
    dropped = ~header_ok | (~is_v1 & vb_line.startswith("\t"))
    return (
        staged.withColumn("ts", F.to_timestamp(hg(1), "yyyy-MM-dd HH:mm:ss"))
        .withColumn(target, F.when(~dropped, kv))
        .withColumn("is_trap", ~dropped)
        .drop("_snmp_vb")
    )
