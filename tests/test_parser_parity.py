"""Pinned rows and schemas of the five regex-group parsers: the two
syslog header parsers, apache-accesslog-parser, cisco-parser and
url_normalize. Every parser is fed a frame with columns on both sides
of its input, so the pinned schema also fixes column order and
nullability; each input list holds matching and non-matching lines."""

from __future__ import annotations

import datetime

from syslog_ng_spark.operators.app_parsers import apache_accesslog_parser, cisco_parser
from syslog_ng_spark.operators.parsers import syslog_parser_3164, syslog_parser_5424
from syslog_ng_spark.operators.urltools import url_normalize

DT = datetime.datetime

LINES_3164 = [
    "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed for lonvick on /dev/pts/8",
    "<13>Jan  5 09:00:01 host-1 cron: job ran",
    "Feb 28 23:59:59 web-2 nginx[42]: GET / 200",
    "Mar  3 01:02:03 db postgres: ",
    "totally not syslog",
    "<13>hello without stamp",
    "{json noise}",
]
LINES_5424 = [
    '<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 111 ID47 '
    '[exampleSDID@32473 iut="3" eventSource="Application"][origin ip="10.0.0.1"] '
    "An application event log entry",
    "<13>1 2024-01-02T03:04:05Z host app - - - plain message",
    "<14>1 2024-01-02T03:04:05Z - - - - -",
    "not 5424 at all",
    "<34>Oct 11 22:14:15 mymachine su: a 3164 line",
]
LINES_APACHE = [
    'virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
    '"GET /apache_pb.gif HTTP/1.0" 200 2326 "http://www.example.com/start.html" "Mozilla/4.08"',
    '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 -',
    "not an access log",
    # raw requests that are not `verb request version`
    '10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "-" 408 -',
    '10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET" 400 0',
    '10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET /a b HTTP/1.1" 400 0',
    '10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] " GET / HTTP/1.0" 400 0',
]
LINES_CISCO = [
    "<189>123: *Mar  1 18:46:11.299: %SYS-5-CONFIG_I: Configured from console by vty2",
    "%LINK-3-UPDOWN: Interface FastEthernet0/1, changed state to down",
    "<134>456: Feb 14 11:22:33 UTC: %FW-SESSION-6-SESS_AUDIT_TRAIL: Start tcp session",
    "not a cisco line",
]
LINES_URL = [
    "HTTPS://user:pw@WWW.Example.COM:443/Path?utm_source=x&q=1&gclid=z#frag",
    "http://h.example.co.uk:8080",
    "not a url",
]


def _frame(spark, lines, col):
    return spark.createDataFrame(
        [(i, line, "t") for i, line in enumerate(lines)], f"id int, {col} string, tag string"
    )


def _shape(df):
    schema = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
    return schema, [tuple(r) for r in df.orderBy("id").collect()]


def test_3164_rows_and_schema(spark):
    schema, rows = _shape(syslog_parser_3164(_frame(spark, LINES_3164, "raw"), year=2024))
    assert schema == [
        ("facility", "int", True), ("severity", "int", True), ("ts", "timestamp", True),
        ("host", "string", True), ("program", "string", True), ("pid", "int", True),
        ("message", "string", False), ("id", "int", True), ("tag", "string", True),
    ]
    assert rows == [
        (4, 2, DT(2024, 10, 11, 22, 14, 15), "mymachine", "su", 230,
         "'su root' failed for lonvick on /dev/pts/8", 0, "t"),
        (1, 5, DT(2024, 1, 5, 9, 0, 1), "host-1", "cron", None, "job ran", 1, "t"),
        (1, 5, DT(2024, 2, 28, 23, 59, 59), "web-2", "nginx", 42, "GET / 200", 2, "t"),
        (1, 5, DT(2024, 3, 3, 1, 2, 3), "db", "postgres", None, "", 3, "t"),
        # malformed lines keep the default PRI and lose their text
        (1, 5, None, None, None, None, "", 4, "t"),
        (1, 5, None, None, None, None, "", 5, "t"),
        (1, 5, None, None, None, None, "", 6, "t"),
    ]


def test_5424_rows_and_schema(spark):
    schema, rows = _shape(syslog_parser_5424(_frame(spark, LINES_5424, "raw")))
    assert schema == [
        ("facility", "int", True), ("severity", "int", True), ("version", "int", True),
        ("ts", "timestamp", True), ("host", "string", True), ("program", "string", True),
        ("pid", "int", True), ("msgid", "string", True), ("sdata", "map<string,string>", True),
        ("message", "string", False), ("id", "int", True), ("tag", "string", True),
    ]
    assert rows == [
        (20, 5, 1, DT(2003, 10, 11, 22, 14, 15, 3000), "mymachine.example.com", "evntslog",
         111, "ID47",
         {"exampleSDID@32473.iut": "3", "exampleSDID@32473.eventSource": "Application",
          "origin.ip": "10.0.0.1"},
         "An application event log entry", 0, "t"),
        (1, 5, 1, DT(2024, 1, 2, 3, 4, 5), "host", "app", None, None, {}, "plain message", 1, "t"),
        (1, 6, 1, DT(2024, 1, 2, 3, 4, 5), None, None, None, None, {}, "", 2, "t"),
        (1, 5, None, None, None, None, None, None, None, "", 3, "t"),
        (1, 5, None, None, None, None, None, None, None, "", 4, "t"),
    ]


def test_apache_rows_and_schema(spark):
    schema, rows = _shape(
        apache_accesslog_parser(_frame(spark, LINES_APACHE, "message"), "message"))
    assert schema == [("id", "int", True), ("message", "string", True), ("tag", "string", True)] + [
        ("apache_" + n, t, True) for n, t in [
            ("vhost", "string"), ("port", "int"), ("clientip", "string"), ("ident", "string"),
            ("auth", "string"), ("ts", "timestamp"), ("verb", "string"), ("request", "string"),
            ("httpversion", "string"), ("response", "int"), ("bytes", "bigint"),
            ("referrer", "string"), ("agent", "string"),
        ]
    ]
    stamp = DT(2000, 10, 10, 20, 55, 36)
    assert rows == [
        (0, LINES_APACHE[0], "t", "virtualhost", 443, "127.0.0.1", "-", "frank", stamp,
         "GET", "/apache_pb.gif", "1.0", 200, 2326, "http://www.example.com/start.html",
         "Mozilla/4.08"),
        (1, LINES_APACHE[1], "t", None, None, "127.0.0.1", "-", "frank", stamp,
         "GET", "/apache_pb.gif", "1.0", 200, None, None, None),
        (2, LINES_APACHE[2], "t") + (None,) * 13,
        # verb is the first token, request the second after one space,
        # httpversion a third and last one: '' where the token is absent
        (3, LINES_APACHE[3], "t", None, None, "10.0.0.1", "-", "-", stamp,
         "-", "", "", 408, None, None, None),
        (4, LINES_APACHE[4], "t", None, None, "10.0.0.1", "-", "-", stamp,
         "GET", "", "", 400, 0, None, None),
        (5, LINES_APACHE[5], "t", None, None, "10.0.0.1", "-", "-", stamp,
         "GET", "/a", "", 400, 0, None, None),
        (6, LINES_APACHE[6], "t", None, None, "10.0.0.1", "-", "-", stamp,
         "", "", "", 400, 0, None, None),
    ]


def test_cisco_rows_and_schema(spark):
    schema, rows = _shape(cisco_parser(_frame(spark, LINES_CISCO, "raw"), "raw"))
    assert schema == [("id", "int", True), ("raw", "string", True), ("tag", "string", True)] + [
        ("cisco_" + n, t, True) for n, t in [
            ("pri", "int"), ("facility_num", "int"), ("severity_num", "int"),
            ("seqno", "bigint"), ("ts", "timestamp"), ("facility", "string"),
            ("severity", "int"), ("mnemonic", "string"), ("message", "string"),
        ]
    ]
    assert rows == [
        (0, LINES_CISCO[0], "t", 189, 23, 5, 123, DT(1970, 3, 1, 18, 46, 11, 299000),
         "SYS", 5, "CONFIG_I", "Configured from console by vty2"),
        (1, LINES_CISCO[1], "t", None, None, None, None, None,
         "LINK", 3, "UPDOWN", "Interface FastEthernet0/1, changed state to down"),
        (2, LINES_CISCO[2], "t", 134, 16, 6, 456, DT(1970, 2, 14, 11, 22, 33),
         "FW-SESSION", 6, "SESS_AUDIT_TRAIL", "Start tcp session"),
        (3, LINES_CISCO[3], "t") + (None,) * 9,
    ]


def test_url_normalize_rows_and_schema(spark):
    schema, rows = _shape(
        url_normalize(_frame(spark, LINES_URL, "url"), host_target="url_host"))
    assert schema == [
        ("id", "int", True), ("url", "string", True), ("tag", "string", True),
        ("url_norm", "string", True), ("url_host", "string", True),
    ]
    assert rows == [
        (0, LINES_URL[0], "t", "https://www.example.com/Path?q=1", "www.example.com"),
        (1, LINES_URL[1], "t", "http://h.example.co.uk:8080/", "h.example.co.uk"),
        (2, LINES_URL[2], "t", None, None),
    ]
