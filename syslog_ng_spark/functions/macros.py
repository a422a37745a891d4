"""Message macros.

Reference: lib/template/macros.c — $DATE $ISODATE $FULLDATE $YEAR
$MONTH $DAY $HOUR $MIN $SEC $WEEK $WEEK_DAY $UNIXTIME $STAMP
$FACILITY $SEVERITY $PRI $MSGHDR etc. All date macros are JVM
``date_format`` calls; name tables live in datamodel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from syslog_ng_spark.datamodel import facility_name, pri, severity_name  # noqa: F401


def isodate(ts: Column) -> Column:
    """$ISODATE — ISO8601 with the session time zone's offset as +HH:MM,
    like macros.c (`xxx`: UTC renders +00:00, where Java's XXX would
    yield 'Z')."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ssxxx")


def tzoffset(ts: Column) -> Column:
    """$TZOFFSET / $TZ — the session time zone's offset at `ts`, +HH:MM."""
    return F.date_format(ts, "xxx")


def fulldate(ts: Column) -> Column:
    return F.date_format(ts, "yyyy MMM dd HH:mm:ss")


def date(ts: Column) -> Column:
    """$DATE — BSD timestamp 'MMM d HH:mm:ss' with space-padded day."""
    day = F.lpad(F.date_format(ts, "d"), 2, " ")
    return F.concat(F.date_format(ts, "MMM"), F.lit(" "), day, F.lit(" "), F.date_format(ts, "HH:mm:ss"))


def year(ts: Column) -> Column:
    return F.date_format(ts, "yyyy")


def month(ts: Column) -> Column:
    return F.date_format(ts, "MM")


def day(ts: Column) -> Column:
    return F.date_format(ts, "dd")


def hour(ts: Column) -> Column:
    return F.date_format(ts, "HH")


def minute(ts: Column) -> Column:
    return F.date_format(ts, "mm")


def sec(ts: Column) -> Column:
    return F.date_format(ts, "ss")


def week_day(ts: Column) -> Column:
    """1=Sunday..7=Saturday (macros.c M_WEEK_DAY)."""
    return F.dayofweek(ts)


def unixtime(ts: Column) -> Column:
    return F.unix_timestamp(ts)


def msghdr(program: Column, pid: Column) -> Column:
    """$MSGHDR — 'program[pid]: ' prefix."""
    return F.concat(program, F.lit("["), pid.cast("string"), F.lit("]: "))
