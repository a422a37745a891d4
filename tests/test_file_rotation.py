"""Daemon-mode file sources: rotation semantics, which files a glob
selects, where the daemon lists them, and wildcard-file(recursive).

Reference: modules/affile/file-reader.c follows a rotated file —
same-name recreate is detected by inode change and the reader reopens
at offset 0, so `logrotate` with `create` mode loses nothing.

Spark's FileStreamSource has no inode concept: it tracks SEEN files by
PATH in the checkpointed file log (`FileStreamSource.seenFiles`), so a
same-name recreate is "already processed" and its NEW content is
silently skipped. The supported rotation recipe is therefore
move-out-of-glob + write NEW names (logrotate `dateext`, or any
writer that rolls to timestamped files): every live file is a new
path, the rotated file leaves the glob, and the checkpointed log
gives exactly-once per path. These tests pin BOTH behaviors so the
divergence is documented by executable fact, not prose alone.
"""
from __future__ import annotations

import glob as _glob
import os
from pathlib import Path

import pytest

from syslog_ng_spark.config import run_conf, run_conf_stream
from syslog_ng_spark.sources.streaming import LISTING_THRESHOLD, lists_locally


def _drain(spark, watch_glob, out, ck):
    from syslog_ng_spark.sources.streaming import file_stream

    q = (
        file_stream(spark, watch_glob)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(r.raw for r in spark.read.parquet(out).collect())


def test_dateext_rotation_zero_loss_zero_dup(spark, tmp_path):
    """The supported recipe: rotate by ROLLING TO NEW NAMES. Three
    micro-batch drains across two rolls: every line exactly once."""
    src = tmp_path / "logs"
    src.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    glob = str(src / "*.log")

    (src / "app-20240101.log").write_text("l1\nl2\n")
    assert _drain(spark, glob, out, ck) == ["l1", "l2"]

    # roll: previous file moves OUT of the glob, writer opens a new name
    os.rename(src / "app-20240101.log", src / "app-20240101.log.rotated")
    (src / "app-20240102.log").write_text("l3\nl4\n")
    assert _drain(spark, glob, out, ck) == ["l1", "l2", "l3", "l4"]

    # roll again + a third drain with nothing new: still no dup
    os.rename(src / "app-20240102.log", src / "app-20240102.log.rotated")
    (src / "app-20240103.log").write_text("l5\n")
    assert _drain(spark, glob, out, ck) == ["l1", "l2", "l3", "l4", "l5"]
    assert _drain(spark, glob, out, ck) == ["l1", "l2", "l3", "l4", "l5"]


def test_same_name_recreate_is_skipped_documented(spark, tmp_path):
    """The DIVERGENCE, pinned: a same-path recreate (logrotate
    `create` mode) is invisible to FileStreamSource's path-keyed seen
    log — its content is skipped, where the reference's inode check
    would reopen. If this test ever fails with the recreated content
    PRESENT, Spark changed semantics and the recipe docs must be
    revisited."""
    src = tmp_path / "logs"
    src.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    glob = str(src / "*.log")

    (src / "app.log").write_text("a1\n")
    assert _drain(spark, glob, out, ck) == ["a1"]

    # same-name recreate with new content
    os.remove(src / "app.log")
    (src / "app.log").write_text("a2\n")
    got = _drain(spark, glob, out, ck)
    assert got == ["a1"], (
        "same-path recreate was unexpectedly re-read; update the "
        "rotation recipe documentation"
    )


# ---------------------------------------------------------------------------
# file selection and listing: run_conf_stream lists local file sources
# on the driver, with the same selection as Spark's listing job
# ---------------------------------------------------------------------------


def _conf(source: str, out, template: str = "$MSG") -> str:
    return f"""
source s {{ {source}; }};
destination d {{ file("{out}" template("{template}\\n")); }};
log {{ source(s); destination(d); }};
"""


def _lines(out) -> list[str]:
    parts = _glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
    return sorted(line for part in parts for line in Path(part).read_text().splitlines())


def _daemon(spark, conf: str, ck) -> list:
    queries = run_conf_stream(spark, conf, str(ck), available_now=True)
    for q in queries:
        assert q.awaitTermination(120), "the daemon did not drain in 120 s"
    return queries


def _listing_jobs(spark, queries) -> int:
    """Jobs the queries ran that list leaf files (the status store keeps
    each job's group, the query's run id, and its description)."""
    groups = {str(q.runId) for q in queries}
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group, desc = job.jobGroup(), job.description()
        if (group.isDefined() and group.get() in groups and desc.isDefined()
                and desc.get().startswith("Listing leaf files")):
            n += 1
    return n


def _write(root, files: dict[str, str]) -> None:
    for rel, text in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text + "\n")


def test_daemon_lists_local_files_without_a_spark_job(spark, tmp_path):
    """40 matches are past Spark's 32-root threshold, where the listing
    would be a Spark job at every trigger; the daemon lists a local
    glob on the driver instead."""
    src = tmp_path / "logs"
    _write(src, {f"f{i:02d}.log": f"<13>Jan  5 03:04:05 h app: m{i:02d}" for i in range(40)})
    out = tmp_path / "out"
    queries = _daemon(spark, _conf(f'file("{src}/*.log")', out), tmp_path / "ck")
    assert _lines(out) == [f"m{i:02d}" for i in range(40)]
    assert _listing_jobs(spark, queries) == 0


# 34 top-level matches put the parallel listing in play, so the
# selection of the driver listing is compared with the job's
_SELECTION = {
    **{f"f{i:02d}.log": f"top{i:02d}" for i in range(34)},
    "notes.txt": "not matched",
    "sub/c.log": "non-matching directory",
    "x=1/d.log": "partition-like directory",
    "dir.log/inner.txt": "in a matching directory",
}
_SELECTED = sorted([f"top{i:02d}" for i in range(34)] + ["in a matching directory"])


def test_glob_selection_batch_and_daemon(spark, tmp_path):
    """The glob reads top-level matches and every file inside a
    directory whose name matches; it ignores other subdirectories, and
    an `x=1/` one does not crash the daemon."""
    src = tmp_path / "logs"
    _write(src, _SELECTION)
    source = f'file("{src}/*.log" flags(no-parse))'
    run_conf(spark, _conf(source, tmp_path / "batch"))
    _daemon(spark, _conf(source, tmp_path / "daemon"), tmp_path / "ck")
    assert _lines(tmp_path / "batch") == _SELECTED
    assert _lines(tmp_path / "daemon") == _SELECTED


def test_wildcard_file_recursive_reads_nested_matches(spark, tmp_path):
    """recursive(yes) matches filename-pattern in every subdirectory of
    base-dir (modules/affile wildcard-file), whatever the
    subdirectory's name, in batch and daemon mode alike."""
    base = tmp_path / "logs"
    _write(base, {"a.log": "top", "b.txt": "other name", "sub/c.log": "nested",
                  "sub/deeper/e.log": "deep", "x=1/d.log": "partition-like",
                  "sub/f.txt": "nested other name"})
    source = (f'wildcard-file(base-dir("{base}") filename-pattern("*.log") '
              "recursive(yes) flags(no-parse))")
    run_conf(spark, _conf(source, tmp_path / "batch"))
    _daemon(spark, _conf(source, tmp_path / "daemon"), tmp_path / "ck")
    expected = ["deep", "nested", "partition-like", "top"]
    assert _lines(tmp_path / "batch") == expected
    assert _lines(tmp_path / "daemon") == expected


def test_daemon_leaves_the_callers_session_alone(spark, tmp_path):
    """The daemon's own session carries the caller's runtime conf (a
    session time zone set at runtime reaches $ISODATE, which renders
    the wall clock and offset of the session time zone), and the
    listing threshold it raises stays out of the caller's session."""
    src = tmp_path / "logs"
    _write(src, {"a.log": "<13>1 2024-01-05T03:04:05Z h app - - - hello"})
    source = f'file("{src}/*.log" flags(syslog-protocol))'
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _daemon(spark, _conf(source, tmp_path / "out", "$ISODATE $MSG"), tmp_path / "ck")
        assert spark.conf.get(LISTING_THRESHOLD) == "32"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    (line,) = _lines(tmp_path / "out")
    assert line == "2024-01-04T22:04:05-05:00 hello"


@pytest.mark.parametrize("path, local", [
    ("/var/log/*.log", True),
    ("file:///var/log/*.log", True),
    ("s3a://bucket/logs/*.log", False),
    ("hdfs://namenode:8020/logs/*.log", False),
])
def test_lists_locally_by_qualified_scheme(spark, path, local):
    assert lists_locally(spark, path) is local
