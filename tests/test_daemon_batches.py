"""What a daemon micro-batch computes and how it is written.

`run_conf_stream` projects each log path's stream to the columns its
destinations read, so a parser whose output no destination reads is
pruned from the micro-batch plan, as it is from the batch plan. The
daemon writes its checkpoint logs through Hadoop's FileSystem API when
the checkpoint is local, appends a local file() destination from the
driver with a template compiled once, and the queries of one conf
write a shared file-family destination one micro-batch at a time.
"""
from __future__ import annotations

import os
from pathlib import Path

import pytest

from syslog_ng_spark import config
from syslog_ng_spark.config import run_conf, run_conf_stream
from syslog_ng_spark.sources.streaming import CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER


def _lines(out) -> list[str]:
    return sorted(line for part in Path(out).glob("part-*")
                  for line in part.read_text().splitlines())


def _drain(spark, conf: str, ck) -> list:
    queries = run_conf_stream(spark, conf, str(ck), available_now=True)
    for q in queries:
        # raises the query's own error when a micro-batch failed
        assert q.awaitTermination(120), "the daemon did not drain in 120 s"
    return queries


def _write(path, lines) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n")


_KV_LINES = [f"<14>Jan  5 03:04:0{i} h app[7]: req id={i} code=20{i}" for i in range(4)]


@pytest.mark.parametrize("template, kv_in_plan", [
    ("$ISODATE $HOST $MSG", False),
    ("${.kv.id} $MSG", True),
])
def test_micro_batch_plan_computes_only_what_destinations_read(
        spark, tmp_path, template, kv_in_plan):
    """The kv-parser's lambdas run in the micro-batch only when a
    destination reads the `.kv` map."""
    _write(tmp_path / "in" / "a.log", _KV_LINES)
    out = tmp_path / "out"
    (q,) = _drain(spark, f"""
source s {{ file("{tmp_path}/in/*.log"); }};
parser p {{ kv-parser(prefix(".kv.")); }};
destination d {{ file("{out}" template("{template}\\n")); }};
log {{ source(s); parser(p); destination(d); }};
""", tmp_path / "ck")
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert ("lambdafunction" in plan) is kv_in_plan
    assert ".kv" in plan if kv_in_plan else ".kv" not in plan
    want = ([f"{i} req id={i} code=20{i}" for i in range(4)] if kv_in_plan else
            [f"2024-01-05T03:04:0{i}+00:00 h req id={i} code=20{i}" for i in range(4)])
    assert _lines(out) == want


def test_batch_and_daemon_write_the_same_rows_with_pruned_columns(
        spark, tmp_path, monkeypatch):
    """One conf in both modes: a projected path whose destination reads
    `${.kv.id}` and `$SEQNUM`, and a whole-row path with a suppress()
    file destination and a parquet destination (no conf driver writes
    parquet, so the compiled spec gains one)."""
    _write(tmp_path / "in" / "a.log", [
        *_KV_LINES,
        "<14>Jan  5 03:04:05 h app[7]: disk full",
        "<14>Jan  5 03:04:06 h app[7]: disk full",
        "<14>Jan  5 03:04:07 h app[7]: disk full",
        "<14>Jan  5 03:04:08 h app[7]: id=9 done",
    ])
    compile_conf = config.compile_conf

    def with_parquet(*args, **kwargs):
        pipelines = compile_conf(*args, **kwargs)
        kv_path = pipelines[0]["destinations"][0]["path"]  # .../{mode}_kv
        pipelines[1]["destinations"].append(
            {"kind": "parquet", "path": kv_path.removesuffix("kv") + "parquet"})
        return pipelines

    monkeypatch.setattr(config, "compile_conf", with_parquet)

    def conf(mode):
        return f"""
source s {{ file("{tmp_path}/in/*.log"); }};
parser p {{ kv-parser(prefix(".kv.")); }};
destination d_kv {{ file("{tmp_path}/{mode}_kv" template("$SEQNUM|${{.kv.id}}|$MSG\\n")); }};
destination d_sup {{ file("{tmp_path}/{mode}_sup" template("$PROGRAM $MSG\\n") suppress(30)); }};
log {{ source(s); parser(p); destination(d_kv); }};
log {{ source(s); destination(d_sup); }};
"""

    run_conf(spark, conf("batch"))
    _drain(spark, conf("daemon"), tmp_path / "ck")
    for name in ("kv", "sup"):
        assert _lines(tmp_path / f"batch_{name}") == _lines(tmp_path / f"daemon_{name}")
    assert _lines(tmp_path / "daemon_kv")[:3] == [
        "1|0|req id=0 code=200", "2|1|req id=1 code=201", "3|2|req id=2 code=202"]
    assert [line.split(", ")[0] for line in _lines(tmp_path / "daemon_sup")][:2] == [
        "app Last message 'disk full' repeated 2 times", "app disk full"]

    def rows(out):
        frame = spark.read.parquet(str(out))
        return frame.columns, sorted(map(str, frame.collect()))

    assert rows(tmp_path / "batch_parquet") == rows(tmp_path / "daemon_parquet")


def test_daemon_checkpoints_through_the_file_system(spark, tmp_path):
    """The daemon's session writes a local checkpoint with the
    FileSystem manager, keeps the `.crc` checksums, leaves the caller's
    session alone, and a restart over the checkpoint resumes where the
    last run stopped."""
    before = spark.conf.get(CHECKPOINT_MANAGER, None)
    src, out, ck = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    conf = f"""
source s {{ file("{src}/*.log" flags(no-parse)); }};
destination d {{ file("{out}" template("$MSG\\n")); }};
log {{ source(s); destination(d); }};
"""
    _write(src / "a.log", ["a1", "a2"])
    (q,) = _drain(spark, conf, ck)
    query = q._jsq.streamingQuery()
    assert query.sparkSession().conf().get(CHECKPOINT_MANAGER) == FS_CHECKPOINT_MANAGER
    for log in (query.offsetLog(), query.commitLog()):
        assert log.fileManager().getClass().getName() == FS_CHECKPOINT_MANAGER
    assert spark.conf.get(CHECKPOINT_MANAGER, None) == before
    assert os.path.exists(ck / "log_0" / "offsets" / ".0.crc")
    assert _lines(out) == ["a1", "a2"]

    _write(src / "b.log", ["b1"])
    _drain(spark, conf, ck)
    _drain(spark, conf, ck)
    assert _lines(out) == ["a1", "a2", "b1"]


def test_paths_sharing_a_destination_write_each_line_once(spark, tmp_path, monkeypatch):
    """Two log paths write the same two file() destinations and one
    parquet destination; their queries start back to back, so their
    micro-batches overlap. The driver names each text part file
    uniquely, and the parquet committer owns `_temporary` for one
    write at a time: no query fails and every line lands once per
    destination."""
    for s in ("s1", "s2"):
        for k in range(3):
            _write(tmp_path / s / f"f{k}.log", [f"{s}-{k}-{i}" for i in range(20)])
    compile_conf = config.compile_conf

    def with_parquet(*args, **kwargs):
        pipelines = compile_conf(*args, **kwargs)
        for p in pipelines:
            p["destinations"].append({"kind": "parquet", "path": str(tmp_path / "out3")})
        return pipelines

    monkeypatch.setattr(config, "compile_conf", with_parquet)
    conf = f"""
source s1 {{ file("{tmp_path}/s1/*.log" flags(no-parse)); }};
source s2 {{ file("{tmp_path}/s2/*.log" flags(no-parse)); }};
destination d1 {{ file("{tmp_path}/out1" template("$MESSAGE\\n")); }};
destination d2 {{ file("{tmp_path}/out2" template("$MESSAGE\\n")); }};
log {{ source(s1); destination(d1); destination(d2); }};
log {{ source(s2); destination(d1); destination(d2); }};
"""
    _drain(spark, conf, tmp_path / "ck")
    want = sorted(f"{s}-{k}-{i}" for s in ("s1", "s2") for k in range(3) for i in range(20))
    assert _lines(tmp_path / "out1") == want
    assert _lines(tmp_path / "out2") == want
    assert sorted(r.raw for r in spark.read.parquet(str(tmp_path / "out3")).collect()) == want


def test_daemon_appends_local_text_destinations_from_the_driver(spark, tmp_path):
    """A local file() destination gets one part file per micro-batch,
    written by the driver: no `_temporary`, `_SUCCESS` or `.crc` files,
    and a restart appends where the last run stopped."""
    src, out = tmp_path / "in", tmp_path / "out"
    conf = f"""
source s {{ file("{src}/*.log" flags(no-parse)); }};
destination d {{ file("{out}" template("$MSG\\n")); }};
log {{ source(s); destination(d); }};
"""
    _write(src / "a.log", ["a1", "a2"])
    _drain(spark, conf, tmp_path / "ck")
    _write(src / "b.log", ["b1"])
    _drain(spark, conf, tmp_path / "ck")
    names = sorted(os.listdir(out))
    assert len(names) == 2 and all(n.startswith("part-") for n in names), names
    assert _lines(out) == ["a1", "a2", "b1"]


def test_append_text_on_driver_writes_one_whole_file(spark, tmp_path):
    """Every partition's lines, in order, land in one part file; a
    null renders as an empty line, a `file:` URI names the same
    directory, and an empty frame writes nothing."""
    from syslog_ng_spark.sinks import append_text_on_driver

    df = spark.range(0, 7, numPartitions=3).selectExpr(
        "IF(id = 3, NULL, concat('line ', id)) AS raw")
    assert append_text_on_driver(df, f"file://{tmp_path}/out") == 7
    (name,) = os.listdir(tmp_path / "out")
    assert (tmp_path / "out" / name).read_text() == (
        "line 0\nline 1\nline 2\n\nline 4\nline 5\nline 6\n")
    assert append_text_on_driver(df.limit(0), str(tmp_path / "out")) == 0
    assert os.listdir(tmp_path / "out") == [name]


def test_destination_compiles_its_template_once_per_schema(spark, tmp_path, monkeypatch):
    """A writer that keeps `compiled` across calls (the daemon, across
    micro-batches) compiles a destination's template once per frame
    schema."""
    from syslog_ng_spark import template

    calls = []
    compile_template = template.compile_template

    def counting(*args, **kwargs):
        calls.append(args[0])
        return compile_template(*args, **kwargs)

    monkeypatch.setattr(template, "compile_template", counting)
    spec = {"kind": "text", "path": str(tmp_path / "out"), "template": "$MSG\n",
            "mode": "append"}
    compiled = {}
    for k in range(3):
        df = spark.createDataFrame([(f"m{k}",)], "message string")
        config._destination(df, spec, compiled=compiled)
    config._destination(spark.createDataFrame([("m", 1)], "message string, n int"),
                        spec, compiled=compiled)
    assert calls == ["$MSG", "$MSG"]
    assert _lines(tmp_path / "out") == ["m", "m0", "m1", "m2"]
