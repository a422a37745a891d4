"""The two workloads. Each has `prepare` (write the seeded inputs; runs
before the set-up clock starts) and `run` (warm up, measure, check;
returns a Result).

A message's latency runs from the time it was due to the time its
output was written: on logpath_batch from the pass start to the pass's
return, on daemon_tail from its scheduled drop into the tailed
directory to the mtime of the destination file that holds it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from corpus import Corpus, conf_text, parse_ids, write_batch_corpus, write_tail_files
from probes import Jvm, py_cpu_s
from spans import Tracer, instrument

# logpath_batch: messages per pass (8 input files). Warm-up runs at
# least BATCH_WARM_MIN passes and then stops at the first pass whose JIT
# compile time is under BATCH_WARM_JIT_SHARE of its wall, or once it has
# taken BATCH_WARM_MAX_S.
BATCH_MESSAGES = 60_000
BATCH_SHARDS = 8
BATCH_WARM_MIN = 6
BATCH_WARM_JIT_SHARE = 0.5
BATCH_WARM_MAX_S = 13.0
BATCH_MIN_PASSES = 6
# daemon_tail: open loop, RATE files/s of PER_FILE messages each.
TAIL_RATE = 4.0
TAIL_PER_FILE = 1250
# warm-up: batch passes over TAIL_WARM_MESSAGES, then a short tail
TAIL_WARM_MESSAGES = 60_000
TAIL_WARM_PASSES = 2
TAIL_WARM_FILES = 16
DRAIN_LIMIT_S = 60.0
SAMPLE_LINES = 200


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a sorted list."""
    return values[min(len(values) - 1, int(q * len(values)))]


def read_output(out_dir: str) -> list[tuple[float, list[str]]]:
    """(mtime, lines) of every part file a destination wrote."""
    files = []
    for path in sorted(glob.glob(os.path.join(out_dir, "**", "part-*"), recursive=True)):
        with open(path) as f:
            files.append((os.path.getmtime(path), f.read().splitlines()))
    return files


def check_delivery(files, kept: set[int], dropped: set[int], res: Result) -> None:
    """Every kept message exactly once, no dropped one; each miss,
    duplicate or leak counts as one failed operation."""
    seen: dict[int, int] = {}
    for _, lines in files:
        for line in lines:
            mid, _ = parse_ids(line)
            seen[mid] = seen.get(mid, 0) + 1
    missing = sum(1 for m in kept if m not in seen)
    dups = sum(n - 1 for m, n in seen.items() if n > 1)
    leaked = sum(1 for m in seen if m in dropped)
    res.attempted += len(kept) + len(dropped)
    res.failed += missing + dups + leaked
    if missing or dups or leaked:
        res.problems.append(f"delivery: {missing} missing, {dups} duplicated, "
                            f"{leaked} filtered messages written")
    lines = [ln for _, ls in files for ln in ls]
    step = max(1, len(lines) // SAMPLE_LINES)
    bad = [ln for ln in lines[::step] if "secret=***" not in ln or "secret=tok" in ln]
    res.failed += len(bad)
    if bad:
        res.problems.append(f"mask: {len(bad)} sampled lines not masked, e.g. {bad[0]!r}")


def check_kv(df, res: Result) -> None:
    """The kv-parser's map holds each sampled message's own id and code."""
    from pyspark.sql import functions as F

    rows = df.select(F.col("`.kv`").alias("kv"), "message").limit(SAMPLE_LINES).collect()
    bad = 0
    for r in rows:
        want_id = r.message.split(" id=", 1)[1].split(" ", 1)[0]
        want_code = r.message.rsplit("code=", 1)[1]
        if r.kv is None or r.kv.get("id") != want_id or r.kv.get("code") != want_code:
            bad += 1
    res.attempted += len(rows)
    res.failed += bad + (0 if rows else 1)
    if bad or not rows:
        res.problems.append(f"kv: {bad} of {len(rows)} sampled maps wrong")


def _epoch(iso: str) -> float:
    """Seconds since the epoch of a progress event's UTC timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def cpu_now(jvm: Jvm) -> float:
    return py_cpu_s() + jvm.cpu_s()


def batch_pass(spark, src: str, out: str):
    """One pass of the log path over the files in `src`: parse, compile,
    build and run. Returns the frame of each log path."""
    from syslog_ng_spark import config

    conf = config.parse_conf(conf_text(os.path.join(src, "*.log"), out))
    return [config.run_pipeline(spark, spec) for spec in config.compile_conf(conf)]


# ---------------------------------------------------------------------------
# logpath_batch
# ---------------------------------------------------------------------------


class LogpathBatch:
    def __init__(self, work: str, seed: int):
        self.corpus = Corpus(seed)
        self.src = os.path.join(work, "in")
        self.out = os.path.join(work, "out")

    def prepare(self) -> None:
        write_batch_corpus(self.corpus, self.src, BATCH_MESSAGES, BATCH_SHARDS)

    def run(self, spark, seconds: float, traced: bool) -> Result:
        jvm = Jvm(spark)
        res = Result()
        t, warm = time.perf_counter(), 0
        while True:
            jit0, t0 = jvm.jit_ms(), time.perf_counter()
            batch_pass(spark, self.src, self.out)
            warm += 1
            quiet = jvm.jit_ms() - jit0 < BATCH_WARM_JIT_SHARE * (time.perf_counter() - t0) * 1000
            if warm >= BATCH_WARM_MIN and (quiet or time.perf_counter() - t > BATCH_WARM_MAX_S):
                break
        res.layers["warmup_s"] = time.perf_counter() - t
        res.layers["warmup_passes"] = warm

        tracer = Tracer()
        walls: dict[bool, list[float]] = {False: [], True: []}  # by traced
        cpus = []
        roots = []
        t_end = time.perf_counter() + seconds
        k = 0
        while k < BATCH_MIN_PASSES or time.perf_counter() < t_end:
            # a traced run alternates plain and traced passes, so the
            # tracing overhead is measured inside the run
            trace_this = traced and k % 2 == 1
            tracer.group = f"p{k}"
            cpu0 = cpu_now(jvm)
            t0 = time.perf_counter()
            if trace_this:
                with instrument(tracer, spark), tracer.span("pass") as root:
                    frames = batch_pass(spark, self.src, self.out)
                roots.append((root, f"{tracer.group}.exec"))
            else:
                frames = batch_pass(spark, self.src, self.out)
            walls[trace_this].append(time.perf_counter() - t0)
            cpus.append(cpu_now(jvm) - cpu0)
            k += 1
        spark.sparkContext.setJobGroup("check", "check")

        # every message of a pass is due at its start and complete when
        # the pass returns, so each pass is one latency value shared by
        # all its messages
        pass_walls = sorted(walls[False] + walls[True])
        e2e = {
            "msgs_per_s": BATCH_MESSAGES / statistics.median(pass_walls),
            "msgs_per_cpu_s": BATCH_MESSAGES / statistics.median(cpus),
            "latency_p50_ms": percentile(pass_walls, 0.5) * 1000,
            "latency_p90_ms": percentile(pass_walls, 0.9) * 1000,
        }
        if traced:
            res.layers["trace.overhead_pct"] = (
                statistics.median(walls[True]) / statistics.median(walls[False]) - 1) * 100
            self._layers(res, tracer, roots, jvm)
        else:
            res.e2e.update(e2e)
        res.layers["passes"] = len(pass_walls)
        res.layers["pass_walls_s"] = [round(w, 4) for w in walls[False] + walls[True]]

        check_delivery(read_output(self.out), self.corpus.kept_ids,
                       self.corpus.dropped_ids, res)
        check_kv(frames[0], res)
        return res

    def _layers(self, res: Result, tracer: Tracer, roots: list[tuple[int, str]],
                jvm: Jvm) -> None:
        names = {"conflang.parse": "conflang.parse_s",
                 "confcompile.compile": "confcompile.compile_s",
                 "config.build": "config.build_s", "sinks.build": "sinks.build_s",
                 "catalyst.plan": "catalyst.plan_s", "exec": "exec.wall_s"}
        per_pass: dict[str, list[float]] = {v: [] for v in names.values()}
        unattributed = []
        for root, _ in roots:
            st = tracer.self_times(root)
            span = tracer.spans[root]
            unattributed.append(st.get("pass", 0.0) / (span.end - span.start) * 100)
            for k, v in names.items():
                per_pass[v].append(st.get(k, 0.0))
        for v, xs in per_pass.items():
            res.layers[v] = statistics.median(xs)
        res.layers["trace.unattributed_pct"] = max(unattributed)
        exec_totals: dict[str, list[float]] = {}
        for _, group in roots:
            for k, v in jvm.stage_totals(group).items():
                exec_totals.setdefault(k, []).append(v)
        for k, xs in exec_totals.items():
            res.layers[f"exec.{k}"] = statistics.median(xs)


# ---------------------------------------------------------------------------
# daemon_tail
# ---------------------------------------------------------------------------


class DaemonTail:
    def __init__(self, work: str, seed: int, seconds: float):
        self.work = work
        self.corpus = Corpus(seed)
        self.files = max(1, round(TAIL_RATE * seconds))

    def _dirs(self, tag: str) -> dict[str, str]:
        return {k: os.path.join(self.work, f"{tag}_{k}")
                for k in ("stage", "watch", "out", "ckpt")}

    def prepare(self) -> None:
        warm = Corpus(self.corpus.rng.randrange(1 << 30))
        write_batch_corpus(warm, os.path.join(self.work, "warm_batch"),
                           TAIL_WARM_MESSAGES, BATCH_SHARDS)
        write_tail_files(warm, self._dirs("warm")["stage"], TAIL_WARM_FILES,
                         TAIL_PER_FILE, TAIL_RATE)
        write_tail_files(self.corpus, self._dirs("run")["stage"], self.files,
                         TAIL_PER_FILE, TAIL_RATE)

    def _tail(self, spark, tag: str, n_files: int, jvm: Jvm, traced: bool = False) -> dict:
        """Start the daemon on an empty directory, drop the staged files
        into it on schedule, wait until every message is committed."""
        from syslog_ng_spark import config

        d = self._dirs(tag)
        os.makedirs(d["watch"], exist_ok=True)
        total_rows = n_files * TAIL_PER_FILE
        queries = config.run_conf_stream(
            spark, conf_text(os.path.join(d["watch"], "*.log"), d["out"]), d["ckpt"])
        q = queries[0]
        try:
            deadline = time.monotonic() + DRAIN_LIMIT_S
            while q.lastProgress is None:  # first (empty) trigger done
                if time.monotonic() > deadline:
                    raise RuntimeError("daemon never started a trigger")
                time.sleep(0.02)
            cpu0, jit0 = cpu_now(jvm), jvm.jit_ms()
            t0_wall = time.time()
            t0 = time.perf_counter()
            late = 0.0
            for k in range(n_files):
                due = k / TAIL_RATE
                wait = due - (time.perf_counter() - t0)
                if wait > 0:
                    time.sleep(wait)
                late = max(late, time.perf_counter() - t0 - due)
                name = f"f{k:05d}.log"
                os.rename(os.path.join(d["stage"], name), os.path.join(d["watch"], name))
            backlog, trace_s = 0, 0.0
            if traced:
                t = time.perf_counter()
                backlog = n_files - self._logged_files(d["ckpt"])
                trace_s = time.perf_counter() - t
            rows: dict[int, int] = {}
            polls = 0
            while sum(rows.values()) < total_rows:
                if time.monotonic() > deadline + n_files / TAIL_RATE:
                    raise RuntimeError(f"daemon drained {sum(rows.values())}/{total_rows} rows")
                time.sleep(0.05)
                polls += 1
                # the last progress is cheap to read; the full list only
                # now and then, for batches that ended between two polls
                for p in q.recentProgress if polls % 20 == 0 else [q.lastProgress]:
                    rows[p.batchId] = p.numInputRows
            cpu, jit = cpu_now(jvm) - cpu0, jvm.jit_ms() - jit0
            progress = list(q.recentProgress)
            run_id = str(q.runId)
        finally:
            for query in queries:
                query.stop()
        # the last batch's end, from its own progress event
        end_wall = max(_epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000
                       for p in progress)
        return {"t0_wall": t0_wall, "wall": end_wall - t0_wall, "late_ms": late * 1000,
                "backlog": backlog, "trace_s": trace_s, "cpu": cpu, "jit_ms": jit,
                "progress": progress, "run_id": run_id, "out": d["out"]}

    @staticmethod
    def _logged_files(ckpt: str) -> int:
        """Files the source has taken into a batch, from its checkpoint log."""
        paths = set()
        for log in glob.glob(os.path.join(ckpt, "*", "sources", "0", "*")):
            with open(log) as f:
                for line in f:
                    if line.startswith("{"):
                        paths.add(json.loads(line)["path"])
        return len(paths)

    def run(self, spark, seconds: float, traced: bool) -> Result:
        jvm = Jvm(spark)
        res = Result()
        # batch passes warm the per-row code fastest; the short tail then
        # warms the per-micro-batch path
        t = time.perf_counter()
        for _ in range(TAIL_WARM_PASSES):
            batch_pass(spark, os.path.join(self.work, "warm_batch"),
                       os.path.join(self.work, "warm_batch_out"))
        self._tail(spark, "warm", TAIL_WARM_FILES, jvm)
        res.layers["warmup_s"] = time.perf_counter() - t

        tracer = Tracer()
        if traced:
            with instrument(tracer, spark, per_pass=False), tracer.span("daemon"):
                r = self._tail(spark, "run", self.files, jvm, traced=True)
        else:
            r = self._tail(spark, "run", self.files, jvm)
        cpu = r["cpu"]
        sent = self.files * TAIL_PER_FILE

        files = read_output(r["out"])
        lat = []
        for mtime, lines in files:
            for line in lines:
                _, due = parse_ids(line)
                lat.append((mtime - r["t0_wall"]) * 1000 - due)
        lat.sort()
        # the generator offers a fixed rate, so messages over the window
        # would read that rate back; rows per second of non-empty
        # trigger time is the rate the daemon itself sustains
        busy = [p for p in r["progress"] if p.numInputRows > 0]
        busy_s = sum(p.durationMs.get("triggerExecution", 0) for p in busy) / 1000
        e2e = {
            "msgs_per_s": sum(p.numInputRows for p in busy) / busy_s,
            "msgs_per_cpu_s": sent / cpu,
            "latency_p50_ms": percentile(lat, 0.5) if lat else float("nan"),
            "latency_p90_ms": percentile(lat, 0.9) if lat else float("nan"),
        }
        res.layers["latency.samples"] = len(lat)
        res.layers["window_jit_ms"] = r["jit_ms"]
        prog = r["progress"]
        res.layers["stream.batches"] = len(prog)
        if traced:
            self._layers(res, tracer, r, jvm)
        else:
            res.e2e.update(e2e)
        check_delivery(files, self.corpus.kept_ids, self.corpus.dropped_ids, res)
        return res

    def _layers(self, res: Result, tracer: Tracer, r: dict, jvm: Jvm) -> None:
        prog = [p for p in r["progress"] if p.numInputRows > 0]
        keys = {"latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
                "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
                "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
                "triggerExecution": "trigger_ms"}
        for k, v in keys.items():
            res.layers[f"stream.{v}"] = (
                statistics.mean(p.durationMs.get(k, 0) for p in prog) if prog else 0.0)
        n = len(r["progress"])
        res.layers["stream.rows_per_batch"] = (
            statistics.mean(p.numInputRows for p in prog) if prog else 0.0)
        res.layers["stream.empty_batch_ratio"] = (n - len(prog)) / n if n else 0.0
        res.layers["stream.backlog_files_at_window_end"] = r["backlog"]
        res.layers["gen.late_max_ms"] = r["late_ms"]
        trig = sum(p.durationMs.get("triggerExecution", 0) for p in prog)
        parts = sum(p.durationMs.get(k, 0) for p in prog for k in keys if k != "triggerExecution")
        res.layers["trace.unattributed_pct"] = (1 - parts / trig) * 100 if trig else 0.0
        st = {}
        for span in tracer.spans:
            st[span.name] = st.get(span.name, 0.0) + span.end - span.start
        res.layers["conflang.parse_s"] = st.get("conflang.parse", 0.0)
        res.layers["confcompile.compile_s"] = st.get("confcompile.compile", 0.0)
        res.layers["exec.wall_s"] = r["wall"]
        for k, v in jvm.stage_totals(r["run_id"]).items():
            res.layers[f"exec.{k}"] = v
        res.layers["trace.overhead_pct"] = r["trace_s"] / r["wall"] * 100


def make(name: str, work: str, seed: int, seconds: float):
    if name == "logpath_batch":
        return LogpathBatch(work, seed)
    if name == "daemon_tail":
        return DaemonTail(work, seed, seconds)
    raise ValueError(name)


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
