"""Benchmark entry point.

    python3 perfbench/run.py --workload logpath_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Writes the seeded inputs under
.perfbench_work/ and syncs them, starts the session, warms up,
measures for --seconds, checks the outputs, stops the JVM and removes
its files. `setup_s` is the median of SETUP_SAMPLES session starts: the
run's own, and before it the rest, each in a fresh process that stops
its session. The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer one (--trace 1). The line before it records host contention
and details (never used to rescale or drop a run). Exits 1 when an
output check fails, 2 when the program under test is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("logpath_batch", "daemon_tail")
SETUP_SAMPLES = 2


def program_present() -> bool:
    sys.path.insert(1, str(ROOT))
    return all(importlib.util.find_spec(m) is not None
               for m in ("pyspark", "syslog_ng_spark"))


def set_env(work: Path) -> None:
    """Keep every file Spark and the JVM write inside the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        print("perfbench: pyspark or the syslog_ng_spark package is missing; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import probes
    import session_start
    import workloads

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    workloads.clean(str(work))
    set_env(work)
    host = {"loadavg_start": os.getloadavg()[0], "cpu_probe_ms": probes.cpu_probe_ms(),
            "cpus": cpus}
    steal0 = probes.steal_s()
    spark = None
    phases = {}

    def phase(name):
        phases[name] = time.perf_counter() - T_START - sum(phases.values())

    try:
        wl = workloads.make(args.workload, str(work), args.seed, args.seconds)
        wl.prepare()
        os.sync()
        phase("prepare")

        samples = [session_start.sample_fresh(cpus) for _ in range(SETUP_SAMPLES - 1)]
        spark, start_s, first_job_s = session_start.start(cpus)
        samples.append((start_s, first_job_s))
        phase("session")

        res = wl.run(spark, args.seconds, bool(args.trace))
        phase("workload")

        jvm = probes.Jvm(spark)
        layers = {
            "session.start_s": statistics.median(s for s, _ in samples),
            "session.first_job_s": statistics.median(j for _, j in samples),
            "jvm.cpu_s": jvm.cpu_s(), "py.cpu_s": probes.py_cpu_s(),
            "jvm.jit_ms": jvm.jit_ms(), "jvm.gc_ms": jvm.gc_ms(),
        }
        e2e = {"setup_s": statistics.median(s + j for s, j in samples),
               "peak_rss_mb": probes.vm_hwm_mb(jvm.pid) + probes.py_max_rss_mb()}
    finally:
        if spark is not None:
            session_start.stop(spark)
        workloads.clean(str(work))
        phase("stop")
    host["steal_s"] = probes.steal_s() - steal0
    layers.update({f"host.{k}": host[k] for k in ("steal_s", "loadavg_start", "cpu_probe_ms")})
    layers.update(res.layers)
    e2e.update(res.e2e)

    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = res.failed == 0 and not res.problems
    print(json.dumps({"host": host, "phases_s": phases,
                      "problems": res.problems,
                      "details": {k: v for k, v in layers.items() if k not in metrics}}))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
