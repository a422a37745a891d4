"""One cold session start, the thing `setup_s` measures: from importing
the package until the session is up and one trivial job has run.

    python3 perfbench/session_start.py CPUS

takes one sample in a fresh process, stops the session and prints
`[start_s, first_job_s]`."""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def start(cpus: int):
    """Start the package's session. Returns (spark, start_s, first_job_s)."""
    t0 = time.perf_counter()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from syslog_ng_spark.session import get_session

    spark = get_session("perfbench", str(cpus))
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def sample_fresh(cpus: int) -> tuple[float, float]:
    """(start_s, first_job_s) of a session started and stopped in a
    fresh interpreter; returns once that process has exited."""
    proc = subprocess.run([sys.executable, __file__, str(cpus)], capture_output=True,
                          text=True, timeout=120, check=True)
    start_s, first_job_s = json.loads(proc.stdout.strip().splitlines()[-1])
    return start_s, first_job_s


if __name__ == "__main__":
    spark, start_s, first_job_s = start(int(sys.argv[1]))
    stop(spark)
    print(json.dumps([start_s, first_job_s]))
