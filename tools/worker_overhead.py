"""Per-task Python worker overhead probe: the fixed cost every Python hop
pays, with no real per-row work to hide it.

Usage::

    python tools/worker_overhead.py [--daemon MODULE]

Runs an identity pandas UDF over 240 rows split into 1 and into 8
partitions on ``local[<usable cores>]`` (one warm-up pass first, so no
run pays worker start-up or imports) and prints ONE JSON line: per
partition count, the median over 5 runs of the wall time and of the CPU
seconds spent by the JVM and by its Python workers. CPU is read from
``/proc/<pid>/stat``: the JVM's own utime+stime, and
utime+stime+cutime+cstime summed over every descendant process (the
daemon reaps its forked workers, so their CPU lands in its cutime).

``--daemon pyspark.daemon`` runs the same probe under PySpark's stock
worker daemon instead of the session's default, for an A/B in one tree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from dwp_hbase_to_mongo_export_spark.session import get_spark  # noqa: E402

ROWS = 240
REPS = 5
CPUS = len(os.sched_getaffinity(0))
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU-s, Python-worker CPU-s) consumed so far."""
    # fields after the comm: utime=11, stime=12, cutime=13, cstime=14
    jvm = _stat(jvm_pid)
    jvm_s = (int(jvm[11]) + int(jvm[12])) / _TICK if jvm else 0.0
    py_s = 0.0
    for pid in _descendants(jvm_pid):
        if (st := _stat(pid)) is not None:
            py_s += sum(int(v) for v in st[11:15]) / _TICK
    return jvm_s, py_s


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--daemon", help="spark.python.daemon.module override")
    args = ap.parse_args()

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.daemon:
        extra["spark.python.daemon.module"] = args.daemon
    spark = get_spark(app_name="worker_overhead", cpus=CPUS, extra_conf=extra)
    from pyspark import SparkContext
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def identity(s):
        return s

    def run(parts: int) -> int:
        df = spark.range(0, ROWS, 1, parts).select(identity("id").alias("id"))
        return df.agg(F.sum("id")).collect()[0][0]  # a count would prune the UDF

    jvm_pid = SparkContext._gateway.proc.pid
    daemon = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
    out = {"rows": ROWS, "cpus": CPUS, "daemon": daemon}
    try:
        for parts in (1, 8):
            run(parts)  # warm: daemon, worker pool, codegen
        for parts in (1, 8):
            samples = []
            for _ in range(REPS):
                jvm0, py0 = cpu_seconds(jvm_pid)
                t0 = time.perf_counter()
                assert run(parts) == ROWS * (ROWS - 1) // 2
                wall = time.perf_counter() - t0
                time.sleep(0.2)  # let finished workers be reaped into cutime
                jvm1, py1 = cpu_seconds(jvm_pid)
                samples.append((wall, jvm1 - jvm0, py1 - py0))
            out[f"p{parts}"] = {
                key: round(statistics.median(s[i] for s in samples), 3)
                for i, key in enumerate(("wall_s", "jvm_cpu_s", "python_cpu_s"))
            }
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
