"""Export-engine benchmark: seeded full and incremental topic exports.

Run from the repository root (it builds nothing; it needs the package and
`bench.py` next to this directory):

    python3 perfbench/run.py --workload export_full --seed 1 --seconds 25 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* export_full: repeated full-snapshot exports of one seeded cell table
  through `orchestration.run_topic_export`, each read back with
  `sinks.snapshot.read_encrypted_snapshots`.
* export_incremental: a sequence of `snapshot_type="incremental"` exports
  of 1% time slices of a multi-version cell table, each read back.

Both are a closed loop: one driver thread issues one export at a time on
`local[nproc]`. `--trace 0` measures the end-to-end metrics; `--trace 1`
runs one untraced export, then the same export layer by layer with a job
group per layer, then the analytics-catalog ledger (catalog.py), and
folds the Spark event log into per-layer metrics.

Every export is checked against the generator's expected counts and
golden line hash, and every snapshot file against its manifest and the
size bound. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics; the exit code is 1 if any check
failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")

SETUPS = 2
# 8 key-range splits over the 256 first-byte values: two per core on the
# 4-core reference machine. The source's default (5) plans 52 splits, and
# a 1% slice then costs ~14 s of per-task overhead on 4 cores.
SCAN_WIDTH = 32
MAX_BATCH_BYTES = 1 << 20
SLICES = 100


@dataclass(frozen=True)
class Workload:
    shape: object  # cells.Shape
    incremental: bool


def workloads():
    from cells import Shape

    return {
        "export_full": Workload(
            Shape(keys=10000, versions=1, ts_span_ms=86_400_000, malformed=24,
                  undecryptable=24, audit_share=0.05, max_fields=16),
            incremental=False,
        ),
        "export_incremental": Workload(
            Shape(keys=6000, versions=4, ts_span_ms=SLICES * 3_600_000, malformed=40,
                  undecryptable=40, audit_share=0.05, max_fields=6),
            incremental=True,
        ),
    }


def warmup_workload(w: Workload) -> Workload:
    """A fixed 500-cell table of the workload's document shape, so the
    warm-up export runs the same per-record paths as the measured ones."""
    from cells import Shape

    s = w.shape
    small = Shape(keys=500 // s.versions, versions=s.versions, ts_span_ms=s.ts_span_ms, malformed=3,
                  undecryptable=3, audit_share=s.audit_share, max_fields=s.max_fields)
    return Workload(small, w.incremental)


# ---------------------------------------------------------------- machine fit


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: the session default
    (24g) exceeds small machines, and other processes share this one."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def prepare_env(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher too) keeps its temp files and no perf data in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers unpickle UDFs that reference the package by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(tmp: str, event_log: bool):
    from dwp_hbase_to_mongo_export_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        # zstd is Spark 4's default event-log codec and zstandard is absent
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
        })
    spark = get_spark(app_name="perfbench", cpus=nproc(), extra_conf=conf)
    from dwp_hbase_to_mongo_export_spark.sources import hbase_cells_source

    hbase_cells_source.register(spark)
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of the JVM and its Python workers, sampled from
    /proc every 50 ms on a background thread."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(tree(self.jvm_pid)))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM and every
    Python worker it started to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    pids = [p for p in tree(proc.pid) if p != proc.pid]
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    pids = wait_gone(pids, 15)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    wait_gone(pids, 5)


def wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Poll until every pid has left /proc or `seconds` pass; the pids
    still there."""
    deadline = time.monotonic() + seconds
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    return pids


# ------------------------------------------------------------------ exports


def sink_config(out_dir: str):
    import cells
    from dwp_hbase_to_mongo_export_spark.functions.crypto import LocalKeyService
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import SnapshotSinkConfig, key_range_naming

    return SnapshotSinkConfig(
        output_dir=out_dir,
        topic=cells.TOPIC,
        max_batch_bytes=MAX_BATCH_BYTES,
        compression="gz",
        data_key_b64=cells.DATA_KEY_B64,
        encrypted_data_key_b64=LocalKeyService().encrypt_data_key(cells.KEK_ID, cells.DATA_KEY_B64),
        kek_id=cells.KEK_ID,
        partition_ranges=key_range_naming(SCAN_WIDTH),
    )


def source_frame(spark, table_dir: str):
    from dwp_hbase_to_mongo_export_spark.sources.hbase_cells_source import SOURCE_NAME

    return (
        spark.read.format(SOURCE_NAME)
        .option("path", os.path.join(table_dir, "cells.parquet"))
        .option("scan_width", SCAN_WIDTH)
        .load()
    )


def line_hash_col(col: str):
    """Spark form of cells.line_hash."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.sha2(F.col(col), 256), 1, 15), 16, 10).cast("decimal(20,0)")


def read_back(spark, out_dir: str) -> dict[str, tuple[int, int, int]]:
    """object_key -> (records, line-hash sum, uncompressed bytes), decoded by
    the consumer-side reader in one full-work pass."""
    import cells
    from pyspark.sql import functions as F

    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import read_encrypted_snapshots

    back = read_encrypted_snapshots(spark, out_dir, cells.DATA_KEY_B64)
    rows = back.groupBy("object_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(line_hash_col("db_object")).alias("h"),
        F.sum(F.octet_length("db_object") + 1).alias("b"),
    ).collect()
    return {r.object_key: (r.n, int(r.h), r.b) for r in rows}


def dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


@dataclass
class Op:
    export_s: float
    read_s: float
    written: int
    bytes_normalised: int
    stored_bytes: int
    problems: list[str]


def check_export(report, files_back, expected, out_dir: str) -> list[str]:
    """Correctness gates for one export and its read-back."""
    problems = []
    m = report.metrics
    got = (m.get("records_read"), m.get("records_valid"), m.get("records_failed"))
    want = (expected.read, expected.valid, expected.failed)
    if got != want:
        problems.append(f"counters read/valid/failed {got} != expected {want}")
    written = sum(f.records_in_batch for f in report.files)
    if written != expected.written:
        problems.append(f"{written} records written, expected {expected.written}")
    back_n = sum(n for n, _, _ in files_back.values())
    back_h = sum(h for _, h, _ in files_back.values())
    if (back_n, back_h) != (expected.written, expected.line_hash_sum):
        problems.append(f"read-back multiset ({back_n}, {back_h}) != golden "
                        f"({expected.written}, {expected.line_hash_sum})")
    for f in report.files:
        n, _, nbytes = files_back.get(f.object_key, (0, 0, 0))
        if n != f.records_in_batch or nbytes != f.batch_size_bytes:
            problems.append(f"{f.object_key}: read back {n} records/{nbytes} B, "
                            f"sink reported {f.records_in_batch}/{f.batch_size_bytes}")
        if nbytes > MAX_BATCH_BYTES:
            problems.append(f"{f.object_key}: {nbytes} B uncompressed > {MAX_BATCH_BYTES}")
        with open(os.path.join(out_dir, f.manifest_key), encoding="utf-8") as mf:
            lines = sum(1 for _ in mf)
        if lines != f.records_in_batch:
            problems.append(f"{f.manifest_key}: {lines} manifest lines, {f.records_in_batch} records")
    if len(files_back) != len(report.files):
        problems.append(f"{len(files_back)} files read back, {len(report.files)} written")
    return problems


def export_op(spark, df, table_dir: str, out_dir: str, ts_range, snapshot_type: str) -> Op:
    """One timed export of `df` (the source frame over table_dir) and its
    timed read-back, then the correctness gates."""
    import cells
    from dwp_hbase_to_mongo_export_spark.orchestration import ExportStatusService, run_topic_export

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    report = run_topic_export(
        df, cells.TOPIC, sink_config(out_dir), ExportStatusService(correlation_id="perfbench"),
        snapshot_type=snapshot_type, scan_time_range=ts_range,
    )
    t1 = time.perf_counter()
    files_back = read_back(spark, out_dir)
    t2 = time.perf_counter()
    expected = cells.expected_counts(table_dir, *(ts_range or (None, None)))
    problems = check_export(report, files_back, expected, out_dir)
    return Op(t1 - t0, t2 - t1, expected.written, report.metrics.get("bytes_normalised") or 0,
              dir_bytes(out_dir), problems)


def sink_frame_hash(frame) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = frame.agg(F.count(F.lit(1)).alias("n"), F.sum(line_hash_col("db_object")).alias("h")).collect()[0]
    return r.n, int(r.h or 0)


def slice_ranges(seed: int, w: Workload):
    """Endless sequence of (ts_lo, ts_hi) slices, from a seed-chosen start."""
    import cells

    width = w.shape.ts_span_ms // SLICES
    i = random.Random(seed).randrange(SLICES)
    while True:
        lo = cells.TS_START + (i % SLICES) * width
        yield lo, lo + width
        i += 1


def op_inputs(seed: int, w: Workload):
    """Endless sequence of (ts_range, snapshot_type) for the workload."""
    if w.incremental:
        for r in slice_ranges(seed, w):
            yield r, "incremental"
    while True:
        yield None, "full"


# -------------------------------------------------------------------- run


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def setup(tmp: str, w: Workload, count: int, event_log_last: bool):
    """Start and warm a session `count` times; keep the last one. Returns the
    session and the (start_s, warmup_s) of each setup. The first start also
    launches the JVM."""
    import cells

    warm = warmup_workload(w)
    warm_dir = cells.ensure(CACHE, 0, warm.shape)
    samples, spark = [], None
    for i in range(count):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(tmp, event_log=event_log_last and i == count - 1)
        t1 = time.perf_counter()
        ts_range, snapshot_type = next(op_inputs(0, warm))
        export_op(spark, source_frame(spark, warm_dir), warm_dir, os.path.join(tmp, "warmup"),
                  ts_range, snapshot_type)
        samples.append((t1 - t0, time.perf_counter() - t1))
    return spark, samples


def measure(spark, tmp: str, table_dir: str, seed: int, w: Workload, seconds: float, tally: Tally) -> dict:
    """The closed loop: exports back to back for `seconds` (at least one)."""
    ops: list[Op] = []
    out_dir = os.path.join(tmp, "out")
    inputs = op_inputs(seed, w)
    df = source_frame(spark, table_dir)
    with RssSampler(jvm_process().pid) as rss:
        t_end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < t_end:
            ts_range, snapshot_type = next(inputs)
            try:
                op = export_op(spark, df, table_dir, out_dir, ts_range, snapshot_type)
            except Exception as e:  # a failed export is counted, not fatal
                tally.record(f"export {ts_range}", [repr(e)])
                if tally.failed >= 3:  # broken, not flaky: stop retrying
                    break
                continue
            ops.append(op)
            tally.record(f"export {ts_range}", op.problems)
    if not ops:
        return {}
    times = sorted(o.export_s for o in ops)
    print(f"perfbench: export/read-back seconds {[(round(o.export_s, 2), round(o.read_s, 2)) for o in ops]}; "
          f"export_tail_s is the p90 by nearest rank over these n={len(ops)}", file=sys.stderr)
    return {
        "export_records_per_s": (statistics.median(o.written / o.export_s for o in ops), "records/s"),
        "stored_bytes_per_input_byte": (sum(o.stored_bytes for o in ops) / sum(o.bytes_normalised for o in ops), "B/B"),
        "export_p50_s": (statistics.median(times), "s"),
        "export_tail_s": (times[math.ceil(0.9 * len(times)) - 1], "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }


def run(args) -> tuple[dict, Tally]:
    import cells

    w = workloads()[args.workload]
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    prepare_env(tmp)
    tally = Tally()
    spark = None
    try:
        # no package, no run: fail here, before any process is started
        import dwp_hbase_to_mongo_export_spark  # noqa: F401

        table_dir = cells.ensure(CACHE, args.seed, w.shape)
        # the traced run sets up once: the catalog ledger needs its time
        spark, samples = setup(tmp, w, 1 if args.trace else SETUPS, event_log_last=bool(args.trace))
        if args.trace:
            import layers

            metrics = layers.traced_run(spark, tmp, table_dir, args.seed, w, samples, tally)
        else:
            metrics = measure(spark, tmp, table_dir, args.seed, w, args.seconds, tally)
            metrics["setup_s"] = (statistics.median(s + wu for s, wu in samples), "s")
            print(f"perfbench: setups {samples}", file=sys.stderr)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return metrics, tally


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["export_full", "export_incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    metrics, tally = run(args)
    for line in tally.problems:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    correct = tally.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
