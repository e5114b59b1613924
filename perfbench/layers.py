"""The traced run: one export layer by layer, then the catalog ledger.

Each layer's public function is called on the previous layer's
materialised (persisted) output and forced with `bench.bench_action`, the
repository's full-work action, under a job group named after the layer.
Wall time is the benchmark's own span around the call; jobs come from
`statusTracker`; tasks, executor run time, GC, shuffle bytes and stage
busy time come from the uncompressed event log. A layer's driver gap is
its span minus the time at least one of its stages was running.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from types import SimpleNamespace

EXPORT_LAYERS = {  # job group -> wall-time metric
    "sources": "sources.scan_s",
    "envelope": "envelope.parse_s",
    "decryption": "decryption.decrypt_normalise_s",
    "sanitisation": "sanitisation.sanitise_s",
    "sinks.write": "sinks.write_s",
    "sinks.read": "sinks.read_s",
}
GROUP_STATS = ("jobs", "tasks", "executor_run_s", "gc_s", "driver_gap_s")
SHORT_GROUP = "catalog_short"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from catalog import HEAVY

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "sources.scan_s": "s",
        "sources.input_partitions": "count",
        "sources.rows_out": "count",
        "sources.rows_read_per_row_out": "rows/row",
        "envelope.parse_s": "s",
        "envelope.records_quarantined": "count",
        "decryption.decrypt_normalise_s": "s",
        "decryption.records_failed": "count",
        "sanitisation.sanitise_s": "s",
        "sinks.write_s": "s",
        "sinks.files_written": "count",
        "sinks.bytes_written": "bytes",
        "sinks.read_s": "s",
        "orchestration.overhead_s": "s",
    }
    stat_units = {"jobs": "count", "tasks": "count", "executor_run_s": "s", "gc_s": "s", "driver_gap_s": "s"}
    for group in EXPORT_LAYERS:
        for stat in GROUP_STATS:
            units[f"{group}.{stat}"] = stat_units[stat]
    for q in HEAVY:
        units.update({f"catalog.{q}.s": "s", f"catalog.{q}.jobs": "count",
                      f"catalog.{q}.shuffle_bytes": "bytes", f"catalog.{q}.driver_gap_s": "s"})
    for stat in ("jobs", "tasks", "executor_run_s", "driver_gap_s"):
        units[f"{SHORT_GROUP}.{stat}"] = stat_units[stat]
    units.update({
        "catalog_heavy_s": "s",
        "catalog_short_s": "s",
        "spark.unattributed_jobs": "count",
        "tracing.overhead_s": "s",
    })
    return units


class Spans:
    """Wall-clock spans per job group, set on the calling thread."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.jobs: dict[str, int] = {}

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            return fn()
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.setdefault(group, []).append((t0 * 1000, t1 * 1000))

    def wall_s(self, group: str) -> float:
        return sum(e - s for s, e in self.spans.get(group, ())) / 1000

    def read_job_counts(self) -> None:
        tracker = self.sc.statusTracker()
        self.jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in self.spans}


def materialise(df):
    from bench import bench_action
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    bench_action(df).collect()
    return df


def sink_projection(good):
    """The snapshot sink's input columns, as pipeline.export_topic builds them."""
    from pyspark.sql import functions as F

    return good.select(
        "db_object",
        F.col("manifest_id").alias("id"),
        F.col("ts").alias("timestamp"),
        "db",
        "collection",
        F.lit("EXPORT").alias("source"),
        F.col("outer_type").alias("externalOuterSource"),
        F.col("manifest_original_id").alias("originalId"),
        F.col("inner_type").alias("externalInnerSource"),
    )


def rows_read(table_dir: str, ts_range, scan_width: int) -> int:
    """Rows in the row groups the source's key-range and ts filters cannot
    prune, summed over its key-range splits (from parquet statistics)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(table_dir, "cells.parquet")).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    kb, ts = names.index("key_byte"), names.index("ts")
    groups = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        k, t = rg.column(kb).statistics, rg.column(ts).statistics
        groups.append((k.min, k.max, t.min, t.max, rg.num_rows))
    total = 0
    for lo in range(0, 256, scan_width):
        hi = min(lo + scan_width, 256)
        for kmin, kmax, tmin, tmax, n in groups:
            if kmax < lo or kmin >= hi:
                continue
            if ts_range is not None and (tmax < ts_range[0] or tmin >= ts_range[1]):
                continue
            total += n
    return total


def untraced_export(spark, tmp, table_dir, ts_range, snapshot_type):
    """One export as the untraced run does it, with spans around
    run_topic_export's direct calls into the pipeline and the sink."""
    import run
    from dwp_hbase_to_mongo_export_spark import pipeline
    from dwp_hbase_to_mongo_export_spark.sinks import snapshot

    direct = [0.0]

    def timed(fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                direct[0] += time.perf_counter() - t0
        return wrapper

    originals = (pipeline.export_topic, snapshot.write_encrypted_snapshots)
    pipeline.export_topic = timed(originals[0])
    snapshot.write_encrypted_snapshots = timed(originals[1])
    try:
        op = run.export_op(spark, run.source_frame(spark, table_dir), table_dir,
                           os.path.join(tmp, "untraced"), ts_range, snapshot_type)
    finally:
        pipeline.export_topic, snapshot.write_encrypted_snapshots = originals
    return op, direct[0]


def traced_export(spark, spans: Spans, tmp, table_dir, ts_range, tally) -> dict:
    import cells
    import run
    from pyspark.sql import functions as F

    from dwp_hbase_to_mongo_export_spark.operators.decryption import decrypt_and_normalise, split_normalised
    from dwp_hbase_to_mongo_export_spark.operators.envelope import parse_envelope, split_valid
    from dwp_hbase_to_mongo_export_spark.operators.sanitisation import sanitise_column
    from dwp_hbase_to_mongo_export_spark.operators.transformation import apply_topic_transform
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import write_encrypted_snapshots

    out_dir = os.path.join(tmp, "traced")
    cells_df = run.source_frame(spark, table_dir)
    if ts_range is not None:
        cells_df = cells_df.filter((F.col("ts") >= ts_range[0]) & (F.col("ts") < ts_range[1]))
    partitions = cells_df.rdd.getNumPartitions()

    src = spans.run("sources", lambda: materialise(cells_df))
    parsed = spans.run("envelope", lambda: materialise(parse_envelope(src, cells.TOPIC)))
    valid, quarantined = split_valid(parsed)
    normalised = spans.run("decryption", lambda: materialise(decrypt_and_normalise(valid)))
    good, failed = split_normalised(normalised)

    def sanitise():
        out = good.withColumn("db_object", sanitise_column(F.col("db_object"), F.col("db"), F.col("collection")))
        return materialise(sink_projection(apply_topic_transform(out, cells.TOPIC)))

    sink = spans.run("sanitisation", sanitise)
    files = spans.run("sinks.write", lambda: write_encrypted_snapshots(sink, run.sink_config(out_dir)))
    files_back = spans.run("sinks.read", lambda: run.read_back(spark, out_dir))

    def counts():
        return src.count(), quarantined.count(), failed.count(), run.sink_frame_hash(sink)

    n_src, n_quarantined, n_failed, sink_hash = spans.run("perfbench.checks", counts)
    for df in (src, parsed, normalised, sink):
        df.unpersist()

    expected = cells.expected_counts(table_dir, *(ts_range or (None, None)))
    report = SimpleNamespace(
        metrics={"records_read": n_src, "records_valid": n_src - n_quarantined, "records_failed": n_failed},
        files=files,
    )
    tally.record("traced export", run.check_export(report, files_back, expected, out_dir))
    golden = (expected.written, expected.line_hash_sum)
    tally.record("traced sink frame hash", [] if sink_hash == golden else
                 [f"sink frame multiset {sink_hash} != golden {golden}"])
    read = rows_read(table_dir, ts_range, run.SCAN_WIDTH)
    return {
        "sources.input_partitions": partitions,
        "sources.rows_out": n_src,
        "sources.rows_read_per_row_out": read / n_src if n_src else 0.0,
        "envelope.records_quarantined": n_quarantined,
        "decryption.records_failed": n_failed,
        "sinks.files_written": len(files),
        "sinks.bytes_written": run.dir_bytes(out_dir),
    }


def traced_catalog(spark, spans: Spans, seed: int, sf_dir: str, tally) -> None:
    import catalog

    qs, gold = catalog.surfaces(), catalog.golden()
    rng = random.Random(seed)  # the seed only orders the queries
    heavy, short = list(catalog.HEAVY), list(catalog.SHORT)
    rng.shuffle(heavy)
    rng.shuffle(short)
    for q in heavy + short:
        group = f"catalog.{q}" if q in catalog.HEAVY else SHORT_GROUP
        try:
            v = spans.run(group, lambda: catalog.value(spark, qs[q], sf_dir))
        except Exception as e:  # one broken surface must not hide the others
            tally.record(q, [repr(e)])
            continue
        finally:
            spark.catalog.clearCache()
        tally.record(q, [] if v == gold[q] else [f"value {v} != golden {gold[q]}"])


def traced_run(spark, tmp, table_dir, seed, w, samples, tally) -> dict:
    import catalog
    import ledger
    import run

    sf_dir = catalog.laid_out(run.CACHE)
    ts_range, snapshot_type = next(run.op_inputs(seed, w))
    metrics: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
    metrics["session.start_s"] = statistics.median(s for s, _ in samples)
    metrics["session.warmup_s"] = statistics.median(wu for _, wu in samples)

    op, direct_s = untraced_export(spark, tmp, table_dir, ts_range, snapshot_type)
    tally.record("untraced export", op.problems)
    metrics["orchestration.overhead_s"] = op.export_s - direct_s

    spans = Spans(spark.sparkContext)
    lo_ms = time.time() * 1000
    try:
        metrics.update(traced_export(spark, spans, tmp, table_dir, ts_range, tally))
    except Exception as e:
        tally.record("traced export", [repr(e)])
    traced_s = sum(spans.wall_s(g) for g in EXPORT_LAYERS)
    metrics["tracing.overhead_s"] = traced_s - (op.export_s + op.read_s)
    traced_catalog(spark, spans, seed, sf_dir, tally)
    hi_ms = time.time() * 1000
    spans.read_job_counts()
    spark.stop()  # closes the event log

    log_dir = os.path.join(tmp, "eventlog")
    (log_name,) = os.listdir(log_dir)
    costs = ledger.parse(os.path.join(log_dir, log_name))

    def group_stats(group: str) -> dict[str, float]:
        g = costs.groups.get(group, ledger.GroupCost())
        busy = sum(g.stage_busy_ms(s, e) for s, e in spans.spans.get(group, ()))
        return {
            "jobs": spans.jobs.get(group, 0),
            "tasks": g.tasks,
            "executor_run_s": g.executor_run_ms / 1000,
            "gc_s": g.gc_ms / 1000,
            "shuffle_bytes": g.shuffle_bytes,
            "driver_gap_s": spans.wall_s(group) - busy / 1000,
            "s": spans.wall_s(group),
        }

    for group, wall_metric in EXPORT_LAYERS.items():
        stats = group_stats(group)
        metrics[wall_metric] = stats["s"]
        for stat in GROUP_STATS:
            metrics[f"{group}.{stat}"] = stats[stat]
    for q in catalog.HEAVY:
        stats = group_stats(f"catalog.{q}")
        for stat in ("s", "jobs", "shuffle_bytes", "driver_gap_s"):
            metrics[f"catalog.{q}.{stat}"] = stats[stat]
    short = group_stats(SHORT_GROUP)
    for stat in ("jobs", "tasks", "executor_run_s", "driver_gap_s"):
        metrics[f"{SHORT_GROUP}.{stat}"] = short[stat]
    metrics["catalog_heavy_s"] = sum(spans.wall_s(f"catalog.{q}") for q in catalog.HEAVY)
    metrics["catalog_short_s"] = spans.wall_s(SHORT_GROUP)
    metrics["spark.unattributed_jobs"] = costs.unattributed_jobs(lo_ms, hi_ms)
    units = per_layer_units()
    return {k: (v, units[k]) for k, v in metrics.items()}
