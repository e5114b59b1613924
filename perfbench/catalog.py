"""Analytics-catalog surfaces that the traced run puts in the ledger.

Two halves, run at sf0.01 on the 8-file re-layout of the repository's
read-only test tables (`data/sf0.01`, copied into the benchmark so a run
reads nothing outside its checkout):

* HEAVY: the dedup/search families whose job counts dominate the catalog;
* SHORT: sub-second surfaces whose cost is fixed per query (TPC-H and the
  export reference operators).

Each surface is forced with `bench.bench_action`, the repository's
full-work action, and its value must equal the golden value recorded in
`catalog_golden.json` (the same action on the same tables).
"""

from __future__ import annotations

import json
import os
import shutil

HEAVY = (
    "dedup_edit_clusters",
    "dedup_minhash_lsh",
    "dedup_clusters_alternating",
    "ann_recall_report",
    "winnowing_overlap",
    "dedup_incremental_indexed",
    "pagerank_entities",
)
SHORT = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q13_order_distribution",
    "q18_large_orders",
    "latest_per_key",
    "time_range_scan",
    "envelope_extract",
    "validation_quarantine",
    "manifest_projection",
    "date_canonicalise",
    "dedup_exact",
    "sanitise_strings",
    "key_range_partition_stats",
    "business_audit_lift",
    "id_reverse_engineer",
    "db_collection_fallback",
    "equality_wrap",
)

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
GOLDEN_PATH = os.path.join(HERE, "catalog_golden.json")


def surfaces() -> dict:
    """name -> query function, from the gated catalog plus bench-only entries."""
    import __spark_entry__
    from dwp_hbase_to_mongo_export_spark.queries import BENCH_ONLY

    qs = dict(__spark_entry__.queries())
    qs.update(BENCH_ONLY)
    return {n: qs[n] for n in HEAVY + SHORT}


def golden() -> dict[str, int]:
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)["values"]


def laid_out(cache_root: str) -> str:
    """The 8-file re-layout of DATA_DIR, built once under cache_root."""
    from dwp_hbase_to_mongo_export_spark.sources.rechunk import multifile_copy

    return multifile_copy(DATA_DIR, out_root=os.path.join(cache_root, "catalog"))


def value(spark, fn, sf_dir: str) -> int:
    from bench import bench_action

    return bench_action(fn(spark, sf_dir)).collect()[0][0]


def record_golden() -> None:
    """Rewrite catalog_golden.json from the current engine. Run by hand
    only when a surface's output is meant to change:
    python3 perfbench/catalog.py"""
    import run

    tmp = os.path.join(run.WORK, f"tmp-{os.getpid()}")
    run.prepare_env(tmp)
    spark = run.start_session(tmp, event_log=False)
    try:
        sf_dir = laid_out(run.CACHE)
        values = {n: value(spark, fn, sf_dir) for n, fn in surfaces().items()}
    finally:
        run.shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        json.dump({"action": "bench.bench_action", "tables": "data/sf0.01, 8-file re-layout",
                   "values": values}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    record_golden()
