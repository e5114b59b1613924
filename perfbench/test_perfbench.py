"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

They run the real entry point in-process on tiny cell tables; the catalog
surfaces are replaced by one cheap query each, so the traced run's
plumbing (job groups, event log, every per-layer name) is exercised
without the minute the real catalog takes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import cells  # noqa: E402
import run  # noqa: E402


@pytest.fixture
def tiny(monkeypatch):
    def tiny_workloads():
        shape = dict(ts_span_ms=run.SLICES * 60_000, malformed=3, undecryptable=3,
                     audit_share=0.1, max_fields=5)
        return {
            "export_full": run.Workload(cells.Shape(keys=150, versions=1, **shape), incremental=False),
            "export_incremental": run.Workload(cells.Shape(keys=150, versions=4, **shape), incremental=True),
        }

    def cheap(spark, sf_dir):
        return spark.range(3)

    def cheap_golden():
        from pyspark.sql import SparkSession

        v = catalog.value(SparkSession.getActiveSession(), cheap, "")
        return dict.fromkeys(catalog.HEAVY + catalog.SHORT, v)

    monkeypatch.setattr(run, "workloads", tiny_workloads)
    monkeypatch.setattr(catalog, "surfaces", lambda: dict.fromkeys(catalog.HEAVY + catalog.SHORT, cheap))
    monkeypatch.setattr(catalog, "golden", cheap_golden)


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _main(capsys, *argv) -> tuple[int, dict]:
    rc = run.main(list(argv))
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return rc, res


@pytest.mark.parametrize(
    "workload,trace",
    [("export_full", 0), ("export_incremental", 0), ("export_incremental", 1)],
)
def test_every_metric_printed_with_its_unit(tiny, capsys, workload, trace):
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == ["export_full", "export_incremental"]
    rc, res = _main(capsys, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert (rc, res["correct"], res["failed"]) == (0, True, 0)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_one_corrupt_byte_trips_the_read_back_gate(tiny, monkeypatch, capsys):
    read_back = run.read_back

    def corrupt_then_read(spark, out_dir):
        if os.path.basename(out_dir) != "out":  # leave the set-up's warm-up export alone
            return read_back(spark, out_dir)
        name = sorted(n for n in os.listdir(out_dir) if n.endswith(".enc"))[0]
        path = os.path.join(out_dir, name)
        with open(path, "r+b") as f:
            f.seek(os.path.getsize(path) // 2)
            b = f.read(1)
            f.seek(-1, os.SEEK_CUR)
            f.write(bytes([b[0] ^ 0x01]))
        return read_back(spark, out_dir)

    monkeypatch.setattr(run, "read_back", corrupt_then_read)
    rc, res = _main(capsys, "--workload", "export_full", "--seed", "3", "--seconds", "0", "--trace", "0")
    assert rc == 1
    assert res["correct"] is False and res["failed"] >= 1
