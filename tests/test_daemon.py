"""The package's Python worker daemon (``dwp_hbase_to_mongo_export_spark.daemon``):
a worker's per-task ``importlib.invalidate_caches()`` skips the archives
that were on ``sys.path`` when the daemon started, and still re-reads
archives added later (``addPyFile`` zips)."""

from __future__ import annotations

import importlib
import os
import uuid
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from dwp_hbase_to_mongo_export_spark import daemon

REPO_ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_invalidate_caches_skips_only_startup_archives(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex
    early_a, early_b, late_a, late_b = (
        f"{n}_{tag}" for n in ("early_a", "early_b", "late_a", "late_b")
    )
    early, late = tmp_path / "early.zip", tmp_path / "late.zip"
    _write_zip(early, early_a)
    _write_zip(late, late_a)
    # the shim is undone at teardown, like sys.path
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.syspath_prepend(str(early))

    daemon.skip_startup_archive_rereads()
    startup = zipimport.zipimporter.invalidate_caches.startup_archives
    monkeypatch.syspath_prepend(str(late))
    importlib.import_module(early_a)  # one zipimporter per archive
    importlib.import_module(late_a)
    _write_zip(early, early_a, early_b)
    _write_zip(late, late_a, late_b)
    reread = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reread.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()

    assert str(early) in startup and str(late) not in startup
    # other archives this process imported from are not the test's concern
    assert [p for p in reread if p in (str(early), str(late))] == [str(late)]
    assert importlib.import_module(late_b).NAME == late_b
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(early_b)


def test_pandas_udf_runs_under_package_daemon(spark, tmp_path):
    """Workers fork from the package daemon with the shim installed, find
    the package from any driver cwd, and still import a module shipped
    with ``addPyFile`` after the session started."""
    worker_path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert str(REPO_ROOT) in worker_path.split(os.pathsep)
    name = f"shipped_{uuid.uuid4().hex}"
    shipped = tmp_path / f"{name}.zip"
    _write_zip(shipped, name)
    spark.sparkContext.addPyFile(str(shipped))

    @pandas_udf("string")
    def worker_facts(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        shim = zipimport.zipimporter.invalidate_caches
        startup = getattr(shim, "startup_archives", ())
        facts = "|".join(
            [
                sys.modules["__main__"].__spec__.name,
                str(any(a.endswith("pyspark.zip") for a in startup)),
                importlib.import_module(name).NAME,
            ]
        )
        return s.map(lambda _: facts)

    got = spark.range(0, 8, 1, 4).select(worker_facts("id").alias("f")).distinct()
    want = f"dwp_hbase_to_mongo_export_spark.daemon|True|{name}"
    assert [r.f for r in got.collect()] == [want]
