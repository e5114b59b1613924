"""The durable-store protocol (operators/storeproto.py), checked once
over all six stores that share it.

* **one marker-parse rule** — an unparseable ``_append-pending`` is
  corrupt state that no store may guess at: recovery refuses it,
  advising rebuild, even when a committed ids record sits next to it.
* **swap remnants** — a relation stranded mid-swap next to a live
  marker is restored before recovery recomputes it.
* **crash injection** — every filesystem mutation an append makes
  (marker, ids record, each store write, each swap rename/delete, the
  last-append stamp, the commit) is made to raise in turn. After each
  crash the store either refuses readers (live marker) or is already
  consistent; recovery never raises and returns it to the exact
  pre-append content (or, past the commit point, the committed one);
  and re-appending the same batch id ends identical to a never-crashed
  append.
"""

from __future__ import annotations

import builtins
import contextlib
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from dwp_hbase_to_mongo_export_spark.operators import (
    dedupindex,
    editindex,
    gramindex,
    similarity,
    storeproto,
    textindex,
)
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").cache()
    yield df
    df.unpersist()


def _save_ivf(emb, path):
    old = emb.filter(F.col("vec_id") < 40)
    cents = similarity._resolve_centroids(old, None, 10, None, "vec_id", "embedding")
    idx = similarity._nearest_centroids(old, cents, 1, "embedding", "cluster").select(
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    similarity.save_ivf_index(idx, cents, path)


def _save_pq(emb, path):
    codes, books = similarity.build_pq_index(
        emb.filter(F.col("vec_id") < 40), m=4, k_codes=4, iters=1, persist=False
    )
    similarity.save_pq_index(codes, books, path)


def _new_docs(d, e):
    return d.filter(F.col("doc_id").between(40, 59))


def _new_vecs(d, e):
    return e.filter(F.col("vec_id").between(40, 59))


# store -> (spec, build(docs, emb, path), the appended batch(docs, emb))
STORES = {
    "text": (
        textindex.SPEC,
        lambda d, e, p: textindex.build_text_index(d.filter(F.col("doc_id") < 40), p),
        _new_docs,
    ),
    "dedup": (
        dedupindex.SPEC,
        lambda d, e, p: dedupindex.build_dedup_index(
            d.filter(F.col("doc_id") < 40), p, n_perm=4, rows_per_band=2
        ),
        _new_docs,
    ),
    "ivf": (similarity.IVF_SPEC, lambda d, e, p: _save_ivf(e, p), _new_vecs),
    "pq": (similarity.PQ_SPEC, lambda d, e, p: _save_pq(e, p), _new_vecs),
    "gram": (
        gramindex.SPEC,
        lambda d, e, p: gramindex.build_gram_index(d.filter(F.col("doc_id") < 40), p, n=4),
        _new_docs,
    ),
    "edit": (
        editindex.SPEC,
        lambda d, e, p: editindex.build_edit_index(
            d.filter(F.col("doc_id") < 40), p, k=4, q=4
        ),
        _new_docs,
    ),
}


def _hashable(v):
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    return v


def _content(spark, path, spec) -> dict:
    """Row-level content of every relation (sorted, so file layout does
    not matter) plus the protocol state a reader can observe."""
    out = {}
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if d.startswith(("_", ".")) or not os.path.isdir(full):
            continue
        assert ".swap-" not in d and ".purge-staging" not in d, d
        rows = spark.read.parquet(full).collect()
        out[d] = sorted((_hashable(tuple(r)) for r in rows), key=repr)
    out["_last_append"] = storeproto.read_last_append(path)
    out["_marker"] = os.path.exists(os.path.join(path, storeproto._PENDING))
    out["_ids"] = os.path.isdir(os.path.join(path, spec.ids_record))
    return out


class _Crash(RuntimeError):
    pass


@contextlib.contextmanager
def _mutations(root: str, crash_at: int | None = None):
    """Count the filesystem mutations made under ``root`` — Spark parquet
    writes, renames, deletes and file writes — and raise before the
    ``crash_at``-th one."""
    count = [0]
    root = root.rstrip("/") + "/"

    def guard(target) -> None:
        if str(target).startswith(root):
            count[0] += 1
            if count[0] == crash_at:
                raise _Crash(f"crash before mutation {crash_at}: {target}")

    real_rename, real_replace, real_remove = os.rename, os.replace, os.remove
    real_rmtree, real_open = shutil.rmtree, builtins.open
    real_parquet = DataFrameWriter.parquet

    def rename(src, dst, *a, **k):
        guard(src)
        return real_rename(src, dst, *a, **k)

    def replace(src, dst, *a, **k):
        guard(src)
        return real_replace(src, dst, *a, **k)

    def remove(p, *a, **k):
        guard(p)
        return real_remove(p, *a, **k)

    def rmtree(p, *a, **k):
        guard(p)
        return real_rmtree(p, *a, **k)

    def open_(file, mode="r", *a, **k):
        if any(c in mode for c in "wax+"):
            guard(file)
        return real_open(file, mode, *a, **k)

    def parquet(self, path, *a, **k):
        guard(path)
        return real_parquet(self, path, *a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", rename)
        mp.setattr(os, "replace", replace)
        mp.setattr(os, "remove", remove)
        mp.setattr(shutil, "rmtree", rmtree)
        mp.setattr(builtins, "open", open_)
        mp.setattr(DataFrameWriter, "parquet", parquet)
        yield count


@pytest.mark.parametrize("store", sorted(STORES))
def test_unreadable_marker_refuses_even_with_committed_ids_record(
    spark, docs, emb, tmp_path, store
):
    spec, build, batch = STORES[store]
    path = str(tmp_path / store)
    build(docs, emb, path)
    storeproto.stage_torn_append(spec, batch(docs, emb), path)
    with open(os.path.join(path, storeproto._PENDING), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="unreadable.*rebuild"):
        storeproto.recover(spec, spark, path)
    assert os.path.exists(os.path.join(path, storeproto._PENDING))
    assert os.path.isdir(os.path.join(path, spec.ids_record))


def test_torn_append_with_relation_stranded_mid_swap_recovers(
    spark, docs, emb, tmp_path
):
    """A crash between the two renames of an append's whole-relation
    swap leaves only ``stats.swap-old`` next to the live marker; the
    recovery must restore the relation before it recomputes it."""
    spec, build, batch = STORES["text"]
    path = str(tmp_path / "text")
    build(docs, emb, path)
    pre = _content(spark, path, spec)
    storeproto.stage_torn_append(spec, batch(docs, emb), path)
    stats = os.path.join(path, "stats")
    os.rename(stats, stats + ".swap-old")
    res = storeproto.recover(spec, spark, path)
    assert res["recovered"] and res["leaves_purged"]["postings"] > 0
    assert _content(spark, path, spec) == pre


@pytest.mark.slow
@pytest.mark.parametrize("store", sorted(STORES))
def test_crash_at_every_append_mutation_recovers(spark, docs, emb, tmp_path, store):
    spec, build, batch = STORES[store]
    delta = batch(docs, emb)
    pristine = str(tmp_path / "pristine")
    build(docs, emb, pristine)
    pre = _content(spark, pristine, spec)

    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    with _mutations(clean) as n:
        assert storeproto.append(spec, delta, clean, "b1")["committed"]
    post = _content(spark, clean, spec)
    assert post != pre and n[0] >= 5

    for k in range(1, n[0] + 1):
        work = str(tmp_path / f"crash{k}")
        shutil.copytree(pristine, work)
        with _mutations(work, crash_at=k), pytest.raises(_Crash):
            storeproto.append(spec, delta, work, "b1")
        torn = os.path.exists(os.path.join(work, storeproto._PENDING))
        if torn:
            with pytest.raises(ValueError, match="pending"):
                storeproto.check_markers(spec, work)
        storeproto.recover(spec, spark, work)
        recovered = _content(spark, work, spec)
        # a live marker means the append never committed: back to the
        # exact pre-append store; otherwise the crash was before the
        # marker or after the commit point
        assert recovered == pre if torn else recovered in (pre, post), k
        storeproto.append(spec, delta, work, "b1")
        assert _content(spark, work, spec) == post, k
        shutil.rmtree(work)
