"""The durable-store commit protocol — ONE implementation shared by the
six append-only stores (text/BM25, dedup signature, edit screen, gram,
IVF postings, PQ codes). Each store declares itself as a ``StoreSpec``
(its relations, the meta scalars its marker records, and the hooks that
build its delta rows and meta); every step below lives here once.

The reference's exactly-once contract is "one run, one correlation id,
a status row that says whether it committed" (HBaseReader.kt:131-150,
DynamoDBExportStatusService.kt:33-121). A store append carries it as:

1. **Lock.** Every mutation (append, recovery, in-place rebuild) holds
   the store's ``_append.lock`` flock. Without it two appends are
   mutually destructive in a way no marker can fix: each one's
   entry-time recovery reads the other's live marker as torn and purges
   its in-flight rows. The lock file lives inside the store, so it
   travels with the artifact, and the OS releases it when the holder
   dies — a crashed append leaves its marker, never a wedged lock.
   Readers stay lock-free: a live marker already makes them refuse.
2. **Entry-time recovery** (step list under ``recover``) — so a torn
   earlier append can never be appended over.
3. **Batch-id gate.** A retry of the batch id in ``_last-append`` is an
   explicit no-op. A crash can always land between the commit point and
   the caller learning of it, so retries are inevitable, and a retry of
   a committed batch would double-write rows that recovery (correctly)
   refuses to touch. The sidecar is SINGLE-SLOT: a marker-bracketed
   store has at most one append in flight, and Structured Streaming
   replays at most the last uncommitted epoch against a durable
   checkpoint, so the retry that can occur is always against the last
   slot. Re-delivery of older batches (fresh checkpoint, source rewind)
   is a rebuild scenario and deliberately not absorbed.
4. **Empty-delta gate.** An empty batch writes nothing (it would only
   fragment the store) but still consumes its batch id.
5. **Marker** ``_append-pending``: ``protocol: 2``, the pre-append meta
   scalars the spec records, and the ``last_append`` slot. Readers
   refuse a marked store: its relations may disagree.
6. **Ids record** (``_pending-ids``, or ``_pending-docs`` for text):
   every key the batch adds, written BEFORE any store write, with
   Spark's ``_SUCCESS`` as the proof of record. Recovery purges exactly
   these keys, so it never needs the delta itself — a crashed append may
   already have landed rows, and a blind retry would double-write them
   (duplicates even evade governance's count-distinct checks).
7. **Store writes**: the delta's rows are appended, then the derived
   relations and meta are swapped in whole through ``_swap_write``.
8. **Last-append stamp**, atomic (temp + rename), inside the bracket.
9. **Commit**: marker removal IS the commit record, and it precedes the
   ids-record delete. A crash between the two leaves a marker-less ids
   record — inert, and cleared by the next entry-time recovery. The
   reverse order could leave a live marker whose purge record is gone,
   which recovery would read as "restore meta, skip the purge" and
   silently revert meta under committed rows.

A store that is wholly rewritten by a rebuild is bracketed by
``_build-pending`` instead (readers refuse; ``stored_fingerprint`` reads
"rebuild"): the overwrites land relation by relation, so a crash midway
would otherwise leave new rows under old, readable meta. A rebuild also
clears a superseded marker, ids record and ``_last-append`` — batch ids
committed against the old artifact must not no-op appends to the new.

``hllstore`` stays outside this protocol: its register MAX-merge is
idempotent, so a replayed append is harmless and needs no marker.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PENDING = "_append-pending"
_BUILD_PENDING = "_build-pending"
_LAST_APPEND = "_last-append"
_PENDING_IDS = "_pending-ids"
_PENDING_DOCS = "_pending-docs"
# recovery sentinel: a marker written before the batch-id protocol has
# no "last_append" key — the sidecar must then be left alone (it may
# hold a legitimately committed earlier batch id)
_UNKNOWN = "__no-last-append-recorded__"


def _fp(v) -> str:
    """Marker field parser for optional text (fingerprints): absent or
    null reads as the empty stamp."""
    return str(v or "")


def _name(v) -> str:
    """Marker field parser for a REQUIRED column name."""
    if not v:
        raise KeyError("column name")
    return str(v)


@dataclass(frozen=True)
class Relation:
    """One append-only data relation of a store.

    ``key`` is the store column the ids record's keys are purged from —
    a name, or ``key(spark, path, recorded)`` when the store decides its
    id column at build time. ``prefix`` is the Hive partition prefix
    (``"bucket="``); None marks a flat directory, purged by one swap.
    ``columns`` pins the data-file column order (default: the files'
    own); ``sorted_by_key`` re-sorts rewritten files by the key for
    stores whose reads prune row groups by min-max on it; ``prune``
    maps the ids record to the partition values the batch can touch
    (default: every leaf). ``fold`` is ``(dir, fn)``: a derived
    relation ``dir`` recomputed per purged leaf as ``fn(purged rows)``
    from the purge pass's own output."""

    dir: str
    prefix: str | None = None
    key: str | Callable[[SparkSession, str, dict], str] = "id"
    columns: tuple[str, ...] | None = None
    sorted_by_key: bool = False
    prune: Callable[[DataFrame], DataFrame] | None = None
    fold: tuple[str, Callable[[DataFrame], DataFrame]] | None = None


@dataclass
class Batch:
    """One append's store-specific work, returned by a spec's
    ``prepare(spark, path, delta, **opts)`` BEFORE any store write.

    ``recorded`` holds the pre-append values of the spec's marker
    scalars; ``ids`` is the purge record; ``write_rows(ids_record)``
    appends the batch's rows and returns the result extras;
    ``merge_meta(extras)`` lists the ``(dir, frame, partition column)``
    relations to swap in after the rows (derived relations first, meta
    last); ``release`` frees what ``prepare`` cached."""

    recorded: Mapping
    ids: DataFrame
    write_rows: Callable[[DataFrame], dict]
    merge_meta: Callable[[dict], list] | None = None
    release: Callable[[], None] | None = None


@dataclass(frozen=True)
class StoreSpec:
    """A durable store, declared. ``name`` keys the messages (``rebuild
    the <name> index``, ``recover_<name>_index_append``); ``recorded``
    maps each marker scalar to its parser; ``ids_col`` is the ids
    record's key column; ``restore_meta(spark, path, recorded)``
    rebuilds the pre-append meta row (None: the store has no mutable
    meta)."""

    name: str
    relations: tuple[Relation, ...]
    recorded: Mapping[str, Callable]
    prepare: Callable[..., Batch]
    ids_record: str = _PENDING_IDS
    ids_col: str = "id"
    restore_meta: Callable[[SparkSession, str, dict], DataFrame] | None = None


@contextlib.contextmanager
def _append_lock(path: str):
    """The store's exclusive mutation lock (protocol step 1)."""
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, "_append.lock"), os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def read_last_append(path: str) -> str | None:
    """The batch id of the last COMMITTED append at ``path`` (None when
    no batch-id-stamped append ever committed) — the store's
    idempotence record (protocol step 3)."""
    f = os.path.join(path, _LAST_APPEND)
    if not os.path.exists(f):
        return None
    with open(f, encoding="utf-8") as fh:
        try:
            return json.loads(fh.read()).get("batch_id")
        except ValueError:
            return None


def _write_last_append(path: str, batch_id: str) -> None:
    f = os.path.join(path, _LAST_APPEND)
    tmp = f + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"batch_id": batch_id}))
    os.replace(tmp, f)


def _restore_last_append(path: str, old) -> None:
    """Recovery-side sidecar restore from the marker's recorded value:
    None -> remove (no batch had ever committed), a string -> rewrite,
    the _UNKNOWN sentinel (pre-batch-id marker) -> leave untouched."""
    if old == _UNKNOWN:
        return
    f = os.path.join(path, _LAST_APPEND)
    if old is None:
        if os.path.exists(f):
            os.remove(f)
    else:
        _write_last_append(path, old)


# ---------------------------------------------------------------- swaps


def _recover_swap(target: str) -> None:
    """Entry-time recovery for a ``_swap_write`` target: a crash between
    the two swap renames strands the live relation in ``.swap-old``
    with no target — restore it; a backup alongside a surviving target
    is a completed swap whose cleanup died — drop it; staging remnants
    are always junk. Readers and writers of a swappable relation call
    this BEFORE touching it."""
    staging = target.rstrip("/") + ".swap-staging"
    backup = target.rstrip("/") + ".swap-old"
    if os.path.isdir(backup):
        if not os.path.isdir(target):
            os.rename(backup, target)
        else:
            shutil.rmtree(backup)
    if os.path.isdir(staging):
        shutil.rmtree(staging)


def _recover_swaps(parent: str) -> None:
    """``_recover_swap`` every relation under ``parent`` that a crashed
    swap left a remnant of. The pre-pass matters for listing: a
    relation stranded mid-swap exists only as ``<name>.swap-old``."""
    if not os.path.isdir(parent):
        return
    for d in sorted(os.listdir(parent)):
        if d.endswith((".swap-old", ".swap-staging")):
            _recover_swap(os.path.join(parent, d.rsplit(".swap-", 1)[0]))


def _recovered_leaves(parent: str, prefix: str) -> list[str]:
    """Leaf partition dirs of ``parent`` (``prefix``-style Hive names),
    AFTER recovering any swap remnants a crashed leaf rewrite left."""
    _recover_swaps(parent)
    if not os.path.isdir(parent):
        return []
    return sorted(
        d
        for d in os.listdir(parent)
        if d.startswith(prefix) and os.path.isdir(os.path.join(parent, d))
    )


def _swap_dir(staged: str, target: str) -> None:
    """Swap a fully-written ``staged`` dir into ``target``: backup-rename,
    stage-rename, backup-delete (``_recover_swap`` finishes a crash
    between the renames)."""
    backup = target.rstrip("/") + ".swap-old"
    os.rename(target, backup)
    os.rename(staged, target)
    shutil.rmtree(backup)


def _swap_write(df: DataFrame, target: str, partition_by: str | None = None) -> None:
    """Materialise ``df`` into a staging dir, then swap it in — safe even
    when ``df`` READS from ``target``, because the staging write
    completes before the swap; a crash before the swap leaves the
    original untouched."""
    staging = target.rstrip("/") + ".swap-staging"
    _recover_swap(target)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(staging)
    _swap_dir(staging, target)


def _put(df: DataFrame, target: str) -> None:
    """Swap ``df`` in over ``target``, or write it when absent."""
    _recover_swap(target)
    if os.path.isdir(target):
        _swap_write(df, target)
    else:
        df.write.mode("overwrite").parquet(target)


def read_meta(spark: SparkSession, path: str):
    """The store's one-row meta relation, swap-recovered first."""
    meta_dir = os.path.join(path, "meta")
    _recover_swap(meta_dir)
    return spark.read.parquet(meta_dir).head()


# ---------------------------------------------------------------- purge

# Purge lists up to this size are inlined as a NOT-IN scan predicate (no
# broadcast-build job, parquet pushdown); larger ones anti-join. Sized to
# keep literal plans small while covering every realistic single-batch
# purge.
_ISIN_PURGE_MAX = 10_000


def _without(store: DataFrame, purge: DataFrame, key: str) -> DataFrame:
    """``store`` minus the rows whose ``key`` is in ``purge``, with exact
    anti-join semantics. A SMALL list becomes a literal NOT-IN predicate
    that pushes down into the parquet scan (recovery's cost is
    scheduling round-trips, not bytes). A NULL store key never matches
    and survives; a NULL purge key matches nothing and is dropped from
    the list (inside NOT IN it would make the predicate NULL for every
    row and purge the whole relation). Delta-sized purges keep the
    broadcast anti-join — a million-key isin would bloat the plan."""
    vals = purge.select(key).distinct().limit(_ISIN_PURGE_MAX + 1).collect()
    if len(vals) > _ISIN_PURGE_MAX:
        return store.join(F.broadcast(purge), key, "left_anti")
    keep = [r[0] for r in vals if r[0] is not None]
    return store.filter(F.col(key).isNull() | ~F.col(key).isin(keep))


def _batched_leaf_purge(
    spark: SparkSession,
    sdir: str,
    prefix: str,
    purge: DataFrame,
    key: str,
    columns: list[str] | None = None,
    sort_within: list[str] | None = None,
    leaf_values: list | None = None,
    fold=None,
) -> list[str]:
    """Purge ``purge``'s ``key`` values out of every ``prefix`` leaf under
    ``sdir`` with ONE Spark job, then swap each leaf in atomically.

    One partitioned read of the store + one ``partitionBy`` staging
    write computes every leaf's purged content (a per-leaf job would pay
    a scheduling round-trip per leaf); per-leaf atomicity holds because
    each leaf still changes only through its own directory swap.
    Idempotent: the append marker outlives the whole pass, so a crashed
    or partial pass re-runs cleanly, and a stale ``.purge-staging`` is
    deleted on entry.

    ``columns`` pins the data-file column order (default: the files'
    own); ``sort_within`` adds a within-file sort after the partition
    column; ``leaf_values`` restricts the purge to those partition
    values (a partition-pruned read). A leaf whose rows are ALL purged
    is rewritten empty (the staging write cannot emit an empty
    partition).

    ``fold``, when given, is called with the purged, partition-hashed
    frame while it is persisted, right after the staging write — a
    derived relation is then computed from the purge pass's own output
    (a ``groupBy(part, ...)`` needs no further exchange) instead of a
    second store scan. It must only write staging output: the store is
    not swapped yet, so a crash inside it recovers like one inside the
    purge.

    Returns the purged leaf names."""
    part = prefix.rstrip("=")
    leaves = _recovered_leaves(sdir, prefix)
    if leaf_values is not None:
        wanted = {f"{part}={v}" for v in leaf_values}
        leaves = [leaf for leaf in leaves if leaf in wanted]
    if not leaves:
        return []
    staging = sdir.rstrip("/") + ".purge-staging"
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    store = spark.read.parquet(sdir)
    if leaf_values is not None:
        store = store.filter(F.col(part).isin(list(leaf_values)))
    cleaned = _without(store, purge, key)
    cols = columns or [c for c in cleaned.columns if c != part]
    # one task per partition value -> exactly ONE file per rewritten leaf
    # (file-count governance and the compaction verdict watch it)
    cleaned = cleaned.select(*cols, part).repartition(F.col(part))
    if sort_within:
        cleaned = cleaned.sortWithinPartitions(part, *sort_within)
    if fold is not None:
        cleaned = cleaned.persist()
    try:
        cleaned.write.mode("overwrite").partitionBy(part).parquet(staging)
        if fold is not None:
            fold(cleaned)
    finally:
        if fold is not None:
            cleaned.unpersist()
    for leaf in leaves:
        target = os.path.join(sdir, leaf)
        staged = os.path.join(staging, leaf)
        if os.path.isdir(staged):
            _swap_dir(staged, target)
        else:
            _swap_write(spark.read.parquet(target).limit(0).select(*cols), target)
    shutil.rmtree(staging, ignore_errors=True)
    return leaves


def _purge(spark, path: str, rel: Relation, ids: DataFrame, ids_col: str, key: str) -> int:
    """Purge the recorded keys out of one relation; returns the number
    of leaves rewritten (a flat relation is one leaf)."""
    sdir = os.path.join(path, rel.dir)
    purge = ids.select(F.col(ids_col).alias(key)).distinct()
    if rel.prefix is None:
        store = spark.read.parquet(sdir)
        _swap_write(_without(store, purge, key).select(*store.columns), sdir)
        return 1
    part = rel.prefix.rstrip("=")
    leaf_values = None
    if rel.prune is not None:
        leaf_values = sorted(r[0] for r in rel.prune(ids).distinct().collect())
    fold = derived = staging = None
    if rel.fold is not None:
        derived = os.path.join(path, rel.fold[0])
        staging = derived + ".purge-staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)

        def fold(cleaned: DataFrame) -> None:
            rel.fold[1](cleaned).write.mode("overwrite").partitionBy(part).parquet(
                staging
            )

    leaves = _batched_leaf_purge(
        spark,
        sdir,
        rel.prefix,
        purge,
        key,
        columns=list(rel.columns) if rel.columns else None,
        sort_within=[key] if rel.sorted_by_key else None,
        leaf_values=leaf_values,
        fold=fold,
    )
    if derived is not None and leaves:
        for leaf in leaves:
            target = os.path.join(derived, leaf)
            _recover_swap(target)
            staged = os.path.join(staging, leaf)
            if os.path.isdir(staged):
                if os.path.isdir(target):
                    _swap_dir(staged, target)
                else:
                    os.rename(staged, target)
            elif os.path.isdir(target):
                # the purged leaf is empty: so is its derived leaf
                _swap_write(spark.read.parquet(target).limit(0), target)
        shutil.rmtree(staging, ignore_errors=True)
    return len(leaves)


# ------------------------------------------------------------- protocol


def check_markers(spec: StoreSpec, path: str) -> None:
    """Reader-side refusal: a marked store must never be read — its
    relations may disagree. Each message advises the action that is
    actually SAFE (a crashed append may already have stored rows, so
    retrying it without recovery would double-write them)."""
    if os.path.exists(os.path.join(path, _BUILD_PENDING)):
        raise ValueError(
            f"{path}: a rebuild died mid-flight — the store's relations "
            f"may mix two generations; rebuild the {spec.name} index from "
            "the corpus"
        )
    if os.path.exists(os.path.join(path, _PENDING)):
        raise ValueError(
            f"{path}: an append is pending or died mid-flight — batch rows "
            f"may already be stored; run recover_{spec.name}_index_append "
            f"and re-append the batch, or rebuild the {spec.name} index"
        )


def stored_fingerprint(spark: SparkSession, path: str) -> str | None:
    """The source fingerprint stamped into the store's meta; None when
    the store is absent, marked (pending append or crashed rebuild),
    unreadable, or predates fingerprinting — every case a
    fingerprint-checking consumer must treat as 'rebuild'."""
    if os.path.exists(os.path.join(path, _PENDING)) or os.path.exists(
        os.path.join(path, _BUILD_PENDING)
    ):
        return None
    meta_dir = os.path.join(path, "meta")
    _recover_swap(meta_dir)
    if not os.path.isdir(meta_dir):
        return None
    try:
        meta = spark.read.parquet(meta_dir)
        if "fingerprint" not in meta.columns:
            return None
        row = meta.select("fingerprint").head()
    except Exception:
        return None
    return row["fingerprint"] if row else None


def build(spec: StoreSpec, path: str, fingerprint: str | None, write: Callable[[], None]) -> None:
    """Run ``write`` (the store's full build) inside the build bracket.
    On a FIRST build meta is written last and is the commit record — a
    crashed first build leaves no meta, read as 'absent'. An in-place
    rebuild is bracketed by ``_build-pending`` (module docstring)."""
    os.makedirs(path, exist_ok=True)
    with _append_lock(path):
        marker = os.path.join(path, _BUILD_PENDING)
        if any(
            os.path.isdir(os.path.join(path, d))
            for d in ("meta", *(r.dir for r in spec.relations))
        ):
            with open(marker, "w", encoding="utf-8") as f:
                f.write(fingerprint or "")
        for name in (_PENDING, _LAST_APPEND):
            if os.path.exists(os.path.join(path, name)):
                os.remove(os.path.join(path, name))
        ids_dir = os.path.join(path, spec.ids_record)
        if os.path.isdir(ids_dir):
            shutil.rmtree(ids_dir)
        write()
        if os.path.exists(marker):
            os.remove(marker)


def _pre_commit(spec: StoreSpec, spark: SparkSession, path: str, batch: Batch) -> dict:
    """Protocol steps 5-7a: marker, ids record, the batch's rows."""
    recorded = {k: parse(batch.recorded.get(k)) for k, parse in spec.recorded.items()}
    with open(os.path.join(path, _PENDING), "w", encoding="utf-8") as f:
        f.write(
            json.dumps(
                {"protocol": 2, **recorded, "last_append": read_last_append(path)}
            )
        )
    ids_dir = os.path.join(path, spec.ids_record)
    batch.ids.write.mode("overwrite").parquet(ids_dir)
    return batch.write_rows(spark.read.parquet(ids_dir))


def stage_torn_append(spec: StoreSpec, delta: DataFrame, path: str, **opts) -> None:
    """Leave ``path`` exactly as an append that crashed right after its
    rows landed: the pre-commit step ``append`` runs, and nothing after
    it — the maximal purge a recovery can face."""
    batch = spec.prepare(delta.sparkSession, path, delta, **opts)
    try:
        _pre_commit(spec, delta.sparkSession, path, batch)
    finally:
        if batch.release is not None:
            batch.release()


def append(
    spec: StoreSpec,
    delta: DataFrame,
    path: str,
    batch_id: str | None = None,
    **opts,
) -> dict:
    """Append NEW rows to the store at ``path`` (steps in the module
    docstring). ``opts`` go to the spec's ``prepare``. Returns
    ``{"committed", "skipped_duplicate_batch"}`` plus the store's result
    extras."""
    spark = delta.sparkSession
    with _append_lock(path):
        if os.path.exists(os.path.join(path, _BUILD_PENDING)):
            raise ValueError(
                f"{path}: a rebuild died mid-flight — rebuild the "
                f"{spec.name} index before appending"
            )
        _recover(spec, spark, path)
        if batch_id is not None and read_last_append(path) == batch_id:
            return {"committed": False, "skipped_duplicate_batch": True}
        if delta.isEmpty():
            if batch_id is not None:
                _write_last_append(path, batch_id)
            return {"committed": True, "skipped_duplicate_batch": False}
        batch = spec.prepare(spark, path, delta, **opts)
        try:
            extras = _pre_commit(spec, spark, path, batch)
            if batch.merge_meta is not None:
                for rel, df, part in batch.merge_meta(extras):
                    _swap_write(df, os.path.join(path, rel), part)
            if batch_id is not None:
                _write_last_append(path, batch_id)
            os.remove(os.path.join(path, _PENDING))
            shutil.rmtree(os.path.join(path, spec.ids_record))
        finally:
            if batch.release is not None:
                batch.release()
    return {"committed": True, "skipped_duplicate_batch": False, **extras}


def recover(spec: StoreSpec, spark: SparkSession, path: str) -> dict:
    """Locked standalone recovery (see ``_recover``): holding the lock,
    a recovery never races a live append whose marker it would misread
    as torn."""
    with _append_lock(path):
        return _recover(spec, spark, path)


def _recover(spec: StoreSpec, spark: SparkSession, path: str) -> dict:
    """Return a torn-append store to its EXACT pre-append state, so the
    same batch re-appends safely:

    * swap remnants of every relation are recovered first;
    * no marker: a surviving ids record is a crash between the commit
      point and its delete — committed, inert junk, but it must not
      live into the NEXT append, whose marker precedes its own ids
      overwrite: a crash in that window would pair the fresh marker
      with the previous batch's record, and recovery would purge
      committed rows. So it is cleared here, before any new marker;
    * marker, ids record committed: purge the recorded keys from every
      relation (recomputing folded relations from the purge output),
      restore the recorded meta scalars and the ``last_append`` slot (a
      restored-but-stamped store would no-op the legitimate re-append);
    * marker, no committed ids record: under protocol 2 the record
      precedes every store write, so this PROVES the store untouched —
      clean up and report ``store_untouched``. A pre-v2 marker in that
      state is ambiguous between 'nothing written' and 'fully
      committed' (its commit order deleted the ids record first), and
      an unparseable marker is corrupt: both raise, advising rebuild.

    Marker removal commits the recovery; the ids record outliving it is
    inert. Returns ``leaves_purged``: one count per relation."""
    _recover_swaps(path)
    marker = os.path.join(path, _PENDING)
    ids_dir = os.path.join(path, spec.ids_record)
    if not os.path.exists(marker):
        if os.path.isdir(ids_dir):
            shutil.rmtree(ids_dir)
            return {"recovered": False, "stale_ids_cleared": True}
        return {"recovered": False}
    with open(marker, encoding="utf-8") as f:
        raw = f.read()
    try:
        state = json.loads(raw)
        old = {k: parse(state.get(k)) for k, parse in spec.recorded.items()}
        protocol = int(state.get("protocol") or 1)
    except (ValueError, TypeError, KeyError, AttributeError) as e:
        raise ValueError(
            f"{path}: pending-append marker is unreadable ({e!r}) — "
            "pre-protocol or corrupt state cannot be auto-recovered; "
            f"rebuild the {spec.name} index from the corpus"
        ) from None
    old_last = state.get("last_append", _UNKNOWN)
    purged = {rel.dir: 0 for rel in spec.relations}
    if not os.path.exists(os.path.join(ids_dir, "_SUCCESS")):
        if protocol < 2:
            raise ValueError(
                f"{path}: pending-append marker present but the "
                f"{spec.ids_record} record is missing or incomplete — for "
                "a pre-protocol-2 marker this is ambiguous between "
                "'nothing written' and 'fully committed' and cannot be "
                f"auto-recovered; rebuild the {spec.name} index from the "
                "corpus"
            )
        if os.path.isdir(ids_dir):
            shutil.rmtree(ids_dir)
        _restore_last_append(path, old_last)
        os.remove(marker)
        return {"recovered": True, "leaves_purged": purged, "store_untouched": True}
    ids = spark.read.parquet(ids_dir)
    for rel in spec.relations:
        key = rel.key(spark, path, old) if callable(rel.key) else rel.key
        purged[rel.dir] = _purge(spark, path, rel, ids, spec.ids_col, key)
    if spec.restore_meta is not None:
        _put(spec.restore_meta(spark, path, old), os.path.join(path, "meta"))
    _restore_last_append(path, old_last)
    os.remove(marker)
    shutil.rmtree(ids_dir)
    return {"recovered": True, "leaves_purged": purged}


def compact(
    spec: StoreSpec, spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Small-file compaction of every data relation after many appends
    (each append writes one file set per touched leaf). Partitioned
    relations compact per leaf, keeping the Hive layout and its
    pruning; each leaf or flat dir uses the compactor's crash-safe
    swap. Returns one compaction result per relation dir."""
    from ..sinks.compaction import compact_parquet_dir, compact_partitioned_dir

    return {
        rel.dir: (compact_parquet_dir if rel.prefix is None else compact_partitioned_dir)(
            spark, os.path.join(path, rel.dir), target_bytes=target_bytes
        )
        for rel in spec.relations
    }
