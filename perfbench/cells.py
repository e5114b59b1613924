"""Seeded HTME-shaped HBase cell tables for the export workloads.

Each table is a parquet file with the columns the `hbase_cells_fixture`
source reads (`key_byte`, `row_key`, `ts`, `value`), sorted by row key the
way HBase stores regions. Every cell value is a Kafka-style envelope whose
`dbObject` is an AES-CTR encrypted, nested Mongo document. A fixed number
of cells are broken on purpose:

* malformed envelopes (not JSON, no `dbObject`, empty IV) are quarantined
  by the envelope layer;
* undecryptable payloads (wrong data key, IV that is not base64) fail in
  the decryption layer.

Next to the table, `expected.parquet` holds one row per cell with its
timestamp, its fate (`ok`, `quarantined`, `failed`) and, for `ok` cells,
the hash of the exact line the snapshot sink must write. The expected
lines are built with the package's pure-Python reference functions
(`record_norm.normalise_payload`, `record_norm.sanitise`), not with the
Spark pipeline, so the golden value is independent of the code measured.

Tables are generated outside any timing and cached per seed and shape.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

TOPIC = "db.core.claimant"
DB, COLLECTION = "core", "claimant"
KEK_ID = "local-kek-1"
DATA_KEY_B64 = base64.b64encode(hashlib.sha256(b"perfbench-data-key").digest()).decode()
_WRONG_KEY_B64 = base64.b64encode(hashlib.sha256(b"perfbench-wrong-key").digest()).decode()
# 2019-01-01T00:00:00Z in epoch millis: the start of every cell-ts range
TS_START = 1_546_300_800_000
ROW_GROUP_ROWS = 2000
GEN_PROCESSES = 4

OK, QUARANTINED, FAILED = "ok", "quarantined", "failed"
_DATE_LO_MS, _DATE_HI_MS = 946_684_800_000, 1_735_689_600_000


@dataclass(frozen=True)
class Shape:
    """Size and layout of one generated table."""

    keys: int
    versions: int  # cells per row key, spread over the ts range
    ts_span_ms: int
    malformed: int
    undecryptable: int
    audit_share: float  # share of keys that are data.businessAudit records
    max_fields: int  # upper bound on top-level fields per document

    def tag(self) -> str:
        return (
            f"k{self.keys}-v{self.versions}-s{self.ts_span_ms}-m{self.malformed}"
            f"-u{self.undecryptable}-a{self.audit_share}-f{self.max_fields}"
        )


def line_hash(line: str) -> int:
    """Per-line hash summed into an order-independent multiset hash. The
    Spark side computes the same value with
    conv(substr(sha2(line, 256), 1, 15), 16, 10)."""
    return int(hashlib.sha256(line.encode("utf-8")).hexdigest()[:15], 16)


def _date(rng: random.Random, incoming: bool) -> str:
    """A date in 2000-2024 in one of the two formats functions/dates.py accepts."""
    ms = rng.randrange(_DATE_LO_MS, _DATE_HI_MS)
    t = time.gmtime(ms // 1000)
    base = time.strftime("%Y-%m-%dT%H:%M:%S", t) + f".{ms % 1000:03d}"
    return base + ("+0000" if incoming else "Z")


_WORDS = (
    "claim award payment address benefit review decision appeal contact "
    "history notice account status change period rate assessment"
).split()


def _value(rng: random.Random, depth: int):
    r = rng.random()
    if r < 0.22:
        return _date(rng, incoming=rng.random() < 0.5)
    if r < 0.45:
        return " ".join(rng.choices(_WORDS, k=rng.randrange(1, 13)))
    if r < 0.6:
        return rng.randint(0, 10**9)
    if r < 0.68:
        return round(rng.uniform(0, 10_000), 2)
    if r < 0.74:
        return rng.random() < 0.5
    if r < 0.78:
        return {"$date": _date(rng, incoming=False)}
    if depth < 3 and r < 0.9:
        return {f"{rng.choice(_WORDS)}{j}": _value(rng, depth + 1) for j in range(rng.randint(1, 6))}
    if depth < 3:
        return [_value(rng, depth + 1) for _ in range(rng.randint(1, 5))]
    return rng.choice(_WORDS)


def _document(rng: random.Random, key: int, max_fields: int) -> tuple[dict, str]:
    """(payload dict, id_json for the row key)."""
    if key % 3 == 0:
        id_obj = f"{key:08d}"  # scalar _id: normalisation wraps it in $oid
        id_json = json.dumps({"id": id_obj})
    else:
        id_obj = {"claimantId": f"c-{key:08d}", "nino": f"AB{key % 1_000_000:06d}C"}
        id_json = json.dumps(id_obj)
    doc: dict = {"_id": id_obj, "createdDateTime": _date(rng, incoming=False)}
    for j in range(rng.randint(3, max_fields)):
        doc[f"{rng.choice(_WORDS)}_{j}"] = _value(rng, 0)
    doc["_lastModifiedDateTime"] = _date(rng, incoming=True)
    return doc, id_json


def _audit_document(rng: random.Random, key: int) -> tuple[dict, str]:
    id_json = json.dumps({"auditId": f"a-{key:08d}"})
    context = {f"{rng.choice(_WORDS)}_{j}": _value(rng, 1) for j in range(rng.randint(2, 8))}
    doc = {"auditType": rng.choice(["LOGIN", "UPDATE", "VIEW"]), "context": context}
    return doc, id_json


def _envelope(db: str, collection: str, last_modified: str, iv_b64: str, enc_key: str, ct_b64: str, trace: str) -> dict:
    return {
        "traceId": trace,
        "unitOfWorkId": trace,
        "@type": "MONGO_UPDATE",
        "message": {
            "db": db,
            "collection": collection,
            "@type": "MONGO_UPDATE",
            "_lastModifiedDateTime": last_modified,
            "encryption": {
                "encryptionKeyId": "",
                "encryptedEncryptionKey": enc_key,
                "initialisationVector": iv_b64,
                "keyEncryptionKeyId": KEK_ID,
            },
            "dbObject": ct_b64,
        },
        "version": "core-4.master.9790",
        "timestamp": "2019-07-04T07:27:35.104+0000",
    }


def _expected_line(plain: str, db: str, collection: str, last_modified: str, id_json: str) -> str:
    from dwp_hbase_to_mongo_export_spark.functions import record_norm

    if db == record_norm.BUSINESS_AUDIT_DB and collection == record_norm.BUSINESS_AUDIT_COLLECTION:
        plain = record_norm.business_audit_transform(plain, last_modified)
    rec = record_norm.normalise_payload(plain, id_json)
    return record_norm.sanitise(record_norm.dumps_compact(rec.db_object), db, collection)


def _key_cells(seed: int, shape: Shape, keys: range, strata: list[int], malformed: frozenset,
               undecryptable: frozenset) -> list:
    """(row_key, ts, value, fate, expected_line_hash) for every cell of the
    given row keys; strata[i] is the ts stratum of the i-th of these cells.
    Each key draws from its own seeded stream, so any split of the key
    range yields the same cells."""
    from dwp_hbase_to_mongo_export_spark.functions.crypto import LocalKeyService, aes_ctr_encrypt
    from dwp_hbase_to_mongo_export_spark.functions.jsonfns import make_row_key

    enc_key = LocalKeyService().encrypt_data_key(KEK_ID, DATA_KEY_B64)
    n_cells = shape.keys * shape.versions
    width = shape.ts_span_ms // n_cells
    rows = []
    for key in keys:
        rng = random.Random(f"{seed}:{key}")
        audit = rng.random() < shape.audit_share
        for v in range(shape.versions):
            cell = key * shape.versions + v
            if audit:
                doc, id_json = _audit_document(rng, key)
                db, collection = "data", "businessAudit"
            else:
                doc, id_json = _document(rng, key, shape.max_fields)
                db, collection = DB, COLLECTION
            ts = TS_START + strata[cell - keys.start * shape.versions] * width + rng.randrange(width)
            last_modified = _date(rng, incoming=True)
            plain = json.dumps(doc)
            iv = rng.randbytes(16)
            iv_b64 = base64.b64encode(iv).decode("ascii")
            fate = OK
            if cell in undecryptable:
                fate = FAILED
                if cell % 2:
                    ct = aes_ctr_encrypt(_WRONG_KEY_B64, iv, plain.encode("utf-8"))
                else:
                    ct = aes_ctr_encrypt(DATA_KEY_B64, iv, plain.encode("utf-8"))
                    iv_b64 = "not*base64!"
            else:
                ct = aes_ctr_encrypt(DATA_KEY_B64, iv, plain.encode("utf-8"))
            env = _envelope(db, collection, last_modified, iv_b64, enc_key, ct, f"t-{cell}")
            value = json.dumps(env)
            if cell in malformed:
                fate = QUARANTINED
                kind = cell % 3
                if kind == 0:
                    value = value[: len(value) // 2]  # truncated: not JSON
                elif kind == 1:
                    del env["message"]["dbObject"]
                    value = json.dumps(env)
                else:
                    env["message"]["encryption"]["initialisationVector"] = ""
                    value = json.dumps(env)
            h = line_hash(_expected_line(plain, db, collection, last_modified, id_json)) if fate == OK else 0
            rows.append((make_row_key(id_json), ts, value, fate, h))
    return rows


def _cells(seed: int, shape: Shape) -> list:
    """All cells of the table, generated by GEN_PROCESSES spawned processes."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    n_cells = shape.keys * shape.versions
    rng = random.Random(seed)
    broken = rng.sample(range(n_cells), shape.malformed + shape.undecryptable)
    malformed, undecryptable = frozenset(broken[: shape.malformed]), frozenset(broken[shape.malformed :])
    # one cell per equal-width ts stratum, in shuffled order: every ts slice
    # of the same width holds the same number of cells, whatever the seed
    strata = list(range(n_cells))
    rng.shuffle(strata)
    step = -(-shape.keys // GEN_PROCESSES)
    chunks = [range(lo, min(lo + step, shape.keys)) for lo in range(0, shape.keys, step)]
    args = [(seed, shape, c, strata[c.start * shape.versions : c.stop * shape.versions], malformed, undecryptable)
            for c in chunks]
    try:
        with ProcessPoolExecutor(len(chunks), mp_context=multiprocessing.get_context("spawn")) as pool:
            parts = list(pool.map(_key_cells, *zip(*args)))
    finally:
        # the pool's semaphores started a resource-tracker process; stop it
        # and wait for it now, or it outlives this process
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    return [row for part in parts for row in part]


def build(seed: int, shape: Shape, out_dir: str) -> None:
    """Write cells.parquet and expected.parquet under out_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(_cells(seed, shape), key=lambda r: (r[0], r[1]))
    cells = pa.table(
        {
            "key_byte": pa.array([r[0][0] for r in rows], pa.int32()),
            "row_key": pa.array([r[0] for r in rows], pa.binary()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "value": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    expected = pa.table(
        {
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "fate": pa.array([r[3] for r in rows], pa.string()),
            "line_hash": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(cells, os.path.join(out_dir, "cells.parquet"), row_group_size=ROW_GROUP_ROWS)
    pq.write_table(expected, os.path.join(out_dir, "expected.parquet"))


def ensure(cache_root: str, seed: int, shape: Shape) -> str:
    """Path of the cached table directory for (seed, shape), built on first
    use. A build is staged and renamed, so a crashed build is never served."""
    out = os.path.join(cache_root, f"cells-{shape.tag()}-seed{seed}")
    if os.path.isfile(os.path.join(out, "expected.parquet")):
        return out
    staging = f"{out}.building.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    build(seed, shape, staging)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return out


@dataclass
class Expected:
    """What an export of the cells in [ts_lo, ts_hi) must report."""

    read: int
    valid: int
    failed: int
    written: int
    line_hash_sum: int


def expected_counts(table_dir: str, ts_lo: int | None = None, ts_hi: int | None = None) -> Expected:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(table_dir, "expected.parquet"))
    if ts_lo is not None:
        t = t.filter(pc.and_(pc.greater_equal(t["ts"], ts_lo), pc.less(t["ts"], ts_hi)))
    fates = t["fate"].to_pylist()
    hashes = t["line_hash"].to_pylist()
    quarantined = fates.count(QUARANTINED)
    failed = fates.count(FAILED)
    return Expected(
        read=len(fates),
        valid=len(fates) - quarantined,
        failed=failed,
        written=len(fates) - quarantined - failed,
        line_hash_sum=sum(h for h, f in zip(hashes, fates) if f == OK),
    )
