"""Shared-fixture durable-index cache placement + build serialization.

The indexed queries (dedup_incremental_indexed, bm25_indexed) persist
their corpus artifact once per fixture and key reuse on a source
CONTENT fingerprint. Two hazards follow from caching under a fixed
world-readable temp path (round-9 advice):

* **multi-user collision** — /tmp is shared, so two users running the
  suite over the same fixture basename would fight over one directory
  (and the second user may not even have write permission to the
  first's files). Fix: the cache root is keyed by ``getpass.getuser()``.
* **build-vs-build / read-during-build race** — two concurrent sessions
  over the same fixture (tools/spill_drill.py runs this query in a
  constrained AND an unconstrained session; tools/scale_sweep.py too)
  can both see a missing/stale fingerprint and race a rebuild against a
  query, so readers hit the loud-but-flaky rebuild-marker refusal
  mid-build. Fix: the fingerprint check + build runs under an exclusive
  ``flock`` on a sidecar lockfile — the second session blocks until the
  first's build commits, re-checks the fingerprint, sees it stamped,
  and skips its own build. (The query itself stays outside the lock:
  after a committed build, sessions over an UNCHANGED fixture never
  rebuild, so there is nothing left to race; regenerating the fixture
  underneath live queries is out of contract.)
"""

from __future__ import annotations

import contextlib
import getpass
import os
import tempfile


def user_cache_dir(version_token: str, sf_dir: str) -> str:
    """Per-user durable-index cache directory for a fixture: the
    version token pins the artifact LAYOUT (bump on schema change), the
    user key prevents cross-user collisions on shared hosts, and the
    fixture basename separates scale factors. Content staleness is the
    caller's fingerprint check, not the path's concern."""
    return os.path.join(
        tempfile.gettempdir(),
        f"{version_token}_{getpass.getuser()}",
        os.path.basename(sf_dir.rstrip("/")),
    )


@contextlib.contextmanager
def build_lock(path: str):
    """Exclusive advisory lock serializing the fingerprint-check+build
    critical section for the index at ``path``. POSIX ``flock`` on a
    sidecar file, so it works across processes (the concurrent-session
    scenario) and is released by the OS even if the holder dies — a
    crashed build leaves the store's own rebuild marker
    (operators/storeproto.py), not a wedged lock."""
    import fcntl

    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
