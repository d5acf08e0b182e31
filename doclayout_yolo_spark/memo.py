"""The one session-scoped memo for expensive query-builder artifacts:
parquet reader frames and their spread variants (scan.py), persisted
shingle / gram tables, converged cluster labels, collected codebooks.

``cached(spark, group, source, build)`` is the only entry point and
``_CACHE`` the only dict.  A key is ``(applicationId, group,
source_mtime(source))``; ``group`` names the artifact AND its inputs
(``("shingles", sf_dir)``, ``("head_vectors", sf_dir, k)``), because
every artifact shares the dict — a bare ``sf_dir`` would collide.

One eviction policy (duplicating it drifted in round 4): on every call,
entries from other (stopped) applications are dropped, and same-group
entries with a different mtime are dropped as STALE (a fixture
rewritten under the same path must never serve old data).  EVERY
evicted value gets ``unpersist(blocking=False)`` when it supports it
(no-op for ndarrays and reader frames) — including other-app entries:
with two concurrently live SparkSessions in one process, dropping
another app's entry without unpersisting would leak its persisted
blocks.  unpersist on a stopped context raises and is swallowed by the
guard.
"""

from __future__ import annotations

import os

_CACHE: dict = {}


def source_mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def cached(spark, group, source: str, build):
    """``build()``'s result, memoized under ``group`` for this
    application and the current mtime of ``source``."""
    app = spark.sparkContext.applicationId
    key = (app, group, source_mtime(source))
    for k in [k for k in _CACHE if k[0] != app or (k[1] == group and k != key)]:
        try:
            _CACHE[k].unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — ndarray / stopped context
            pass
        del _CACHE[k]
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]
