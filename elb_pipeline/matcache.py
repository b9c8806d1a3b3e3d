"""Deterministic parquet materialization for expensive intermediates.

One rule caches every intermediate: ``cached(spark, key, params, build)``
reads ``<ELB_MAT_CACHE>/<key>-v<params_token(params)>`` when its
``_SUCCESS`` marker exists; otherwise it calls ``build()``, writes the
frame once (``write_once``: atomic rename, so concurrent first runs never
observe a half-written cache) and reads it back. ``build`` runs only on a
miss, so an eager ``build`` (a driver-side fixpoint loop) skips all its work
on a hit. This is the 100-TB shape for reused intermediates: a
signature/sketch table is computed ONCE, written as a real table, and
every downstream join reads the parquet — no lingering ``.persist()``
state in a long-lived session (Spark's in-memory columnar cache also
measured pathological on long text columns; see BENCH/BASELINE.md).

``dir_fingerprint`` keys caches on the INPUT's identity (relative path +
size + mtime of every file below it), so regenerated test data at the
same path can never serve a stale cache.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

# Bump when the on-disk layout/meaning of cached frames changes in a way
# not captured by callers' params tuples.
MATCACHE_FORMAT_VERSION = "2"


def _cache_root() -> str:
    """Resolved per call so a harness can point ELB_MAT_CACHE at a fresh
    directory mid-process (bench.py does, to time queries cold). The
    default is per-user: a world-shared /tmp path would let one user's
    cache (or a planted directory) be served to another."""
    return os.environ.get("ELB_MAT_CACHE", f"/tmp/elb_mat_cache_{os.getuid()}")


def params_token(params: tuple) -> str:
    """Digest of the algorithm parameters/code a cached frame depends on.
    Folded into every cache key so changing a constant (band count,
    Jaccard threshold, …) or a kernel's source can never serve stale
    parquet from the previous version of the logic — the input-files
    fingerprint alone only protects against changed DATA, not changed
    CODE."""
    h = hashlib.md5(MATCACHE_FORMAT_VERSION.encode())
    for p in params:
        h.update(repr(p).encode())
    return h.hexdigest()[:10]


def dir_fingerprint(path: str) -> str:
    """md5 over (relative path, size, mtime_ns) of a file, or of every file
    anywhere below a directory — a rewrite inside a partition
    subdirectory changes it too."""
    if os.path.isfile(path):
        files = [(os.path.basename(path), path)]
    else:
        files = sorted(
            (os.path.relpath(os.path.join(base, f), path), os.path.join(base, f))
            for base, _, names in os.walk(path)
            for f in names
        )
    h = hashlib.md5()
    for rel, f in files:
        st = os.stat(f)
        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def write_once(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet to ``path`` through a private
    ``<path>.tmp.<pid>`` directory renamed into place, so ``path`` only
    ever appears complete. When a concurrent writer wins the rename, its
    copy is kept and this one removed."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # lost the race — the winner's copy is complete
        shutil.rmtree(tmp, ignore_errors=True)


def cached(
    spark, key: str, params: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame cached under (``key``, ``params``), built and written by
    ``build()`` on a miss. ``params`` is the tuple of algorithm constants /
    kernel source the frame's contents depend on — it is hashed into the
    directory name, so a logic change always misses the old cache instead
    of silently reusing it."""
    path = os.path.join(_cache_root(), f"{key}-v{params_token(params)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_once(build(), path)
    return spark.read.parquet(path)
