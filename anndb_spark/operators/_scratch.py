"""Worker-resident reuse for the NumPy scoring kernels: thread-local
scratch buffers and one byte-capped LRU of reconstructed search state.

Scratch buffers.  A fresh multi-MB allocation per call in a
32-way-concurrent Arrow worker path is a latent 100x first-touch tail
on fault-slow hosts (measured: p90 5.6 s per 25 MB of fresh pages
under 32-way concurrency; the r13 ivf micro A/B read p90 13.1 s fresh
vs 0.31 s reused at the (64, 50k) float64 shape), while reused pages
cost zero.  Every (q, n)-sized intermediate of the HNSW brute scan,
the IVF/kNN pairwise GEMM and the PQ/IVFPQ ADC scanners lands here,
as does the row-wise top-k selection that replaces the hidden (nq, n)
int64 index matrix inside whole-matrix ``np.argpartition(axis=1)``.

Contract:

* one flat capacity buffer per (thread, tag), grown monotonically;
* a buffer above ``ANNDB_SCRATCH_CAP_BYTES`` (default 256 MB) is
  released when the next request needs under a quarter of it, so one
  outlier batch cannot pin memory for process lifetime;
* thread-LOCAL so concurrent driver-side callers never share a
  matrix;
* the returned view is valid until the caller's next request for the
  same tag on the same thread — callers must consume (or copy out of)
  a scratch matrix before re-requesting its tag.

Worker cache.  Spark reuses python workers across tasks and jobs, so a
serving workload (many search batches over one index) rebuilds each
partition's graph, IVF cluster matrix or IVFPQ codes matrix once per
(worker, partition), not once per batch.  One LRU dict holds all three
(IVF and IVFPQ keys lead with their family name, so no key is shared
with an HNSW graph's).  It is capped in bytes by
``ANNDB_GRAPH_CACHE_BYTES`` (default 1 GiB), not by entry count:
pid→worker assignment is effectively random per job, so each worker
accumulates whatever it has served.
"""

from __future__ import annotations

import os
import threading

import numpy as np

_TLS = threading.local()
_CAP_BYTES = int(os.environ.get("ANNDB_SCRATCH_CAP_BYTES", str(256 << 20)))

_CACHE: dict = {}
_CACHE_MAX_BYTES = int(os.environ.get("ANNDB_GRAPH_CACHE_BYTES", str(1 << 30)))


def scratch_mat(
    tag: str, rows: int, cols: int, dtype=np.float32
) -> np.ndarray:
    bufs = getattr(_TLS, "bufs", None)
    if bufs is None:
        bufs = _TLS.bufs = {}
    need = rows * cols
    flat = bufs.get(tag)
    if (
        flat is None
        or flat.dtype != np.dtype(dtype)
        or flat.size < need
        or (flat.nbytes > _CAP_BYTES and need * 4 < flat.size)
    ):
        flat = np.empty(need, dtype=dtype)
        bufs[tag] = flat
    return flat[:need].reshape(rows, cols)


def argpart_rows(d: np.ndarray, kk: int) -> np.ndarray:
    """Row-wise top-kk argpartition: (|Q|, kk) int64 indices.

    Identical selection + tie behavior to
    ``np.argpartition(d, kk-1, axis=1)[:, :kk]`` (axis=1 runs the same
    introselect per row), but the per-row form's internal scratch is a
    KB-scale arena allocation instead of a hidden fresh (|Q|, n) int64
    index matrix."""
    part = np.empty((d.shape[0], kk), dtype=np.int64)
    for qi in range(d.shape[0]):
        part[qi] = np.argpartition(d[qi], kk - 1)[:kk]
    return part


def cache_get(key):
    """The cached value for ``key`` (now most recently used), or None."""
    if key is None or key not in _CACHE:
        return None
    val = _CACHE.pop(key)  # re-insert → LRU order
    _CACHE[key] = val
    return val[0]


def cache_put(key, value, nbytes: int) -> None:
    """Cache ``value`` under ``key``, evicting least recently used
    entries until the total fits the byte cap; a value larger than the
    whole cap is not cached.  ``key=None`` disables caching."""
    if key is None or nbytes > _CACHE_MAX_BYTES:
        return
    total = nbytes + sum(nb for _, nb in _CACHE.values())
    while total > _CACHE_MAX_BYTES and _CACHE:
        total -= _CACHE.pop(next(iter(_CACHE)))[1]
    _CACHE[key] = (value, nbytes)
