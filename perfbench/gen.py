"""Seeded input generators.  Every generator takes its randomness from the
``numpy.random.Generator`` it is given, so one ``--seed`` fixes every input
of a run; the program under test only ever sees the generated rows."""

from __future__ import annotations

import numpy as np


class ClusteredVectors:
    """Vectors near ``centres`` cluster centres of a ``intrinsic``-dim
    subspace, embedded in ``dim`` dimensions by a fixed random basis, with
    Gaussian ``noise`` in the subspace.  Queries come from the same
    distribution, so they are new points, not corpus points."""

    def __init__(self, rng: np.random.Generator, dim: int = 128,
                 centres: int = 64, intrinsic: int = 16, noise: float = 0.1):
        self.rng = rng
        self.noise = noise
        self.centres = rng.normal(size=(centres, intrinsic))
        self.basis = rng.normal(size=(intrinsic, dim)) / np.sqrt(intrinsic)

    def sample(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, len(self.centres), n)
        z = self.centres[lab] + self.noise * self.rng.normal(
            size=(n, self.centres.shape[1])
        )
        return (z @ self.basis).astype(np.float32)


def vector_frame(ids: list[str], mat: np.ndarray):
    """(id, vector) pandas frame in the dataset's insert schema."""
    import pandas as pd

    return pd.DataFrame({"id": ids, "vector": list(mat.astype(np.float64))})


def query_schedule(rng: np.random.Generator, n_ops: int, block: int) -> list[str]:
    """Fixed op order: blocks of ``block`` ops, one of them ``bulk`` at a
    seeded position, the rest ``small``."""
    out: list[str] = []
    while len(out) < n_ops:
        kinds = ["small"] * block
        kinds[int(rng.integers(0, block))] = "bulk"
        out.extend(kinds)
    return out[:n_ops]


def near_dup_corpus(rng: np.random.Generator, n_docs: int, vocab: int = 30_000,
                    min_len: int = 80, max_len: int = 300,
                    dup_frac: float = 0.10, replace_frac: float = 0.05,
                    window: int = 50):
    """Docs of Zipf-distributed words; ``dup_frac`` of them are planted
    near-duplicates: a copy of one of the previous ``window`` original
    docs with ``replace_frac`` of its tokens redrawn.  Copies are never
    copied again, so every duplicate cluster is a star around its
    original and connected components take the same number of rounds
    on every seed (with copies of copies, 12 of 40 seeds needed a third
    round).  Returns (doc_ids, token arrays, planted pairs as (smaller
    id, larger id))."""
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    cdf = np.cumsum(p)

    def draw(n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)

    ids = [f"d{i:06d}" for i in range(n_docs)]
    toks: list[np.ndarray] = []
    planted: list[tuple[str, str]] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_frac:
            src = originals[int(rng.integers(max(0, len(originals) - window), len(originals)))]
            t = toks[src].copy()
            hit = rng.random(len(t)) < replace_frac
            t[hit] = draw(int(hit.sum()))
            planted.append((ids[src], ids[i]))
        else:
            t = draw(int(rng.integers(min_len, max_len + 1)))
            originals.append(i)
        toks.append(t)
    return ids, toks, planted


def doc_text(tokens: np.ndarray) -> str:
    return " ".join(f"w{t}" for t in tokens.tolist())
