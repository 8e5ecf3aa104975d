"""Op accounting and the correctness checks behind ``failed_op_frac``.

Every measured op runs inside ``OpLog.op``: an op that raises, or whose
result fails a check, counts as failed.  The checks recompute each answer
from the generated inputs, so they never trust the program's own view."""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np


class Op:
    def __init__(self, kind: str):
        self.kind = kind
        self.parts: dict[str, float] = {}
        self.info: dict = {}
        self.problems: list[str] = []
        self.t0 = self.t1 = None  # first timed part starts, last one ends
        self.cpu_s = 0.0  # driver thread CPU inside the timed parts

    def time(self, part: str, fn):
        """Run ``fn`` and add its wall time to ``part``.  Only these parts
        are timed; input preparation and checks run outside them."""
        c0, t0 = time.thread_time(), time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            self.cpu_s += time.thread_time() - c0
            self.parts[part] = self.parts.get(part, 0.0) + t1 - t0
            self.t0 = t0 if self.t0 is None else self.t0
            self.t1 = t1

    @property
    def wall_s(self) -> float:
        """From the start of the first timed part to the end of the last."""
        return 0.0 if self.t0 is None else self.t1 - self.t0

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)

    @property
    def ok(self) -> bool:
        return not self.problems


class OpLog:
    def __init__(self):
        self.ops: list[Op] = []

    @contextmanager
    def op(self, kind: str):
        """One measured op.  Exceptions stop the op and count it failed;
        the run goes on with the next op."""
        op = Op(kind)
        try:
            yield op
        except Exception as exc:  # the op loop must survive a failed op
            traceback.print_exc(file=sys.stderr)
            op.problems.append(f"raised {type(exc).__name__}: {exc}")
        finally:
            self.ops.append(op)

    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


# --- vector search ---------------------------------------------------------

RESULT_COLUMNS = ("query_id", "rank", "id", "score")


def check_search(pdf, query_ids: list[str], k: int, live,
                 removed=frozenset()) -> list[str]:
    """k rows per query, ranks 1..k, ascending scores, no repeated id
    within a query, every id in ``live``, no id in ``removed``."""
    missing = [c for c in RESULT_COLUMNS if c not in pdf.columns]
    if missing:
        return [f"missing columns {missing}"]
    problems = []
    counts = pdf.groupby("query_id").size()
    if set(counts.index) != set(query_ids):
        problems.append(
            f"answered {len(counts)} query ids, asked {len(set(query_ids))}"
        )
    short = counts[counts != k]
    if len(short):
        problems.append(f"{len(short)} queries without exactly {k} rows")
    s = pdf.sort_values(["query_id", "rank"], kind="mergesort")
    want_rank = s.groupby("query_id").cumcount() + 1
    if not np.array_equal(s["rank"].to_numpy(), want_rank.to_numpy()):
        problems.append("ranks are not consecutive per query")
    step = s.groupby("query_id")["score"].diff().dropna()
    if (step < 0).any():
        problems.append(f"{int((step < 0).sum())} score inversions")
    if s.duplicated(["query_id", "id"]).any():
        problems.append("an id repeats within one query")
    dead = ~s["id"].isin(live)
    if dead.any():
        problems.append(f"{int(dead.sum())} result ids are not live")
    if removed:
        gone = s["id"].isin(removed)
        if gone.any():
            problems.append(f"{int(gone.sum())} removed ids returned")
    return problems


def check_scores(pdf, qvec: dict, ivec, rtol: float = 1e-3) -> list[str]:
    """Euclidean score of each (query, id) row whose query is in ``qvec``
    against the distance recomputed in float64; ``ivec(ids)`` returns
    the corpus rows."""
    sub = pdf[pdf["query_id"].isin(qvec.keys())]
    if sub.empty:
        return []
    q = np.stack([qvec[x] for x in sub["query_id"]]).astype(np.float64)
    x = ivec(sub["id"].tolist()).astype(np.float64)
    d = np.sqrt(((q - x) ** 2).sum(axis=1))
    bad = np.abs(sub["score"].to_numpy(np.float64) - d) > rtol * np.maximum(d, 1.0)
    return [f"{int(bad.sum())} scores differ from the true distance"] if bad.any() else []


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the k nearest corpus rows per query, float64."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    d2 = (q * q).sum(1)[:, None] - 2.0 * q @ c.T + (c * c).sum(1)[None, :]
    part = np.argpartition(d2, k - 1, axis=1)[:, :k]
    order = np.take_along_axis(d2, part, 1).argsort(1)
    return np.take_along_axis(part, order, 1)


def recall_hits(pdf, truth: dict) -> tuple[int, int]:
    """(true neighbours returned, neighbours asked) over the queries in
    ``truth`` (query id -> set of true neighbour ids)."""
    got = pdf[pdf["query_id"].isin(truth.keys())].groupby("query_id")["id"].agg(set)
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits, sum(len(t) for t in truth.values())


# --- near-duplicate detection ---------------------------------------------

def shingles(tokens, n: int = 3) -> set:
    t = list(tokens)
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def check_pairs(pdf, shingle_sets: dict, threshold: float) -> list[str]:
    """Each pair ordered, unique, between corpus docs, with the exact
    Jaccard of its 3-word shingle sets, at or above ``threshold``."""
    missing = [c for c in ("id_a", "id_b", "jaccard") if c not in pdf.columns]
    if missing:
        return [f"missing columns {missing}"]
    problems = []
    if (pdf["id_a"] >= pdf["id_b"]).any():
        problems.append("pair not ordered id_a < id_b")
    if pdf.duplicated(["id_a", "id_b"]).any():
        problems.append("duplicate pair")
    unknown = ~(pdf["id_a"].isin(shingle_sets.keys()) & pdf["id_b"].isin(shingle_sets.keys()))
    if unknown.any():
        return problems + [f"{int(unknown.sum())} pairs name unknown docs"]
    wrong = 0
    for a, b, j in pdf[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        true_j = jaccard(shingle_sets[a], shingle_sets[b])
        if abs(true_j - j) > 1e-12 or true_j < threshold:
            wrong += 1
    if wrong:
        problems.append(f"{wrong} pairs with a wrong or sub-threshold jaccard")
    return problems


def components(pairs) -> dict:
    """id -> smallest id of its connected component (union-find)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(pdf, pairs_pdf) -> list[str]:
    """Every paired id appears once, labelled with the smallest id of
    its connected component."""
    if "id" not in pdf.columns or "cluster_id" not in pdf.columns:
        return ["missing columns id/cluster_id"]
    want = components(pairs_pdf[["id_a", "id_b"]].itertuples(index=False))
    if pdf["id"].duplicated().any():
        return ["an id appears in two clusters"]
    got = dict(zip(pdf["id"], pdf["cluster_id"]))
    if set(got) != set(want):
        return [f"clustered {len(got)} ids, pairs name {len(want)}"]
    wrong = sum(got[x] != want[x] for x in want)
    return [f"{wrong} ids with a wrong cluster label"] if wrong else []
