"""Self-test of the benchmark's correctness checks: a deliberately corrupted
result must count as a failed op.  Needs no Spark.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

K = 3


@pytest.fixture
def corpus():
    rng = np.random.default_rng(7)
    mat = gen.ClusteredVectors(rng, dim=8, centres=4, intrinsic=3).sample(50)
    ids = [f"v{i:03d}" for i in range(50)]
    return ids, mat


def exact_result(ids, mat, queries):
    top = checks.exact_topk(mat, queries, K)
    rows = []
    for j, q in enumerate(queries):
        for r, i in enumerate(top[j]):
            d = float(np.sqrt(((q.astype(np.float64) - mat[i]) ** 2).sum()))
            rows.append((f"q{j}", r + 1, ids[i], d))
    return pd.DataFrame(rows, columns=["query_id", "rank", "id", "score"]), top


def run_op(log, pdf, ids, mat, queries, removed=frozenset()):
    """The checks a search op runs, inside the op log."""
    lookup = dict(zip(ids, mat))
    qids = [f"q{j}" for j in range(len(queries))]
    with log.op("small") as op:
        op.time("search", lambda: None)
        op.check(checks.check_search(pdf, qids, K, set(ids) - set(removed),
                                     removed=removed))
        op.check(checks.check_scores(pdf, dict(zip(qids, queries)),
                                     lambda xs: np.stack([lookup[x] for x in xs])))
    return op


def corruptions(pdf):
    """Each a copy of ``pdf`` with one defect a broken engine could make."""
    swap = pdf.copy()
    swap.loc[[0, 1], "score"] = swap.loc[[1, 0], "score"].to_numpy()
    dup = pdf.copy()
    dup.loc[1, "id"] = dup.loc[0, "id"]
    stranger = pdf.copy()
    stranger.loc[0, "id"] = "not-an-id"
    bad_score = pdf.copy()
    bad_score.loc[2, "score"] += 0.5
    return {
        "missing row": pdf.drop(index=0),
        "score inversion": swap,
        "repeated id": dup,
        "unknown id": stranger,
        "wrong score": bad_score,
        "gapped rank": pdf.assign(rank=pdf["rank"] * 2),
        "missing column": pdf.drop(columns=["score"]),
    }


def test_exact_result_passes(corpus):
    ids, mat = corpus
    queries = mat[:4] + 0.01
    pdf, _ = exact_result(ids, mat, queries)
    log = checks.OpLog()
    assert run_op(log, pdf, ids, mat, queries).ok
    assert (log.attempted, log.failed) == (1, 0)


@pytest.mark.parametrize("defect", ["missing row", "score inversion", "repeated id",
                                    "unknown id", "wrong score", "gapped rank",
                                    "missing column"])
def test_corrupted_result_counts_as_failed(corpus, defect):
    ids, mat = corpus
    queries = mat[:4] + 0.01
    pdf, _ = exact_result(ids, mat, queries)
    log = checks.OpLog()
    op = run_op(log, corruptions(pdf)[defect], ids, mat, queries)
    assert not op.ok
    assert (log.attempted, log.failed) == (1, 1)


def test_removed_id_counts_as_failed(corpus):
    ids, mat = corpus
    queries = mat[:4] + 0.01
    pdf, top = exact_result(ids, mat, queries)
    gone = frozenset({ids[top[0][0]]})
    log = checks.OpLog()
    assert not run_op(log, pdf, ids, mat, queries, removed=gone).ok
    assert log.failed == 1


def test_raising_op_counts_as_failed():
    log = checks.OpLog()
    with log.op("small") as op:
        op.time("search", lambda: 1 / 0)
    assert (log.attempted, log.failed) == (1, 1)
    assert "ZeroDivisionError" in op.problems[0]


def test_recall_counts_true_neighbours(corpus):
    ids, mat = corpus
    queries = mat[:4] + 0.01
    pdf, top = exact_result(ids, mat, queries)
    truth = {f"q{j}": {ids[i] for i in top[j]} for j in range(len(queries))}
    assert checks.recall_hits(pdf, truth) == (4 * K, 4 * K)
    worse = pdf.copy()
    worse.loc[0, "id"] = "not-an-id"
    assert checks.recall_hits(worse, truth) == (4 * K - 1, 4 * K)


def dedup_inputs():
    rng = np.random.default_rng(3)
    ids, toks, planted = gen.near_dup_corpus(rng, 60, vocab=500, min_len=20,
                                             max_len=40, dup_frac=0.3,
                                             replace_frac=0.0)
    sh = {i: checks.shingles(t) for i, t in zip(ids, toks)}
    pairs = pd.DataFrame(
        [(a, b, len(sh[a] & sh[b]) / len(sh[a] | sh[b])) for a, b in planted],
        columns=["id_a", "id_b", "jaccard"])
    comp = checks.components(planted)
    clusters = pd.DataFrame(list(comp.items()), columns=["id", "cluster_id"])
    return sh, pairs, clusters


def test_exact_pairs_and_clusters_pass():
    sh, pairs, clusters = dedup_inputs()
    assert len(pairs) > 0
    assert checks.check_pairs(pairs, sh, 0.7) == []
    assert checks.check_clusters(clusters, pairs) == []


def test_corrupted_pairs_and_clusters_fail():
    sh, pairs, clusters = dedup_inputs()
    log = checks.OpLog()
    wrong_j = pairs.assign(jaccard=pairs["jaccard"] * 0.99)
    flipped = pairs.rename(columns={"id_a": "id_b", "id_b": "id_a"})
    relabel = clusters.copy()
    relabel.loc[0, "cluster_id"] = "d999999"
    for bad in (
        checks.check_pairs(wrong_j, sh, 0.7),
        checks.check_pairs(flipped, sh, 0.7),
        checks.check_clusters(relabel, pairs),
        checks.check_clusters(clusters.iloc[1:], pairs),
    ):
        with log.op("dedup") as op:
            op.check(bad)
    assert (log.attempted, log.failed) == (4, 4)


def test_generators_repeat_per_seed():
    a = gen.ClusteredVectors(np.random.default_rng(5)).sample(10)
    b = gen.ClusteredVectors(np.random.default_rng(5)).sample(10)
    assert np.array_equal(a, b)
    s1 = gen.query_schedule(np.random.default_rng(5), 30, 6)
    assert s1 == gen.query_schedule(np.random.default_rng(5), 30, 6)
    assert all(s1[i:i + 6].count("bulk") == 1 for i in range(0, 30, 6))
