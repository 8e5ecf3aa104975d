"""The two workloads, each driven through the public ``anndb_spark`` API.

Each workload has ``setup()`` (timed as ``setup_s``), ``next_kind(i)`` and
``run(op, kind)`` for the measured closed loop (one client: an op starts
when the previous one has returned), ``enough(counts)`` for the minimum
sample per op kind, and ``summary()`` for the workload's named metrics.
``LATENCY_KIND`` and ``THROUGHPUT_KIND`` name the op kinds behind the
gated ``op_p50_ms`` and ``items_per_s``; the per-layer metrics mapped to
each are computed from those ops only.

Sizes are scaled so that one run, set-up included, takes about a minute
on a 4-core host; see perfbench/README.md."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import checks
import gen

SCHEMA = "id STRING, vector ARRAY<DOUBLE>"
K = 10


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class _Workload:
    MIN_OPS: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def next_kind(self, i: int) -> str:
        return next(iter(self.MIN_OPS))

    def enough(self, counts: dict) -> bool:
        return all(counts.get(k, 0) >= n for k, n in self.MIN_OPS.items())


class QueryMix(_Workload):
    """Warm-cache serving: small and bulk ANN searches over one index that
    carries live tombstones.

    Set-up writes through every CRUD call before the loop starts: insert,
    update, compact, build_index, then remove, which tombstones the built
    index in place.  No measured search may return a removed id."""

    name = "query_mix"
    N = 10_000
    DIM = 128
    PARTS = 4
    EF = 50
    UPD, REM = 400, 400
    SMALL, BULK, BLOCK = 8, 5_000, 6
    TRUTH_BULK = 500
    WARM_BULK = 500
    REPLAY_QUERIES = 1024
    MIN_OPS = {"small": 8, "bulk": 2}
    LATENCY_KIND, THROUGHPUT_KIND = "small", "bulk"

    def setup(self) -> None:
        from anndb_spark import AnnDB, HnswConfig

        rng = self.ctx.rng
        self.gen = gen.ClusteredVectors(rng, dim=self.DIM)
        mat = self.gen.sample(self.N)
        ids = [f"v{i:06d}" for i in range(self.N)]
        pick = rng.choice(self.N, self.UPD + self.REM, replace=False)
        upd_ids = [ids[j] for j in pick[: self.UPD]]
        rem_ids = [ids[j] for j in pick[self.UPD:]]
        upd_mat = self.gen.sample(self.UPD)
        ins_df = self.spark.createDataFrame(gen.vector_frame(ids, mat), SCHEMA)
        upd_df = self.spark.createDataFrame(gen.vector_frame(upd_ids, upd_mat), SCHEMA)
        self.live = dict(zip(ids, mat))
        self.live.update(zip(upd_ids, upd_mat))
        for i in rem_ids:
            del self.live[i]
        self.removed = frozenset(rem_ids)
        self.id_set = frozenset(self.live)
        self.user_bytes = (self.N + self.UPD) * self.DIM * 4

        # the set-up's timed parts, behind ingest_rows_per_s and refresh_s
        self.parts = checks.Op("setup")
        timed = self.parts.time
        db = AnnDB(self.spark, os.path.join(self.ctx.run_dir, "catalog"))
        self.ds = db.create_dataset(self.name, self.DIM, "euclidean",
                                    partition_count=self.PARTS)
        timed("write", lambda: self.ds.insert(ins_df))
        timed("write", lambda: self.ds.update(upd_df))
        timed("refresh", self.ds.compact)
        timed("refresh", lambda: self.ds.build_index(HnswConfig(m=16, ef_construction=100)))
        timed("write", lambda: self.ds.remove(rem_ids))
        # the first search on the new index ends the refresh; with the
        # bulk-shaped one after it, it fills the worker graph caches
        for part, n in (("refresh", self.SMALL), ("warm", self.WARM_BULK)):
            queries = self._queries(n)[2]
            timed(part, lambda: self.ds.search(queries, K, mode="ann", ef=self.EF).toPandas())

        self.schedule = gen.query_schedule(rng, 100_000, self.BLOCK)
        if self.ctx.traced:
            self._copy_partitions()

    def next_kind(self, i: int) -> str:
        return self.schedule[i]

    def _queries(self, n: int):
        q = self.gen.sample(n)
        qids = [f"q{j}" for j in range(n)]
        return qids, q, list(zip(qids, q.tolist()))

    def run(self, op, kind: str) -> None:
        n = self.SMALL if kind == "small" else self.BULK
        qids, q, queries = self._queries(n)
        # exact float64 top-k over the live set, outside every timer
        n_truth = min(n, self.TRUTH_BULK)
        ids = list(self.live)
        top = checks.exact_topk(np.stack([self.live[i] for i in ids]), q[:n_truth], K)
        truth = {qids[j]: {ids[r] for r in top[j]} for j in range(n_truth)}
        qvec = {qids[j]: q[j] for j in range(n_truth)}

        def call():
            df = self.ds.search(queries, K, mode="ann", ef=self.EF)
            with self.ctx.span("dataset.search.collect", group=True):
                return df.toPandas()
        pdf = op.time("search", call)

        op.check(checks.check_search(pdf, qids, K, self.id_set, removed=self.removed))
        op.check(checks.check_scores(
            pdf, qvec, lambda xs: np.stack([self.live[i] for i in xs])))
        op.info["hits"], op.info["asked"] = checks.recall_hits(pdf, truth)
        op.info["queries"] = n
        op.info["rows"] = len(pdf)
        if self.ctx.traced_op:
            import pyarrow as pa

            op.info["arrow_bytes"] = pa.Table.from_pandas(pdf, preserve_index=False).nbytes
            self._replay(op, queries, n)

    # --- traced: the same queries through the in-process kernel ---------

    def _copy_partitions(self) -> None:
        """One-partition copies of the saved index, one per partition."""
        base = os.path.join(self.ctx.run_dir, "kernel_copies")
        self._copies = []
        for d in sorted(os.listdir(self.ds.index_path)):
            if d.startswith("partition_id="):
                dst = os.path.join(base, d.split("=")[1], d)
                shutil.copytree(os.path.join(self.ds.index_path, d), dst)
                self._copies.append(os.path.dirname(dst))

    def _replay(self, op, queries, nq: int) -> None:
        """Per-partition in-process kernel time for a sample of a search's
        queries; sets ``local_s_per_query`` (per partition graph) and
        ``overhead_frac`` = 1 - partitions * kernel time / search wall.
        A bulk op's sample is large enough for the C beam kernel; an
        8-query sample takes the exact path, as the 8-query Spark tasks do."""
        from anndb_spark.operators.hnsw import HnswConfig, search_index_local

        sample = queries[: self.REPLAY_QUERIES]
        cfg = HnswConfig(space="euclidean")
        per_part = []
        with self.ctx.untraced():
            for path in self._copies:
                kw = dict(ef=self.EF, config=cfg, cache_token=f"{path}@copy")
                search_index_local(self.spark, path, sample[:8], K, **kw)  # load
                t0 = time.perf_counter()
                search_index_local(self.spark, path, sample, K, **kw)
                per_part.append((time.perf_counter() - t0) / len(sample))
        local = float(np.mean(per_part))
        op.info["local_s_per_query"] = local
        op.info["overhead_frac"] = 1.0 - len(per_part) * local * nq / op.wall_s

    def summary(self) -> dict:
        log, parts = self.ctx.log, self.parts.parts
        small = [o.wall_s * 1000 for o in log.of("small") if o.ok]
        bulk = [o.info["queries"] / o.wall_s for o in log.of("bulk") if o.ok]
        hits = sum(o.info.get("hits", 0) for o in log.ops)
        asked = sum(o.info.get("asked", 0) for o in log.ops)
        p90 = float(np.percentile(small, 90)) if small else float("nan")
        written = self.N + self.UPD + self.REM
        stored = dir_bytes(os.path.dirname(self.ds.base_path))
        return {
            "small_search_p50_ms": (median(small), "ms", len(small)),
            "small_search_p90_ms": (p90, "ms", len(small)),
            "bulk_search_qps": (median(bulk), "queries/s", len(bulk)),
            "recall_at_10": (hits / asked if asked else float("nan"), "fraction", asked // K),
            "ingest_rows_per_s": (written / parts["write"], "rows/s", 1),
            "refresh_s": (parts["refresh"], "s", 1),
            "stored_bytes_per_vector_byte": (
                stored / (len(self.live) * self.DIM * 4), "ratio", 1),
        }

    def primary(self, s: dict) -> dict:
        return {"op_p50_ms": s["small_search_p50_ms"][0],
                "items_per_s": s["bulk_search_qps"][0],
                "answer_recall": s["recall_at_10"][0]}


class DedupDocs(_Workload):
    """Near-duplicate detection: MinHash-LSH pairs, then clusters."""

    name = "dedup_docs"
    DOCS = 1_000
    WARM_PASSES = 2
    THRESHOLD = 0.7
    MIN_OPS = {"dedup": 3}
    LATENCY_KIND = THROUGHPUT_KIND = "dedup"

    def setup(self) -> None:
        import pandas as pd

        ids, toks, planted = gen.near_dup_corpus(self.ctx.rng, self.DOCS)
        self.planted = set(planted)
        self.shingles = {i: checks.shingles(t) for i, t in zip(ids, toks)}
        # planted pairs the exact-Jaccard filter lets through: the ones
        # the operator can find, whatever the LSH banding does
        self.findable = {
            (a, b) for a, b in self.planted
            if checks.jaccard(self.shingles[a], self.shingles[b]) >= self.THRESHOLD
        }
        pdf = pd.DataFrame({"doc_id": ids, "text": [gen.doc_text(t) for t in toks]})
        self.df = self.spark.createDataFrame(pdf, "doc_id STRING, text STRING")
        for _ in range(self.WARM_PASSES):  # the first two passes compile the plans
            self._pipeline()

    def _pipeline(self):
        from anndb_spark.operators import dedup

        span = self.ctx.span
        pairs = dedup.minhash_lsh_pairs(self.df, threshold=self.THRESHOLD)
        with span("dedup.pairs.collect", group=True):
            pairs = pairs.localCheckpoint()
            ppdf = pairs.toPandas()
        clusters = dedup.dedup_clusters(pairs)
        with span("dedup.clusters.collect", group=True):
            cpdf = clusters.toPandas()
        return ppdf, cpdf

    def run(self, op, kind: str) -> None:
        ppdf, cpdf = op.time("dedup", self._pipeline)
        op.check(checks.check_pairs(ppdf, self.shingles, self.THRESHOLD))
        op.check(checks.check_clusters(cpdf, ppdf))
        found = set(zip(ppdf["id_a"], ppdf["id_b"]))
        op.info.update(pairs=len(found), clusters=cpdf["cluster_id"].nunique(),
                       planted_found=len(found & self.planted),
                       findable_found=len(found & self.findable),
                       rows=len(ppdf) + len(cpdf))
        if self.ctx.traced_op:
            import pyarrow as pa

            op.info["arrow_bytes"] = sum(
                pa.Table.from_pandas(p, preserve_index=False).nbytes for p in (ppdf, cpdf))

    def summary(self) -> dict:
        ops = [o for o in self.ctx.log.of("dedup") if o.ok]
        rates = [self.DOCS / o.wall_s for o in ops]
        found = median([o.info["planted_found"] for o in ops])
        findable = median([o.info["findable_found"] for o in ops])
        return {
            "dedup_docs_per_s": (median(rates), "docs/s", len(rates)),
            "dup_pair_recall": (found / len(self.planted) if self.planted else float("nan"),
                                "fraction", len(self.planted)),
            "findable_pair_recall": (findable / len(self.findable) if self.findable
                                     else float("nan"), "fraction", len(self.findable)),
        }

    def primary(self, s: dict) -> dict:
        ops = [o for o in self.ctx.log.of("dedup") if o.ok]
        return {"op_p50_ms": median([o.wall_s * 1000 for o in ops]),
                "items_per_s": s["dedup_docs_per_s"][0],
                "answer_recall": s["findable_pair_recall"][0]}


WORKLOADS = {w.name: w for w in (QueryMix, DedupDocs)}
