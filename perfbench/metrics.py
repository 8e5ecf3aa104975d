"""End-to-end and per-layer metrics, derived from the op log, the spans and
the Spark/``/proc`` readings of one run.

Every per-layer metric is printed for every workload; a layer the workload
does not exercise reads 0."""

from __future__ import annotations

import statistics

from probes import union_s

# name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "items/s",
    "answer_recall": "fraction",
    "py_peak_rss_mb": "MB",
}

PER_LAYER = {
    "dataset.search.call_ms": "ms",
    "dataset.search.collect_ms": "ms",
    "dataset.insert_ms": "ms",
    "dataset.update_ms": "ms",
    "dataset.remove_ms": "ms",
    "dataset.compact_ms": "ms",
    "dataset.build_index_ms": "ms",
    "fsutil.index_fingerprint.calls": "count",
    "fsutil.index_fingerprint.ms": "ms",
    "planner.knn.ms": "ms",
    "crud.compact.shuffle_bytes": "bytes",
    "crud.compact.output_bytes": "bytes",
    "crud.compact.bytes_written_per_user_byte": "ratio",
    "hnsw.build_index.ms": "ms",
    "hnsw.save_index.ms": "ms",
    "hnsw.build.rows_per_s": "rows/s",
    "hnsw.search_index_path.ms": "ms",
    "hnsw.tombstone_rows.ms": "ms",
    "ckernel.local_us_per_query": "us",
    "search.overhead_frac": "fraction",
    "dedup.minhash_lsh_pairs.ms": "ms",
    "dedup.dedup_clusters.ms": "ms",
    "dedup.pairs": "count",
    "dedup.clusters": "count",
    "dedup.pair_precision": "fraction",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_span_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "driver.gap_ms": "ms",
    "driver.py_cpu_ms": "ms",
    "jvm.cpu_ms": "ms",
    "pyworker.cpu_ms": "ms",
    "pyworker.new_pids": "count",
    "arrow.result_rows": "count",
    "arrow.result_bytes": "bytes",
    "host.probe_ms": "ms",
    "tracing.overhead_frac": "fraction",
}


def _med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def merge_spark(parts: list[dict]) -> dict:
    """Sum per-group Spark readings; the skew is the longest stage's."""
    out: dict = {"job_spans": []}
    worst = (-1, 1.0)
    for p in parts:
        for k, v in p.items():
            if k == "job_spans":
                out[k] += v
            elif k == "worst":
                worst = max(worst, v)
            else:
                out[k] = out.get(k, 0) + v
    out["task_skew"] = worst[1]
    return out


def per_layer(run) -> dict:
    """``run`` carries: tracer, log, setup_spark (group -> reading),
    wl (the workload), probes (pre, post) and epoch (perf_counter ->
    epoch seconds offset).

    A metric mapped to the gated latency is a median over the traced ops
    of the workload's ``LATENCY_KIND``, one mapped to the gated throughput
    over its ``THROUGHPUT_KIND``, so small and bulk searches never pool.
    Calls no measured op makes (the CRUD path) are read from the set-up."""
    tracer, log, wl = run.tracer, run.log, run.wl
    spans = tracer.spans
    traced = [o for o in log.ops if o.info.get("traced")]
    lat = [o for o in traced if o.kind == wl.LATENCY_KIND]
    thr = [o for o in traced if o.kind == wl.THROUGHPUT_KIND]

    def ids(ops):
        return {o.info["op_id"] for o in ops}

    def durs(name, ops):
        """ms per call: these ops' calls, else the set-up's."""
        op_ids = ids(ops)
        measured = [s.dur * 1000 for s in spans if s.name == name and s.op in op_ids]
        return measured or [s.dur * 1000 for s in spans if s.name == name and s.op == "setup"]

    def under(idx, name):
        while idx is not None:
            if spans[idx].name == name:
                return True
            idx = spans[idx].parent
        return False

    m: dict = {}
    for metric, span, ops in (
        ("dataset.search.call_ms", "dataset.search.call", lat),
        ("dataset.search.collect_ms", "dataset.search.collect", lat),
        ("dataset.insert_ms", "dataset.insert", ()),
        ("dataset.update_ms", "dataset.update", ()),
        ("dataset.remove_ms", "dataset.remove", ()),
        ("dataset.compact_ms", "dataset.compact", ()),
        ("dataset.build_index_ms", "dataset.build_index", ()),
        ("fsutil.index_fingerprint.ms", "fsutil.index_fingerprint", lat),
        ("planner.knn.ms", "planner.knn", lat),
        ("hnsw.build_index.ms", "hnsw.build_index", ()),
        ("hnsw.save_index.ms", "hnsw.save_index", ()),
        ("hnsw.search_index_path.ms", "hnsw.search_index_path", lat),
        ("hnsw.tombstone_rows.ms", "hnsw.tombstone_rows", ()),
    ):
        m[metric] = _med(durs(span, ops))

    lat_ids = ids(lat)
    searches = [s for s in spans if s.name == "dataset.search.call" and s.op in lat_ids]
    fps = [s for s in spans if s.name == "fsutil.index_fingerprint" and s.op in lat_ids
           and under(s.parent, "dataset.search.call")]
    m["fsutil.index_fingerprint.calls"] = len(fps) / len(searches) if searches else 0.0

    builds = durs("dataset.build_index", ())
    m["hnsw.build.rows_per_s"] = _med([wl.N / (d / 1000) for d in builds]) if builds else 0.0

    # no measured op compacts: the set-up's compaction job groups
    comp = [r for g, r in run.setup_spark.items() if "/dataset.compact/" in g]
    user_bytes = getattr(wl, "user_bytes", 0)
    m["crud.compact.shuffle_bytes"] = _med([r["shuffle_write_bytes"] for r in comp])
    m["crud.compact.output_bytes"] = _med([r["output_bytes"] for r in comp])
    m["crud.compact.bytes_written_per_user_byte"] = _med(
        [r["output_bytes"] / user_bytes for r in comp if user_bytes])

    m["ckernel.local_us_per_query"] = _med(
        [o.info["local_s_per_query"] * 1e6 for o in thr if "local_s_per_query" in o.info])
    m["search.overhead_frac"] = _med(
        [o.info["overhead_frac"] for o in lat if "overhead_frac" in o.info])

    def op_span_ms(o, names):
        return sum(s.dur * 1000 for s in spans if s.op == o.info["op_id"] and s.name in names)

    dd = [o for o in thr if "pairs" in o.info]
    m["dedup.minhash_lsh_pairs.ms"] = _med(
        [op_span_ms(o, ("dedup.minhash_lsh_pairs", "dedup.pairs.collect")) for o in dd])
    m["dedup.dedup_clusters.ms"] = _med(
        [op_span_ms(o, ("dedup.dedup_clusters", "dedup.clusters.collect")) for o in dd])
    m["dedup.pairs"] = _med([o.info["pairs"] for o in dd])
    m["dedup.clusters"] = _med([o.info["clusters"] for o in dd])
    m["dedup.pair_precision"] = _med(
        [o.info["planted_found"] / o.info["pairs"] for o in dd if o.info["pairs"]])

    def spark(ops, field):
        return _med([o.info["spark"].get(field, 0) for o in ops])

    for f in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms"):
        m[f"spark.{f}"] = spark(lat, f)
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
              "output_bytes", "spill_bytes", "task_skew"):
        m[f"spark.{f}"] = spark(thr, f)
    unions = [union_s(o.info["spark"]["job_spans"], o.t0 + run.epoch, o.t1 + run.epoch)
              for o in lat]
    m["spark.job_span_ms"] = _med([u * 1000 for u in unions])
    m["driver.gap_ms"] = _med([(o.wall_s - u) * 1000 for o, u in zip(lat, unions)])
    m["driver.py_cpu_ms"] = _med([o.cpu_s * 1000 for o in thr])
    m["jvm.cpu_ms"] = _med([o.info["jvm_cpu_s"] * 1000 for o in lat])
    m["pyworker.cpu_ms"] = _med([o.info["worker_cpu_s"] * 1000 for o in thr])
    m["pyworker.new_pids"] = float(sum(o.info["new_workers"] for o in traced))
    m["arrow.result_rows"] = _med([o.info.get("rows") for o in thr])
    m["arrow.result_bytes"] = _med([o.info.get("arrow_bytes") for o in thr])
    m["host.probe_ms"] = (run.probes[0] + run.probes[1]) / 2
    m["tracing.overhead_frac"] = tracing_overhead(log)
    return {k: m.get(k, 0.0) for k in PER_LAYER}


def tracing_overhead(log) -> float:
    """Median traced op wall over median untraced op wall, minus 1, for
    the op kind with the most traced samples."""
    by_kind: dict = {}
    for o in log.ops:
        if o.ok and o.wall_s > 0:
            by_kind.setdefault(o.kind, ([], []))[0 if o.info.get("traced") else 1].append(o.wall_s)
    best = max(by_kind.values(), key=lambda v: (len(v[0]) > 0 and len(v[1]) > 0, len(v[0])),
               default=([], []))
    if not best[0] or not best[1]:
        return 0.0
    return _med(best[0]) / _med(best[1]) - 1.0
