"""Per-layer metrics keep small and bulk searches apart: a metric mapped to
the gated latency reads the latency ops only, one mapped to the gated
throughput the throughput ops only.  Needs no Spark.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402


def traced_op(log, kind, op_id, wall_s, local_s, overhead, cpu_s, rows, skew):
    with log.op(kind) as op:
        op.t0, op.t1, op.cpu_s = 0.0, wall_s, cpu_s
        op.info.update(
            traced=True, op_id=op_id, local_s_per_query=local_s,
            overhead_frac=overhead, rows=rows, arrow_bytes=rows * 10,
            jvm_cpu_s=0.1, worker_cpu_s=cpu_s, new_workers=0,
            spark={"job_spans": [], "jobs": 2, "task_skew": skew})
    return op


def test_small_and_bulk_ops_do_not_pool():
    log = checks.OpLog()
    for i in range(3):
        traced_op(log, "small", f"op{i}", 1.0, 1e-3, 0.99, 0.01, 80, 1.0)
    traced_op(log, "bulk", "op3", 2.0, 2e-5, 0.3, 0.5, 50_000, 1.5)
    wl = types.SimpleNamespace(LATENCY_KIND="small", THROUGHPUT_KIND="bulk", N=10)
    run = types.SimpleNamespace(tracer=spans.Tracer(), log=log, wl=wl, setup_spark={},
                                probes=(1.0, 1.0), epoch=0.0)
    m = metrics.per_layer(run)
    assert m["ckernel.local_us_per_query"] == 20.0
    assert m["search.overhead_frac"] == 0.99
    assert m["driver.py_cpu_ms"] == 500.0
    assert m["arrow.result_rows"] == 50_000
    assert m["spark.task_skew"] == 1.5
    assert m["spark.jobs"] == 2
