"""Benchmark of the anndb_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run starts Spark on ``local[nproc]``,
sets up one workload from ``--seed``, then runs its ops in a closed loop
with one client for ``--seconds`` (longer if a workload's minimum sample
is not reached yet), checks every answer, stops Spark and every process it
started, and prints a report.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything a run writes stays under ``perfbench/work/``: the catalog,
Spark's local dirs, the worker graph cache (``ANNDB_SHM_CACHE_DIR``) and
temp files live in a per-run directory that is removed at the end; only
the compiled search kernel (``perfbench/work/ckernel``) and the span dump
of a traced run (``perfbench/work/traces``) are kept.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("query_mix", "dedup_docs")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(root: str, run_dir: str) -> None:
    """Point every cache and temp dir of Spark, the JVM and the engine into
    this run's directory, before pyspark or anndb_spark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # C1 only: with the default tiered JIT the driver JVM keeps speeding
        # up the same Spark plans for minutes (a dedup op fell from 4.9 s to
        # 3.0 s over 16 passes), so a run's figures would depend on where in
        # that warm-up its ops land; C1 is steady after the first pass
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "ANNDB_SHM_CACHE_DIR": os.path.join(run_dir, "graphs"),
        "ANNDB_CKERNEL_DIR": os.path.join(HERE, "work", "ckernel"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    sys.path.insert(0, root)


class Ctx:
    """What a workload sees: Spark, the seeded RNG, its run directory, the
    op log and the tracing switches."""

    def __init__(self, spark, rng, run_dir, log, tracer):
        self.spark, self.rng, self.run_dir, self.log = spark, rng, run_dir, log
        self.tracer = tracer
        self.traced = tracer is not None
        self.traced_op = False

    def span(self, name: str, group: bool = False):
        if self.traced_op and self.tracer.active:
            return self.tracer.span(name, group)
        return nullcontext()

    @contextmanager
    def untraced(self):
        active = self.tracer.active
        self.tracer.active = False
        try:
            yield
        finally:
            self.tracer.active = active


class Run:
    """One benchmark run: set-up, the measured loop, teardown."""

    def __init__(self, args, run_dir):
        import numpy as np

        from checks import OpLog

        self.args, self.run_dir = args, run_dir
        self.rng = np.random.default_rng(args.seed)
        self.log = OpLog()
        self.tracer = self.stats = None
        self.setup_spark: dict = {}
        self.epoch = time.time() - time.perf_counter()

    def execute(self) -> None:
        from probes import ProcSampler, host_probe_ms

        self.probes = [host_probe_ms(), None]
        self.sampler = ProcSampler()
        self.sampler.start()
        try:
            self._setup()
            self._loop()
            self.summary = self.wl.summary()
        finally:
            self._teardown()
        self.probes[1] = host_probe_ms()

    def _setup(self) -> None:
        import workloads

        t0 = time.perf_counter()
        from anndb_spark import get_spark

        self.spark = get_spark(cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_start_s = time.perf_counter() - t0
        if self.args.trace:
            from probes import SparkStats
            from spans import Tracer

            self.stats = SparkStats(self.spark.sparkContext)
            self.tracer = Tracer(on_group=self._on_group)
            self.tracer.patch_layers()
        self.ctx = Ctx(self.spark, self.rng, self.run_dir, self.log, self.tracer)
        self.wl = workloads.WORKLOADS[self.args.workload](self.ctx)
        with self._traced("setup", self.args.trace):
            self.wl.setup()
        self.setup_s = time.perf_counter() - t0

    def _on_group(self, group):
        self.stats.set_group(group or self.tracer.op)

    @contextmanager
    def _traced(self, op_id: str, on: bool):
        """Record spans, job groups and process counters for one op."""
        self.ctx.traced_op = on
        if not on:
            if self.stats is not None:
                self.stats.set_group("untraced")
            yield None
            return
        self.tracer.op, self.tracer.active = op_id, True
        self.stats.set_group(op_id)
        before = self.sampler.snapshot()
        info: dict = {}
        try:
            yield info
        finally:
            self.tracer.active = False
            after = self.sampler.snapshot()
            groups = [op_id] + self.tracer.groups.get(op_id, [])
            info["spark_groups"] = {g: self.stats.collect(g) for g in groups}
            info["worker_cpu_s"] = after["worker_cpu_s"] - before["worker_cpu_s"]
            info["jvm_cpu_s"] = after["jvm_cpu_s"] - before["jvm_cpu_s"]
            info["new_workers"] = after["workers_seen"] - before["workers_seen"]
            self.ctx.traced_op = False

    def _loop(self) -> None:
        from metrics import merge_spark

        if self.tracer is not None:
            self.setup_spark = {
                g: self.stats.collect(g)
                for g in ["setup"] + self.tracer.groups.get("setup", [])
            }
        counts: dict = {}
        t0 = time.perf_counter()
        i = 0
        while not self._done(counts, time.perf_counter() - t0):
            kind = self.wl.next_kind(i)
            # traced runs alternate untraced and traced ops of each kind,
            # so the same run reports the tracing overhead
            on = bool(self.args.trace) and counts.get(kind, 0) % 2 == 1
            with self._traced(f"op{i}", on) as info:
                with self.log.op(kind) as op:
                    self.wl.run(op, kind)
            if info is not None:
                op.info.update(info, traced=True, op_id=f"op{i}",
                               spark=merge_spark(list(info["spark_groups"].values())))
            counts[kind] = counts.get(kind, 0) + 1
            i += 1

    def _done(self, counts: dict, elapsed: float) -> bool:
        if elapsed < self.args.seconds or not self.wl.enough(counts):
            return False
        # a traced run needs a traced and an untraced op of each kind
        return not self.args.trace or all(counts.get(k, 0) >= 2 for k in self.wl.MIN_OPS)

    def _teardown(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for them."""
        try:
            self._stop_spark()
        finally:
            self._reap()

    def _stop_spark(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        if self.tracer is not None:
            self.tracer.unpatch()
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def _reap(self) -> None:
        """Wait for every process seen under this driver; kill stragglers."""
        self.sampler.stop()
        deadline = time.time() + 30
        while self.sampler.descendants_alive() and time.time() < deadline:
            time.sleep(0.2)
        for pid in self.sampler.descendants_alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while self.sampler.descendants_alive() and time.time() < deadline:
            time.sleep(0.1)

    # --- results -------------------------------------------------------

    def end_to_end(self) -> dict:
        primary = self.wl.primary(self.summary)
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": primary["op_p50_ms"],
            "items_per_s": primary["items_per_s"],
            "answer_recall": primary["answer_recall"],
            "py_peak_rss_mb": self.sampler.peak_py_rss / 2**20,
        }

    def named(self) -> dict:
        """The workload's metrics under their own names, with failures."""
        out = {"setup_s": (self.setup_s, "s", 1)}
        out.update(self.summary)
        out["peak_rss_mb"] = (self.sampler.peak_rss / 2**20, "MB", 1)
        out["py_peak_rss_mb"] = (self.sampler.peak_py_rss / 2**20, "MB", 1)
        out["failed_op_frac"] = (self.log.failed / max(self.log.attempted, 1),
                                 "fraction", self.log.attempted)
        return out


def _num(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def report(run) -> dict:
    """Print the human-readable report; return the final result object."""
    from metrics import END_TO_END, PER_LAYER, per_layer

    a = run.args
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cores={os.environ['SPARK_GRAFT_CPUS']} loop=closed clients=1")
    print(f"  spark start {run.spark_start_s:.2f} s (inside setup_s); "
          f"host probe {run.probes[0]:.2f} -> {run.probes[1]:.2f} ms")
    for name, (v, unit, n) in run.named().items():
        print(f"  {name:<32} {v:>14.4f} {unit:<10} n={n}")
    kinds = dict.fromkeys(o.kind for o in run.log.ops)
    for kind in kinds:
        walls = " ".join(f"{o.wall_s:.3f}" for o in run.log.of(kind))
        print(f"  ops[{kind}] wall s: {walls}")
    for o in run.log.ops:
        if not o.ok:
            print(f"  FAILED {o.kind}: {'; '.join(o.problems)}")
    if a.trace:
        values, units = per_layer(run), PER_LAYER
        for kind in kinds:
            k_ov = [o.info["overhead_frac"] for o in run.log.of(kind) if "overhead_frac" in o.info]
            if k_ov:
                print(f"  search.overhead_frac[{kind}] first={k_ov[0]:.4f} n={len(k_ov)}")
        traced = {o.info["op_id"] for o in run.log.ops if o.info.get("traced")}
        for name, (ms, n) in run.tracer.self_ms_by_name(traced).items():
            print(f"  self[{name}] {ms:.1f} ms over {n} calls")
        dump = os.path.join(HERE, "work", "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(dump), exist_ok=True)
        with open(dump, "w") as f:
            json.dump({"spans": run.tracer.to_json(), "per_layer": values}, f)
        print(f"  spans: {len(run.tracer.spans)} written to {os.path.relpath(dump)}")
    else:
        values, units = run.end_to_end(), END_TO_END
    for name, v in values.items():
        print(f"  [{'layer' if a.trace else 'e2e'}] {name:<42} {v:>16.4f} {units[name]}")
    return {
        "correct": run.log.failed == 0,
        "attempted": run.log.attempted,
        "failed": run.log.failed,
        "metrics": {k: {"value": _num(v), "unit": units[k]} for k, v in values.items()},
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the teardown


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "anndb_spark", "__init__.py")):
        print("perfbench: no anndb_spark package here; run from the repository root",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, "work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        isolate(root, run_dir)
        run = Run(args, run_dir)
        run.execute()
        result = report(run)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
