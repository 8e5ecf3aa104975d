"""Small shared helpers for the physical layer."""

from __future__ import annotations

from pyspark.sql import DataFrame


def num_partitions(df: DataFrame) -> int:
    """Physical partition count of the plan, without building the Python
    RDD.

    ``df.rdd`` plans the query AND appends a java-to-python conversion
    stage (per-row pickling serializers) just to ask for a count;
    ``queryExecution().toRdd()`` only forces physical planning — the
    lightest partition probe there is, and still no job.
    """
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def literal_df(spark, data, ddl: str) -> DataFrame:
    """``createDataFrame`` for internally-constructed literal rows with
    schema verification OFF.

    The default path runs a pure-Python per-element type verifier over
    every cell — ~0.14 s per 1000×64-double query batch (cProfile: 335k
    ``verify()`` calls), charged to every serving call's driver latency
    (guide §5: the driver should do almost no data work).  The rows this
    library builds are already exactly typed (explicit ``float()`` /
    ``int()`` / ``str()`` conversions at each call site), so the check
    re-proves what construction guarantees.  JVM-side schema converters
    still apply either way, and rows are bit-identical with the verifier
    on or off (pinned by tests/test_quantize.py::test_literal_df_parity).

    Callers MUST pass exactly-typed rows; a mistyped cell surfaces as a
    pickle/conversion error at execution instead of a friendly driver
    error — acceptable for internal literals, which is why the cold
    user-facing paths (catalog, dataset CRUD) keep the verified form.
    """
    return spark.createDataFrame(data, ddl, verifySchema=False)


def plan_size_over_broadcast_threshold(df: DataFrame) -> bool:
    """True when Catalyst's size estimate for ``df`` exceeds the
    session's auto-broadcast threshold — i.e. when an un-hinted join
    against ``df`` would NOT broadcast it.

    Used to pick a join direction by DATA SIZE instead of a constant
    (guide §2): a shortlist-fetch join against a table small enough to
    broadcast should stay un-hinted (the planner broadcasts the table
    and the broadcast build overlaps the shortlist pipeline), while
    the same join against a corpus-sized table must broadcast the
    batch-bounded shortlist side instead — otherwise the planner
    falls back to a sort-merge join that shuffles the CORPUS by id to
    fetch a few thousand rows.  Pure plan metadata: no job runs."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # Spark's own parsed byte value: it accepts every unit Spark
        # does ('10MB', '1g', '64m', plain bytes), which a Python
        # re-parse of the raw string did not
        thr_bytes = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
        if thr_bytes < 0:
            # auto-broadcast disabled: the table will never broadcast
            # un-hinted, so the bounded side must carry the hint
            return True
        return est > thr_bytes
    except Exception:
        # estimate unavailable: assume big (the scale-safe direction)
        return True


def task_plan(spark, n_items: int, n_slices: int) -> DataFrame:
    """``spark.range(0, n_items, 1, n_slices)``: the input of a serving
    plan whose tasks look their work items up by range id in a
    broadcast list.

    A JVM ``Range`` leaf, never ``createDataFrame(parallelize(rows))``:
    a DataFrame over a parallelized Python RDD is read through a
    PythonRDD, so every task first starts a Python worker just to
    unpickle its plan rows before the ``mapInPandas`` worker starts
    (~0.15-0.2 s of worker set-up per task; README, "Performance note:
    the per-task floor").  Range splits ids into slices exactly as
    ``parallelize`` splits a list, so task ``i`` holds the same items
    either way."""
    return spark.range(0, n_items, 1, n_slices)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition degenerate low-parallelism inputs before compute-heavy
    projections.

    A small table read from one parquet file (or squeezed through
    `limit`/`cache`) arrives as ONE partition, which serializes every
    downstream expression — measured 32× on the md5-heavy MinHash
    pipeline at local[32].  At real scale the scan supplies ample
    partitions (see ``spark.sql.files.minPartitionNum`` in session.py)
    and this is a no-op; bytes are a bad proxy for per-row compute cost,
    which is why AQE/`maxPartitionBytes` don't cover this (same
    reasoning as the HNSW build's explicit repartition,
    `operators/hnsw.py`).
    """
    spark = df.sparkSession
    minp = min_partitions or spark.sparkContext.defaultParallelism
    if num_partitions(df) < minp:
        return df.repartition(minp)
    return df
