"""Shared iteration-truncation checkpoint for every iterative-loop
operator (CC/SCC/BFS/compress in canonicalize.py, scope closures in
link.py, DFG slicing in stringapprox.py, constant folding in
evaluate.py).

localCheckpoint stores blocks on executors — fine in local mode, but on
a real cluster an executor loss mid-loop kills the job (no lineage left
to recompute from). Passing checkpoint_dir switches every loop to
reliable checkpoint() against that (HDFS/object-store) path — the
cluster setting. Every operator with an iterative loop threads a
`checkpoint_dir` parameter down to this helper.

scoped_checkpoints frees a block's checkpoints when it exits, instead of
whenever Python's cycle collector drops the last proxy that reaches them.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def ckpt(df: DataFrame, checkpoint_dir: str | None, eager: bool = True) -> DataFrame:
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():  # set once per context
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


@contextmanager
def scoped_checkpoints(spark: SparkSession):
    """On exit, unpersist every checkpointed RDD persisted inside the
    block; earlier RDDs and plain caches are left alone."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds())
    try:
        yield
    finally:
        live = rdds()
        for rid in set(live) - before:
            rdd = live.get(rid)
            if rdd is not None and rdd.isCheckpointed():
                rdd.unpersist(True)
