"""The shared stage core: one stage commit launches only the snapshot
write (plus the snapshot reader's schema job), leaves no cached blocks,
and its lineage rows carry the committed files' per-partition counts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cpg_spark import lineage
from cpg_spark.plans.staged import StagedRun
from cpg_spark.schema import LINEAGE


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def _commit(spark, wh: str, name: str, compute):
    """Run one stage under a fresh job group; returns (output, job ids)."""
    sc = spark.sparkContext
    group = f"staged-test-{name}-{os.path.basename(wh)}"
    sc.setJobGroup(group, name)
    try:
        out = StagedRun(spark, wh, run_id="staged")._stage(name, "fp", compute, "tok")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, wh: str, stage: str) -> list[tuple[int, int]]:
    lin = lineage.read_lineage(spark, wh).filter(F.col("stage") == stage)
    return sorted((r["partition_id"], r["rows_out"]) for r in lin.collect())


def test_stage_commit_is_one_write_job(spark, tmp_path):
    wh = str(tmp_path / "wh")
    base = _persisted(spark)
    out, jobs = _commit(spark, wh, "nums", lambda: spark.range(0, 1000, 1, 4))
    assert len(jobs) <= 2, jobs  # the write, and the reader's footer-schema job
    assert _persisted(spark) == base
    assert _rows(spark, wh, "nums") == [(p, 250) for p in range(4)]
    assert sum(n for _, n in _rows(spark, wh, "nums")) == out.count() == 1000


def test_stage_commit_releases_the_checkpoints_it_made(spark, tmp_path):
    """Checkpoints made by the stage's compute leave the block store at
    the commit; one the caller made before the stage is kept."""
    wh = str(tmp_path / "wh")
    held = spark.range(0, 100, 1, 2).localCheckpoint()
    before = _persisted_ids(spark)
    out, _ = _commit(
        spark,
        wh,
        "ckpt",
        lambda: spark.range(0, 1000, 1, 4).localCheckpoint().unionByName(held),
    )
    assert _persisted_ids(spark) <= before
    assert out.count() == 1100
    assert held.count() == 100


def test_empty_stage_gets_one_zero_row(spark, tmp_path):
    wh = str(tmp_path / "wh")
    out, _ = _commit(spark, wh, "empty", lambda: spark.range(0, 0, 1, 4))
    assert out.count() == 0
    assert _rows(spark, wh, "empty") == [(0, 0)]


def test_partition_split_over_files_is_summed(spark, tmp_path):
    wh = str(tmp_path / "wh")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try:
        _commit(spark, wh, "split", lambda: spark.range(0, 1000, 1, 4))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    snap = os.path.join(wh, "split", "snap-1")
    assert len([n for n in os.listdir(snap) if n.startswith("part-")]) == 12
    assert _rows(spark, wh, "split") == [(p, 250) for p in range(4)]


def test_read_lineage_reads_spark_and_driver_written_files(spark, tmp_path):
    wh = str(tmp_path / "wh")
    path = os.path.join(wh, lineage.LINEAGE_TABLE)
    # an append as earlier releases wrote it: one Spark-written file
    old = [("old", "s", p, "tok", None, 10 * p, 5, 1) for p in range(3)]
    spark.createDataFrame(old, LINEAGE).coalesce(1).write.mode("append").parquet(path)
    lineage.append_lineage(wh, "new", "s", "tok", None, [(0, 7), (2, 9)], 3, 2)
    lineage.append_lineage(wh, "new", "t", "tok", 4, [], 1, None)
    got = sorted(tuple(r) for r in lineage.read_lineage(spark, wh).collect())
    assert got == sorted(
        old
        + [
            ("new", "s", 0, "tok", None, 7, 3, 2),
            ("new", "s", 2, "tok", None, 9, 3, 2),
            ("new", "t", 0, "tok", 4, 0, 1, None),
        ]
    )
