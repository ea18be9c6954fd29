"""The staged-run core shared by KgPipeline and CurationPipeline.

A stage is (name, fingerprint, compute). A rerun skips every stage whose
fingerprint is already committed and reads its snapshot instead; a stage
that runs commits its output through the snapshot catalog and appends
per-partition lineage rows. The snapshot write is the stage's only Spark
action: the lineage counts come from the committed files' footers. The
commit also releases the checkpoints its compute made (an iterative
operator's rounds), since later stages read the snapshot instead.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession

from .. import lineage
from ..catalog import SnapshotCatalog
from ..operators import iterutil


def fingerprinter(*prefix: str):
    """fp(stage, *upstream) -> the stage's fingerprint: a hash of prefix
    (input token, code version, parameters), the stage name and the
    fingerprints of the named upstream stages, which must come first."""
    fps: dict[str, str] = {}

    def fp(stage: str, *upstream: str) -> str:
        parts = (*prefix, stage, *[fps[u] for u in upstream])
        fps[stage] = hashlib.sha1("\x00".join(parts).encode()).hexdigest()
        return fps[stage]

    return fp


class StagedRun:
    def __init__(self, spark: SparkSession, warehouse: str, run_id: str = "run-0"):
        self.spark = spark
        self.catalog = SnapshotCatalog(warehouse)
        self.warehouse = warehouse
        self.run_id = run_id
        self.skipped: list[str] = []
        self.ran: list[str] = []

    def _stage(self, name: str, fingerprint: str, compute, input_split: str) -> DataFrame:
        if self.catalog.has_snapshot(name, fingerprint):
            self.skipped.append(name)
            return self.catalog.read(self.spark, name)
        t0 = time.monotonic()
        with iterutil.scoped_checkpoints(self.spark):
            manifest = self.catalog.write(
                compute(), name, fingerprint, stage=name, run_id=self.run_id
            )
        lineage.append_lineage(
            self.warehouse,
            self.run_id,
            name,
            input_split,
            rows_in=None,
            per_partition_out=lineage.footer_partition_counts(manifest["path"]),
            wall_ms=int((time.monotonic() - t0) * 1000),
            snapshot_id=manifest["snapshot_id"],
        )
        self.ran.append(name)
        return self.catalog.read(self.spark, name)
