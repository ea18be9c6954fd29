"""The benchmark's traced runs patch program names by attribute lookup;
a renamed or re-bound name crashes them. These tests install and remove
both workloads' hooks and drive the shared stage core through the
patched names. No Spark session is started."""

from __future__ import annotations

import os
from types import SimpleNamespace

from cpg_spark import lineage
from cpg_spark.catalog import SnapshotCatalog
from cpg_spark.operators import canonicalize, iterutil
from cpg_spark.plans.curation import CurationPipeline
from cpg_spark.streaming.pipeline import SnapshotMergeSink
from kgbench import workloads
from kgbench.trace import Tracer

HOOKED = [
    (CurationPipeline, "run"),
    (CurationPipeline, "_stage"),
    (SnapshotCatalog, "write"),
    (SnapshotCatalog, "read"),
    (SnapshotCatalog, "has_snapshot"),
    (lineage, "append_lineage"),
    (canonicalize, "connected_components"),
    (canonicalize, "_checksum"),
    (canonicalize, "_ckpt"),
    (iterutil, "ckpt"),
    (SnapshotMergeSink, "commit"),
    (SnapshotMergeSink, "guard"),
]


def test_trace_hooks_install_and_uninstall():
    before = [getattr(owner, attr) for owner, attr in HOOKED]
    tracer = Tracer()
    workloads._trace_curation(tracer)
    workloads._trace_stream(tracer)
    try:
        for (owner, attr), orig in zip(HOOKED, before):
            assert getattr(owner, attr) is not orig, f"{attr} not patched"
    finally:
        tracer.unpatch()
    for (owner, attr), orig in zip(HOOKED, before):
        assert getattr(owner, attr) == orig, f"{attr} not restored"


class _Catalog:
    """Stands in for SnapshotCatalog: ``committed`` names the stages that
    already have a snapshot; a write commits an empty snapshot dir."""

    def __init__(self, root: str, committed: set[str]):
        self.root, self.committed = root, committed

    def has_snapshot(self, table, fingerprint):
        return table in self.committed

    def read(self, spark, table):
        return f"read:{table}"

    def write(self, df, table, fingerprint, stage="", run_id=""):
        path = os.path.join(self.root, table, "snap-1")
        os.makedirs(path)
        return {"path": path, "snapshot_id": 1}


# a SparkSession stand-in with nothing persisted, for the stage core's
# checkpoint release
_NO_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict)))


def test_stage_core_runs_through_patched_names(tmp_path):
    """CurationPipeline._stage is called once per stage with the stage
    name first, and the core appends lineage through the module, so
    both wrappers see every call."""
    tracer = Tracer()
    workloads._trace_curation(tracer)
    try:
        pipe = SimpleNamespace(
            spark=_NO_SPARK,
            warehouse=str(tmp_path),
            run_id="hooks",
            catalog=_Catalog(str(tmp_path), committed={"gate"}),
            skipped=[],
            ran=[],
        )
        assert CurationPipeline._stage(pipe, "gate", "fp", None, "tok") == "read:gate"
        assert CurationPipeline._stage(pipe, "kept", "fp", lambda: None, "tok") == "read:kept"
    finally:
        tracer.unpatch()
    assert pipe.skipped == ["gate"] and pipe.ran == ["kept"]
    spans = [(s.layer, s.name) for s in tracer.spans]
    assert spans == [("textstats", "gate"), ("plans", "kept"), ("lineage", "append_lineage")]
    # an empty commit still leaves one lineage file behind
    assert len([n for n in os.listdir(tmp_path / lineage.LINEAGE_TABLE) if n.startswith("part-")]) == 1
