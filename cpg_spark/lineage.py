"""Per-stage, per-partition lineage rows (FIXTURES.md §6 schema).

The reference wraps every frontend run and pass in a Benchmark object and
keeps the rows in an in-memory StatisticsHolder
(helpers/MeasurementHolder.kt:39-84, TranslationManager.kt:78-109); here
the same rows are durable — appended to a lineage table in the warehouse
so a resumed run can show what it skipped.

Like the reference's measurements, the rows cost no extra work: the
per-partition counts come from the parquet footers of the snapshot files
a stage just committed (the Iceberg analog is a data file's
``record_count`` in its manifest), so recording them runs no Spark job,
and the rows themselves are written from the driver with pyarrow.
"""

from __future__ import annotations

import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import LINEAGE

LINEAGE_TABLE = "_lineage"

# Spark names each write task's file part-<partition>-<uuid>-c<nnn>...
_PART_FILE = re.compile(r"part-(\d+)-")


def footer_partition_counts(snapshot_dir: str) -> list[tuple[int, int]]:
    """(partition_id, rows) of the non-empty partitions written into
    snapshot_dir, read from the parquet footers — no Spark job. A
    partition that rolled over into several files is summed."""
    counts: dict[int, int] = {}
    for name in os.listdir(snapshot_dir):
        m = _PART_FILE.match(name)
        if m and name.endswith(".parquet"):
            n = pq.read_metadata(os.path.join(snapshot_dir, name)).num_rows
            pid = int(m.group(1))
            counts[pid] = counts.get(pid, 0) + n
    return sorted((pid, n) for pid, n in counts.items() if n > 0)


def append_lineage(
    warehouse: str,
    run_id: str,
    stage: str,
    input_split: str,
    rows_in: int | None,
    per_partition_out: list[tuple[int, int]],
    wall_ms: int,
    snapshot_id: int | None,
) -> None:
    """One row per (partition, rows) pair, or one (0, 0) row for an empty
    output, written from the driver: a dot-prefixed file Spark's reader
    ignores, renamed into place once complete."""
    recs = [
        dict(zip(LINEAGE.names, (run_id, stage, pid, input_split, rows_in, n, wall_ms, snapshot_id)))
        for pid, n in (per_partition_out or [(0, 0)])
    ]
    # the explicit schema keeps rows_in int64 when every value is null,
    # so Spark reads these files and its own earlier appends as one table
    table = pa.Table.from_pylist(recs, schema=to_arrow_schema(LINEAGE))
    path = os.path.join(warehouse, LINEAGE_TABLE)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def read_lineage(spark: SparkSession, warehouse: str) -> DataFrame:
    return spark.read.schema(LINEAGE).parquet(os.path.join(warehouse, LINEAGE_TABLE))

