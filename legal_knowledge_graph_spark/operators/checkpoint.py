"""Stage checkpointing, resume, and per-partition lineage (S4/S5
analogues + the north-rule resumability requirement).

The reference's resume mechanism is a per-stage pickle cache guarded
by ``use_cache`` (nodes/table_of_contents_extractor.py:55-65,
nodes/chunker.py:129-138): if the stage's artifact exists, skip the
stage. This module is the distributed version of exactly that
convention:

- every stage writes its output DataFrame to
  ``<root>/<stage>/`` as parquet (bucketed by a hash column when the
  table has a natural id), then stores the committed table's reader
  schema as ``<root>/<stage>/_schema.json``. A stage is committed
  when the write's ``_SUCCESS`` marker and ``_schema.json`` are both
  present — the plain-parquet stand-in for an Iceberg snapshot commit
  (this sandbox ships no Iceberg runtime jar; on a real cluster
  ``save`` becomes ``writeTo(...).createOrReplace()`` and
  ``committed`` becomes a snapshot-id check, nothing else changes).
  A crash between the two files leaves the stage uncommitted, so it
  is recomputed;
- every read of a stage passes the stored schema, so neither the
  post-commit re-read nor a reopen runs a schema-inference job, and a
  zero-row stage (under AQE its write can leave no data file) reads
  back as an empty table with its schema;
- on re-run, a committed stage is READ, not recomputed — resume from
  the last committed stage is therefore automatic;
- each commit adds **per-partition lineage rows**
  ``(stage, partition_id, row_count, fingerprint, committed_at)`` to
  ``<root>/_lineage`` — the north rule's per-partition lineage +
  metrics. The fingerprint is content-derived (count + xxhash64 of
  the rows' ids), so a resumed run can verify it is resuming onto the
  same data. The rows of every stage committed in a run are appended
  by one flush: a union of per-stage projections of the committed
  tables, aggregated by a single shuffle.

Deterministic stage outputs + content-derived ids (functions/ids.py)
make re-materialization idempotent, which is what makes this simple
convention *correct*: replaying a stage can only ever produce the
same bytes.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

LINEAGE_TABLE = "_lineage"
SCHEMA_FILE = "_schema.json"


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable:
    the type a parquet read reports for data written as ``dt``."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _reader_schema(schema: StructType, partition_col: str | None) -> StructType:
    """The schema ``spark.read.parquet`` infers for a table written
    with ``schema``: every type nullable, and a partition column moved
    last (the engine partitions only by the ``int`` bucket column, which
    directory inference also types ``int``)."""
    fields = _nullable(schema).fields
    if partition_col is not None:
        fields = [f for f in fields if f.name != partition_col] + [
            f for f in fields if f.name == partition_col
        ]
    return StructType(fields)


class StageCatalog:
    """Directory-per-stage checkpoint catalog over parquet."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._pending_lineage: list = []
        os.makedirs(root, exist_ok=True)

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def committed(self, stage: str) -> bool:
        return all(
            os.path.exists(os.path.join(self.path(stage), f))
            for f in ("_SUCCESS", SCHEMA_FILE)
        )

    def schema(self, stage: str) -> StructType:
        with open(os.path.join(self.path(stage), SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.schema(self.schema(stage)).parquet(self.path(stage))

    def _lineage_rows(self, stage: str, df: DataFrame) -> DataFrame:
        """One row per committed row: its file partition (as read back
        post-commit) and the hash the stage's fingerprint folds."""
        # fingerprint over the FIRST column only (id-bearing by stage
        # convention): a content check strong enough to catch resuming
        # onto different data, ~10x cheaper than hashing every column.
        # Inside the flush's union each projection keeps its own table's
        # partition index.
        return df.select(
            F.lit(stage).alias("stage"),
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64(F.col(df.columns[0])).alias("_hash"),
            F.lit(int(time.time() * 1000)).alias("committed_at"),
        )

    def flush_lineage(self) -> None:
        """Append all pending stages' lineage with ONE aggregation (a
        union of the per-stage projections, one shuffle): two Spark jobs
        whatever the number of stages, where an aggregate per stage
        would cost a job each. A crash between a stage commit and the
        flush only loses metric rows, never resumability (the commit
        point is the stage's files, and the lineage for a stage is
        re-derivable from its committed table)."""
        if not self._pending_lineage:
            return
        rows = functools.reduce(DataFrame.unionByName, self._pending_lineage)
        (
            rows.groupBy("stage", "partition_id", "committed_at")
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                F.coalesce(F.bit_xor("_hash"), F.lit(0)).alias("fingerprint"),
            )
            .select("stage", "partition_id", "row_count", "fingerprint", "committed_at")
            .write.mode("append")
            .parquet(os.path.join(self.root, LINEAGE_TABLE))
        )
        self._pending_lineage = []

    def write(
        self, df: DataFrame, stage: str, partition_col: str | None = None
    ) -> DataFrame:
        """Commit a stage table; returns the committed (re-read)
        DataFrame so downstream stages consume stable files, cutting
        lineage exactly like the reference's pickle boundary."""
        w = df.write.mode("overwrite")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(self.path(stage))
        # written after _SUCCESS and renamed into place, so the commit
        # point is atomic: a reader sees the whole schema or no commit
        tmp = os.path.join(self.path(stage), f"{SCHEMA_FILE}.tmp")
        with open(tmp, "w") as f:
            f.write(_reader_schema(df.schema, partition_col).json())
        os.replace(tmp, os.path.join(self.path(stage), SCHEMA_FILE))
        committed = self.read(stage)
        self._pending_lineage.append(self._lineage_rows(stage, committed))
        return committed

    def stage(
        self,
        name: str,
        compute,
        partition_col: str | None = None,
        force: bool = False,
    ) -> DataFrame:
        """The resume primitive: read if committed, else compute +
        commit. ``compute`` is a thunk returning the stage DataFrame."""
        if not force and self.committed(name):
            return self.read(name)
        return self.write(compute(), name, partition_col)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, LINEAGE_TABLE))
