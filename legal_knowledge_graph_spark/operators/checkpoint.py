"""Stage checkpointing, resume, and per-partition lineage (S4/S5
analogues + the north-rule resumability requirement).

The reference's resume mechanism is a per-stage pickle cache guarded
by ``use_cache`` (nodes/table_of_contents_extractor.py:55-65,
nodes/chunker.py:129-138): if the stage's artifact exists, skip the
stage. This module is the distributed version of exactly that
convention:

- every stage writes its output DataFrame to
  ``<root>/<stage>/`` as parquet (bucketed by a hash column when the
  table has a natural id); the write's ``_SUCCESS`` marker is the
  commit point — the plain-parquet stand-in for an Iceberg snapshot
  commit (this sandbox ships no Iceberg runtime jar; on a real
  cluster ``save`` becomes ``writeTo(...).createOrReplace()`` and
  ``committed`` becomes a snapshot-id check, nothing else changes);
- on re-run, a committed stage is READ, not recomputed — resume from
  the last committed stage is therefore automatic;
- each commit appends **per-partition lineage rows**
  ``(stage, fingerprint, partition_id, row_count, committed_at)`` to
  ``<root>/_lineage`` — the north rule's per-partition lineage +
  metrics. The fingerprint is content-derived (a decimal(38,0) sum of
  an all-column xxhash64, per partition, next to the row count), so a
  resumed run can verify it is resuming onto the same data.

Deterministic stage outputs + content-derived ids (functions/ids.py)
make re-materialization idempotent, which is what makes this simple
convention *correct*: replaying a stage can only ever produce the
same bytes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.ids import content_fingerprint

LINEAGE_TABLE = "_lineage"


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
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage))

    def _lineage_rows(self, stage: str, df: DataFrame) -> DataFrame:
        """Per-partition row counts + content fingerprint of the
        committed table (read back post-commit, grouped by the file
        partition actually written). The fingerprint covers every
        column (functions/ids.content_fingerprint: a non-cancelling
        decimal(38,0) sum)."""
        fingerprint, row_count = content_fingerprint(*sorted(df.columns))
        return (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(row_count, fingerprint)
            .select(
                F.lit(stage).alias("stage"),
                F.col("_pid").alias("partition_id"),
                "row_count",
                "fingerprint",
                F.lit(int(time.time() * 1000)).alias("committed_at"),
            )
        )

    def flush_lineage(self) -> None:
        """Append all pending stages' lineage in ONE job (union of the
        per-stage aggregates). Per-stage eager appends cost one extra
        Spark job per commit — at 9 stages that serial latency
        dominated small-input runs. Deferring to a single batched
        append keeps the same rows; a crash between a stage commit and
        the flush only loses metric rows, never resumability (the
        commit point is the stage's _SUCCESS, and the lineage for a
        stage is re-derivable from its committed table)."""
        if not self._pending_lineage:
            return
        df = self._pending_lineage[0]
        for other in self._pending_lineage[1:]:
            df = df.unionByName(other)
        df.write.mode("append").parquet(os.path.join(self.root, LINEAGE_TABLE))
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
        try:
            committed = self.read(stage)
            committed.schema  # force schema inference now
        except Exception:
            # A zero-row stage under AQE can commit 0 data files
            # (only _SUCCESS), which is unreadable. Re-commit an
            # explicit empty table carrying the schema so resume and
            # downstream stages still work on degenerate inputs.
            empty = self.spark.createDataFrame([], df.schema).repartition(1)
            empty.write.mode("overwrite").parquet(self.path(stage))
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
