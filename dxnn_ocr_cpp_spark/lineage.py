"""Checkpoint + per-partition lineage (X15 — absent in the reference,
mandated by the north rule; stats shape mirrors OCRPipelineStats,
/root/reference/include/pipeline/ocr_pipeline.h:98-128).

Design: a stage checkpoint is a parquet/Iceberg write of the stage
output keyed by url. Lineage rows are computed FROM the checkpointed
data by a cheap aggregation over spark_partition_id() — no mutable
side-channel from inside tasks (speculative execution / task retries
would double-count). content_hash is an order-insensitive BIT_XOR of
per-row xxhash64 (no overflow under ANSI mode), stable across
partitioning changes, and compositional: the whole-table hash is the
XOR of the per-partition hashes.

Resume: anti-join the input on already-checkpointed urls — idempotent,
re-running a partially-complete run never duplicates work or rows.
Lineage reads only the files each write added: a resume costs what it adds.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dxnn_ocr_cpp_spark.schemas import LINEAGE


def new_run_id() -> str:
    # uuid4 is fine here: run ids label runs, they never affect data
    return uuid.uuid4().hex[:16]


def _data_files(path: str) -> set[str]:
    # Spark's rule: names starting with _ or . are not data
    return {f"{path}/{f}" for f in os.listdir(path) if f[0] not in "_."} \
        if os.path.isdir(path) else set()


def lineage_rows(df: DataFrame, run_id: str, stage: str,
                 bytes_in_col: str | Column | None = None,
                 bytes_out_col: str | Column | None = None) -> DataFrame:
    """Per-partition lineage from a (materialized) stage output."""
    def total(c):  # a column name sums its lengths; a Column, its values
        return F.lit(None).cast("long") if c is None else \
            F.sum(F.length(F.col(c)) if isinstance(c, str) else c)

    hash_all = F.xxhash64(*[F.col(c) for c in df.columns])
    agg = (df
           .withColumn("_pid", F.spark_partition_id())
           .withColumn("_h", hash_all)
           .groupBy("_pid")
           .agg(
               F.count(F.lit(1)).alias("row_count"),
               total(bytes_in_col).alias("bytes_in"),
               total(bytes_out_col).alias("bytes_out"),
               F.expr("bit_xor(_h)").alias("content_hash"),
           ))
    return agg.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("_pid").cast("int").alias("partition_id"),
        F.col("row_count").cast("long"),
        F.col("bytes_in").cast("long"),
        F.col("bytes_out").cast("long"),
        F.col("content_hash").cast("long"),
        F.lit(None).cast("double").alias("wall_ms"),
    )


class CheckpointedRun:
    """Stage-by-stage checkpointing with resume (kill-and-rerun safe).

    Layout under `root`:
        <root>/<stage>/data/      parquet stage output
        <root>/_lineage/          lineage rows, one file per stage write: an
                                  append adds a file, an overwrite replaces
                                  the stage's files, so each stage's rows
                                  count its checkpoint's rows once
    """

    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id or new_run_id()
        self._schemas: dict[str, StructType] = {}  # stages written here

    def _stage_path(self, stage: str) -> str:
        return f"{self.root}/{stage}/data"

    def has_stage(self, stage: str) -> bool:
        # parquet write is atomic-ish via _SUCCESS marker
        return os.path.exists(os.path.join(self._stage_path(stage), "_SUCCESS"))

    def stage_columns(self, stage: str) -> list[str]:
        """Top-level columns of a valid stage checkpoint, read from a footer."""
        files = sorted(_data_files(self._stage_path(stage)))
        return pq.read_schema(files[0]).names if files and self.has_stage(stage) else []

    def read_stage(self, stage: str, schema: StructType | None = None) -> DataFrame:
        # a known schema (given, or written here) skips an inference job
        schema = schema or self._schemas.get(stage)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._stage_path(stage))

    def _write(self, stage: str, df: DataFrame, mode: str, t0: float,
               bytes_in_col, bytes_out_col) -> DataFrame:
        """Write one stage (overwrite or append), then its lineage from
        only the files this write added, read with the schema just written."""
        path = self._stage_path(stage)
        before = _data_files(path) if mode == "append" else set()
        df.write.mode(mode).parquet(path)
        self._schemas[stage] = df.schema
        # an overwrite's files are all new: read the directory
        added = sorted(_data_files(path) - before) if mode == "append" else [path]
        new = self.spark.read.schema(df.schema).parquet(*added)
        lin = lineage_rows(new, self.run_id, stage, bytes_in_col, bytes_out_col) \
            .withColumn("wall_ms", F.lit((time.monotonic() - t0) * 1000.0))
        # an overwrite replaces the stage's lineage: once the new file is
        # written, drop the earlier writes' files (each holds one stage)
        lineage = f"{self.root}/_lineage"
        stale = [f for f in _data_files(lineage) if stage in
                 pq.read_table(f, columns=["stage"])["stage"].to_pylist()] \
            if mode == "overwrite" else []
        lin.coalesce(1).write.mode("append").parquet(lineage)
        for f in stale:  # and the checksum file Hadoop writes beside it
            d, name = os.path.split(f)
            for p in (f, f"{d}/.{name}.crc"):
                if os.path.exists(p):
                    os.remove(p)
        return new

    def run_stage(self, stage: str, df_fn, bytes_in_col=None,
                  bytes_out_col=None, append: bool = False) -> DataFrame:
        """Execute-or-resume one stage: lazy `df_fn()` overwrites the
        checkpoint when it is absent or marked stale, or is appended to it
        when `append` says it holds rows the checkpoint lacks."""
        t0 = time.monotonic()
        if append or not self.has_stage(stage):
            self._write(stage, df_fn(), "append" if append else "overwrite", t0,
                        bytes_in_col, bytes_out_col)
        return self.read_stage(stage)

    def invalidate_stage(self, stage: str) -> None:
        """Persistently mark a stage checkpoint stale by removing its
        _SUCCESS marker — run_stage will rebuild it."""
        marker = os.path.join(self._stage_path(stage), "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)

    def run_incremental_stage(self, stage: str, inputs: DataFrame, df_fn,
                              key: str = "url",
                              bytes_in_col=None, bytes_out_col=None,
                              invalidates: tuple = ()):
        """Execute-or-extend one keyed stage: inputs already present in
        the checkpoint are skipped (anti-join on `key`); the rest are
        processed and APPENDED: a run over a subset of the corpus, or a
        re-submission with new documents, pays for the missing keys only
        (df_fn(todo) runs once). Returns (stage DataFrame, rows written
        or None).

        `invalidates` lists DERIVED stage checkpoints; their _SUCCESS
        markers are removed on disk BEFORE this stage is extended, so a
        crash between the append and the derived rebuild leaves them
        marked stale (rebuilt next run) instead of silently served.

        df_fn(todo) must emit a row for every input key, or resume
        would re-do the keys it left out.
        """
        t0 = time.monotonic()
        fresh = not self.has_stage(stage)
        todo = inputs if fresh else self.resume_filter(inputs, stage, key=key)
        if not fresh and todo.isEmpty():
            return self.read_stage(stage), None
        for s in invalidates:
            self.invalidate_stage(s)
        new = self._write(stage, df_fn(todo), "overwrite" if fresh else "append",
                          t0, bytes_in_col, bytes_out_col)
        return self.read_stage(stage), new

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(f"{self.root}/_lineage")

    def resume_filter(self, documents: DataFrame, stage: str,
                      key: str = "url") -> DataFrame:
        """Drop inputs already present in a stage checkpoint (anti-join
        on the natural key — the reference's result_store_ map analog,
        /root/reference/server/ocr_handler.cpp:157-205)."""
        if not self.has_stage(stage):
            return documents
        # the key's type comes from the inputs: no inference job
        done = self.read_stage(stage, StructType([documents.schema[key]]))
        return documents.join(done, key, "left_anti")
