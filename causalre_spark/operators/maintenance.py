"""Table-maintenance operators: small-file compaction.

A long-running ingest (the streaming sinks, incremental delta runs)
accretes many small parquet files; at Iceberg scale the table needs
periodic OPTIMIZE/rewrite — scans pay a per-file open cost, and 10^6
tiny files can dominate a 10^12-row read.
This module plans and executes that rewrite with the same relational
machinery as everything else:

  - file inventory comes from the hidden `_metadata` column
    (file_path, file_size) — no filesystem listing code, works on any
    Hadoop-compatible store;
  - bin assignment is a prefix scan: files
    ordered deterministically, running byte offset per shard, bin =
    offset // target — so the plan is total-order deterministic and
    the planner is a pure DataFrame program;
  - execution tags each row with its file's bin (map-side broadcast
    join against the tiny plan) and writes one output file per bin.

At production scale the executor would do per-bin coalesced reads
instead of the row shuffle (Iceberg's rewrite action); the PLAN is the
part that must be exact, and it is pytest-gated here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def file_inventory(df: DataFrame) -> DataFrame:
    """(file, bytes) for every file backing a parquet-scanned frame,
    via the hidden _metadata struct (no driver-side listing)."""
    return (
        df.select(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_size").alias("bytes"),
        )
        .distinct()
    )


def compaction_plan(files: DataFrame, target_bytes: int) -> DataFrame:
    """(file, bytes) -> (file, bytes, bin): greedy contiguous packing
    of files into ~target_bytes output bins.

    Files are laid out as one byte stream in deterministic (file) order
    and cut every target_bytes, so a bin's total size is bounded by
    target_bytes + one file (a file that straddles a cut closes the
    bin it starts in). A single window is fine here: the inventory is
    one row per FILE (already ~10^6x smaller than the table); shard the
    inventory first if even that is huge.
    """
    w = Window.orderBy("file")
    with_off = files.withColumn("end_off", F.sum("bytes").over(w))
    return with_off.select(
        "file", "bytes",
        ((F.col("end_off") - F.col("bytes")) / target_bytes)
        .cast("long").alias("bin"),
    )


def compact_parquet(spark: SparkSession, src_path: str, dst_path: str,
                    target_bytes: int) -> DataFrame:
    """Rewrite a small-file parquet directory into ~target_bytes files.

    Returns the plan that was executed. Content is preserved row for
    row (pytest-gated); the output is a table DIRECTORY-PARTITIONED BY
    `bin` with EXACTLY one data file per bin: after the hash
    repartition on the bin key every bin's rows live in a single task
    (two bins may share a task — harmless), and partitionBy splits that
    task's write one file per bin value. Because partition discovery
    surfaces `bin` as a column on read, consumers that need the
    ORIGINAL schema must read via :func:`read_compacted` (or
    `.drop("bin")`) — same contract as any partitioned table whose
    partition column is internal.
    """
    df = spark.read.parquet(src_path)
    # collect the tiny plan ONCE (it is broadcast-joined anyway): the
    # lazy plan lineage re-lists the small-file inventory — exactly the
    # slow phase on a high-file-count store — so every extra action on
    # it repeats the worst part of the job
    plan_rows = compaction_plan(file_inventory(df), target_bytes).collect()
    n_bins = max((r["bin"] for r in plan_rows), default=0) + 1
    plan = spark.createDataFrame(plan_rows,
                                 "file string, bytes long, bin long")
    tagged = (
        df.withColumn("_file", F.col("_metadata.file_path"))
        .join(F.broadcast(plan.select(F.col("file").alias("_file"), "bin")),
              "_file")
        .drop("_file")
    )
    (tagged.repartition(n_bins, "bin")
     .write.mode("overwrite").partitionBy("bin").parquet(dst_path))
    return plan


def read_compacted(spark: SparkSession, dst_path: str) -> DataFrame:
    """Read a :func:`compact_parquet` output with the ORIGINAL schema
    (drops the internal `bin` partition column that partition discovery
    re-surfaces)."""
    return spark.read.parquet(dst_path).drop("bin")
