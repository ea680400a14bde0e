"""Table sinks: the reference's HdfsTableSink surface on Spark.

Reference: INSERT INTO / INSERT OVERWRITE [PARTITION] with per-partition
writers and optional clustered (sorted) inserts —
`be/src/exec/hdfs-table-sink.cc` (735 LoC), parquet/text writers under
`be/src/exec/parquet/hdfs-parquet-table-writer.cc`; the planner's sort
for clustered inserts comes from PartialSortNode
(`be/src/exec/partial-sort-node.h:67`).

Spark mapping: `DataFrameWriter` covers all of it — dynamic partition
overwrite replicates Impala's per-partition INSERT OVERWRITE, and
`sortWithinPartitions` before write is the clustered-insert analogue
(one writer per open file, ordered row groups → better compression and
row-group pruning for later scans).

Scale notes: writes shuffle only if asked (`repartition` by the
partition columns prevents the many-small-files problem: without it,
every task writes a file per partition value it sees — at 1000
executors × 1000 partition values that's 10^6 files per insert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def configure_dynamic_overwrite(spark: SparkSession) -> None:
    """INSERT OVERWRITE PARTITION semantics: replace only the
    partitions present in the input (Impala's behaviour), not the
    whole table."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def insert_overwrite(df: DataFrame, table: str) -> None:
    """Dynamic partition overwrite (only touched partitions replaced)."""
    configure_dynamic_overwrite(df.sparkSession)
    df.write.insertInto(table, overwrite=True)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      clustered_by: list[str] | None = None,
                      fmt: str = "parquet") -> None:
    """Partitioned directory write with optional clustered (sorted)
    layout inside each partition file.

    The `repartition` on the partition columns gives one writer task
    per partition value (no small-files explosion); the within-
    partition sort is the reference's clustered insert.
    """
    out = df.repartition(*partition_cols)
    if clustered_by:
        out = out.sortWithinPartitions(*clustered_by)
    out.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def compact_small_files(spark: SparkSession, path: str,
                        target_file_mb: int = 128,
                        fmt: str = "parquet") -> int:
    """Rewrite a table directory into right-sized files; returns the
    new file count.

    The small-files problem is the operational killer of long-running
    ingestion at scale (10^5 tiny files per day of streaming appends
    make every scan metadata-bound). Sizing is estimated from the
    current on-disk bytes; the rewrite is a coalesce — no shuffle —
    then an atomic directory swap.
    """
    import math
    import os
    import shutil

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)
    tmp = f"{path}__compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").format(fmt).save(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files
