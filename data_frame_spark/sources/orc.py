"""ORC source/sink — the second columnar table format.

The reference ships CSV/GPX/TCX/SQL readers (``df-read/csv`` at
``private/csv.rkt``, etc.); a Spark-native engine additionally speaks
the columnar formats a data-lake user already has. ORC gives the same
contract as parquet — column pruning, predicate pushdown to the
stripe/row-group level, hive partition pruning — through Spark's
built-in ``orc`` data source (no extra packages).

Scale notes: repartition by the hive partition columns before the
write (avoids the tasks × partitions small-files explosion), and
read back with directory-pruning filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Write an (optionally hive-partitioned) ORC table, replacing
    any table at ``path``.

    With ``partition_cols``, rows are repartitioned on the partition
    key first so each hive partition is produced by as few write
    tasks as possible — one shuffle now instead of a small-files
    explosion forever.
    """
    if partition_cols:
        out = df.repartition(*[F.col(c) for c in partition_cols])
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        writer = df.write.mode("overwrite")
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read an ORC table; hive partition columns come back typed, and
    filters on them prune directories at planning time (visible as
    ``PartitionFilters`` on the scan, same contract as parquet)."""
    return spark.read.orc(path)
