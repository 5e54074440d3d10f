"""SQL surface (reference df-read/sql, private/sql.rkt:30-54).

The reference runs a SQL query over a live DB connection and turns
the result set into a frame. Our engine's equivalent:

``read_sql`` runs SQL text against the session catalog (any
registered table/view, including every loaded parquet table);
``sql-null`` -> NULL is native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_sql(spark: SparkSession, query: str) -> DataFrame:
    """Run SQL against registered tables; the result is a frame."""
    return spark.sql(query)
