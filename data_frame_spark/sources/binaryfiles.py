"""Binary-file corpus ingestion — the multimodal on-ramp.

A multimodal training corpus starts life as directories of media
files. Spark's built-in ``binaryFile`` data source reads each file as
one row ``(path, modificationTime, length, content: binary)`` with
the content column lazily loaded per file — so a directory of images
becomes a DataFrame whose ``content`` column feeds the
:mod:`operators.multimodal` pipeline (format sniff → typed metadata →
Arrow-batched byte features) without any driver-side file walking.

Scale notes:

* ``pathGlobFilter`` / ``recursiveFileLookup`` select files at
  PLANNING time — a ``*.png`` glob never opens non-matching files.
* one file = one row: Spark parallelizes across files, so a million
  small images spread over the cluster naturally; a few giant files
  do NOT split (the source is whole-file by contract) — shard huge
  archives upstream.
* ``spark.sql.files.maxPartitionBytes`` groups small files into
  ~128 MB tasks, the same bin-packing the parquet scan uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Read a directory tree of files (subdirectories included) as
    (path, modificationTime, length, content) rows via the built-in
    ``binaryFile`` source."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
