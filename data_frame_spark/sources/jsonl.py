"""JSONL (newline-delimited JSON) corpus source/sink.

The reference reads CSV/GPX/TCX/SQL (private/csv.rkt, gpx.rkt,
tcx.rkt, sql.rkt); JSONL is the net-new format a training-data
pipeline actually lands documents in (one JSON object per line —
splittable, append-friendly, schema-on-read). Spark's native json
reader does the heavy lifting; this wrapper pins the pipeline
contract:

* **explicit schema first** — schema inference is a full extra pass
  over 100 TB; callers pass the document schema (default: the
  `documents` table shape) and inference is opt-in for exploration.
* **corrupt-record quarantine, not failure** — a malformed line in a
  billion-line corpus must neither kill the job (FAILFAST) nor
  silently vanish (DROPMALFORMED): PERMISSIVE mode keeps the raw
  line in a quarantine column for audit/replay.
* **write round-trips** — ignoreNullFields=false so None survives
  write -> read (a dropped key would otherwise read back as NULL of
  an inferred-absent column, breaking parity tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: default corpus shape — matches the `documents` table
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a JSONL corpus. With a ``schema`` the returned frame
    carries ``_corrupt_record`` (NULL for clean rows; the raw line
    for malformed ones) — filter/quarantine downstream. Passing
    ``schema=None`` infers (exploration only; extra full pass)."""
    if schema is None:
        return spark.read.json(path)
    full = schema
    if CORRUPT_COL not in [f.name for f in schema.fields]:
        full = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write as JSONL, replacing any output at ``path``; null fields
    serialized explicitly so writes round-trip (see module
    docstring)."""
    df.write.mode("overwrite").option("ignoreNullFields", "false").json(path)
