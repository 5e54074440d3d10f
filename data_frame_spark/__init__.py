"""data_frame_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the ``alex-hhh/data-frame`` Racket library
(see SURVEY.md), designed Spark-first: every operator is a
declarative DataFrame/SQL transformation so Catalyst/Tungsten pick
the physical strategy, and every formulation is partition-friendly
for very large (100 TB-class) inputs.

Layout:
  session     — SparkSession builder with scale-appropriate defaults
  frame       — Frame: DataFrame + table properties + declared order
  sources/    — readers/writers (CSV with reference NA semantics, GPX/TCX,
                JSONL, ORC, binary files, SQL)
  operators/  — the operator library (lookup/as-of, stats, histogram,
                mean-max, fits, RDP, dedup, similarity, text, multimodal)
  functions/  — scalar expression helpers (haversine, timestamps, ...)
  streaming/  — Structured Streaming windows and interval joins over events
  plans/      — plan-inspection helpers (pushdown/codegen assertions)
"""

from data_frame_spark.session import get_spark
from data_frame_spark.frame import Frame

__version__ = "0.1.0"

__all__ = ["get_spark", "Frame", "__version__"]
