"""Derive the 10x input tables from the committed sf0.01 base tables.

The recipe is the one ``tools/make_sf1.py`` applies to sf0.1, re-stated
here so the benchmark can run it on its own base and output directory:

- documents: per-replica character rotation of the text keeps lengths
  and token counts while making cross-replica shingles differ;
- lineitem / orders / customer: order and customer key offsets, so each
  replica keeps its own join structure;
- nation, region, part, supplier: copied unreplicated (dimensions).

Usage: ``python3 perfbench/inputs.py SRC_DIR DST_DIR``. The script
writes ``DST_DIR/manifest.json`` last, after checking that every
replicated table holds exactly ten times its base rows; a directory
without a manifest is incomplete and is derived again.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

R = 10
OK_OFF, CK_OFF = 100_000_000, 10_000_000
ALPHA = "etaoinshrd"
#: events is not replicated: no workload on these inputs reads it
REPLICATED = ("documents", "lineitem", "orders", "customer")
COPIED = ("nation", "region", "part", "supplier")


def _replicas(df, make):
    out = df
    for i in range(1, R):
        out = out.unionByName(make(i))
    return out


def derive(spark, src: str, dst: str) -> None:
    from pyspark.sql import functions as F

    def read(name):
        return spark.read.parquet(os.path.join(src, f"{name}.parquet"))

    def write(df, name, parts=32):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    docs = read("documents")
    write(_replicas(docs, lambda i: docs.select(
        (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
        F.translate("text", ALPHA, ALPHA[i:] + ALPHA[:i]).alias("text"),
        "lang", "source", "n_chars",
    )), "documents")

    li = read("lineitem")
    write(_replicas(li, lambda i: li.withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(i * OK_OFF)
    )), "lineitem")

    orders = read("orders")
    write(_replicas(orders, lambda i: orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(i * OK_OFF)
    ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * CK_OFF))), "orders")

    cust = read("customer")
    write(_replicas(cust, lambda i: cust.withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(i * CK_OFF)
    )), "customer")

    for name in COPIED:
        write(read(name), name, parts=1)


def row_counts(spark, root: str) -> dict[str, int]:
    return {
        name: spark.read.parquet(os.path.join(root, f"{name}.parquet")).count()
        for name in REPLICATED + COPIED
    }


def check_counts(base: dict[str, int], derived: dict[str, int]) -> list[str]:
    """Return one message per table whose derived row count is off."""
    bad = []
    for name in REPLICATED + COPIED:
        want = base[name] * (R if name in REPLICATED else 1)
        if derived.get(name) != want:
            bad.append(f"{name}: {derived.get(name)} rows, expected {want}")
    return bad


def main(src: str, dst: str) -> int:
    from data_frame_spark.session import get_spark

    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    spark = get_spark("perfbench-inputs")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        derive(spark, src, dst)
        base, derived = row_counts(spark, src), row_counts(spark, dst)
    finally:
        spark.stop()
    bad = check_counts(base, derived)
    if bad:
        print("derived inputs are wrong: " + "; ".join(bad), file=sys.stderr)
        return 1
    tmp = os.path.join(dst, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"base_rows": base, "rows": derived, "replicas": R}, f, indent=1)
    os.replace(tmp, os.path.join(dst, "manifest.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
