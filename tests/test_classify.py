"""linear_text_classifier semantics (operators/classify.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators.classify import linear_text_classifier


def test_classifier_verdict_is_division_free_exact(spark):
    # 2 buckets; every token hashes somewhere deterministic — compute
    # expectations from the operator's own hash to stay engine-true
    from data_frame_spark.functions.texthash import hash60

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "cc")], "doc_id long, text string"
    )
    w = [1_000_000, -3_000_000]
    out = {
        r["doc_id"]: (r["n_tokens"], r["score_sum_micro"], r["keep"])
        for r in linear_text_classifier(
            df, "text", "doc_id", w, bias_micro=500_000, threshold_micro=0
        ).collect()
    }
    buckets = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([("aa",), ("bb",), ("cc",)], "t string")
        .select("t", (hash60(F.col("t")) % 2).alias("b"))
        .collect()
    }
    for did, text in ((1, ["aa", "bb", "aa"]), (2, ["cc"])):
        n = len(text)
        s = sum(w[buckets[t]] for t in text)
        assert out[did] == (n, s, s + 500_000 * n >= 0)


def test_classifier_skips_empty_and_whitespace_docs(spark):
    # tokens('') is [''] under split semantics — an empty document
    # must produce NO row, not a verdict from the ''-bucket's weight
    # (round-12 review finding)
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real text")],
        "doc_id long, text string",
    )
    rows = linear_text_classifier(df, "text", "doc_id", [5, -5]).collect()
    assert {r["doc_id"] for r in rows} == {4}


def test_classifier_at_realistic_bucket_count(spark):
    # 2^16 buckets — the advertised "few KB-MB" weight regime. The
    # weight vector must ride the plan as ONE Literal node (not a
    # multi-MB parsed SQL string, round-12 advisory), and the scoring
    # must stay exact: expectations recomputed from the operator's
    # own hash
    from data_frame_spark.functions.texthash import hash60

    b = 1 << 16
    w = [((i * 2654435761) % 2_000_001) - 1_000_000 for i in range(b)]
    toks = ["alpha", "beta", "gamma", "alpha"]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = linear_text_classifier(df, "text", "doc_id", w).collect()
    buckets = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in set(toks)], "t string")
        .select("t", (hash60(F.col("t")) % b).alias("b"))
        .collect()
    }
    s = sum(w[buckets[t]] for t in toks)
    assert [(r["doc_id"], r["n_tokens"], r["score_sum_micro"]) for r in out] == [
        (1, 4, s)
    ]


def test_classifier_rejects_empty_weights(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        linear_text_classifier(df, "text", "doc_id", [])

