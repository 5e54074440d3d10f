"""Parity of registry rows (and the legs and operators under them)
with their DuckDB oracle twins in ``data_frame_spark/queries.py``:
each Spark side matches its oracle bit for bit on the sf0.001
tables, and the family rows' frozen snapshot oracles keep their
byte-identity checksums."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from data_frame_spark import queries as Q


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in (
        "events", "lineitem", "documents", "customer", "orders", "supplier",
        "embeddings", "region", "nation", "part",
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield c
    c.close()


def test_cusum_oracle_matches_spark(spark, sf_dir, con):
    from data_frame_spark.operators import window as OpW

    ev = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("v_micro"),
        )
    )
    out = OpW.cusum(
        ev,
        "v_micro",
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
        target_micro=Q.CUSUM_TARGET_MICRO,
        threshold_micro=Q.CUSUM_THRESHOLD_MICRO,
    ).select("event_id", "user_id", "cusum_micro", "alarm")
    got = {
        r["event_id"]: (r["user_id"], r["cusum_micro"], r["alarm"])
        for r in out.collect()
    }
    want = {
        eid: (uid, cs, al)
        for eid, uid, cs, al in con.execute(Q.ORACLE["cusum_drift_events"]).fetchall()
    }
    assert len(got) > 100
    assert got == want


def test_pagerank_oracle_matches_spark(spark, sf_dir, con):
    from data_frame_spark.operators.graph import pagerank

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    b = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + Q.PAGERANK_SUPP_OFFSET).cast("long").alias("dst"),
    ).distinct()
    edges = b.unionAll(b.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    got = {
        r["node"]: r["rank_micro"] for r in pagerank(edges, iterations=4).collect()
    }
    want = dict(con.execute(Q.ORACLE["pagerank_part_supplier"]).fetchall())
    assert len(got) > 100
    assert got == want


def test_bpe_oracle_matches_spark(spark, sf_dir, con):
    from data_frame_spark.operators.bpe import bpe_fit

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = [
        (r["rank"], r["left"], r["right"], r["pair_n"])
        for r in bpe_fit(docs, n_merges=12).orderBy("rank").collect()
    ]
    # the 'fit' facet of the registered bpe_family oracle replays the
    # same merge loop in DuckDB
    want = sorted(
        row[1:5]
        for row in con.execute(Q.ORACLE["bpe_family"]).fetchall()
        if row[0] == "fit"
    )
    assert len(got) == 12  # corpus sustains every merge (oracle contract)
    assert got == want


def test_classifier_oracle_matches_spark(spark, sf_dir, con):
    from data_frame_spark.operators.classify import linear_text_classifier

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = linear_text_classifier(
        docs,
        "text",
        "doc_id",
        Q.CLASSIFIER_WEIGHTS_MICRO,
        bias_micro=Q.CLASSIFIER_BIAS_MICRO,
        threshold_micro=Q.CLASSIFIER_THRESHOLD_MICRO,
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_sum_micro"], r["keep"])
        for r in out.collect()
    }
    want = {
        did: (n, s, k)
        for did, n, s, k in con.execute(Q.ORACLE["classifier_quality_docs"]).fetchall()
    }
    assert len(got) > 50
    # the verdict must discriminate (not all-keep / all-drop)
    kept = sum(1 for v in got.values() if v[2])
    assert 0 < kept < len(got)
    assert got == want


def test_containment_oracle_matches_spark(spark, sf_dir, con):
    from data_frame_spark.operators.dedup import contamination_containment

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = docs.where(F.col("doc_id") % 50 == 0)
    out = contamination_containment(docs, bench, "text", "doc_id", n=13)
    got = {
        (r["doc_id"], r["bench_id"]): (
            r["shared_ngrams"], r["doc_ngrams"], r["containment_micro"]
        )
        for r in out.collect()
    }
    want = {
        (d, b): (s, t, c)
        for d, b, s, t, c in con.execute(
            Q.ORACLE["containment_decontamination_docs"]
        ).fetchall()
    }
    assert len(got) > 5
    # the benchmark docs themselves contain 100% of their own n-grams
    selfs = [v for (d, b), v in got.items() if d == b]
    assert selfs and all(c == 1_000_000 for _, _, c in selfs)
    # and the score must discriminate (some partial overlaps)
    assert any(c < 1_000_000 for _, _, c in got.values())
    assert got == want


def test_corpus_row_oracles_are_integer_through_pandas(con):
    # the round-11/12 driver reds' root cause: SUM(CAST(.. AS BIGINT))
    # returns HUGEINT, which pandas coerces to float64 while the Spark
    # side is non-null int64 — value-equal, dtype-different, hash-red
    # under a str-cell canon. The corpus rows merged into
    # xml_corpus_family in round 13; the family's NULL-superset facet
    # columns are nullable on BOTH engines (they coerce to float64
    # together — the kmv_family green pattern), so the float-free pin
    # now applies to the columns that are NON-NULL in both facets.
    # tools/check_dtypes.py runs the full dtype-parity gate
    # registry-wide.
    df = con.execute(Q.ORACLE["xml_corpus_family"]).df()
    both_facets_non_null = [
        "user_id", "n_points", "lat_micro_sum", "lon_micro_sum",
        "t_min", "t_max",
    ]
    floats = [
        c for c in both_facets_non_null if df.dtypes[c].kind == "f"
    ]
    assert not floats, f"xml_corpus_family: float64-coerced columns {floats}"


def test_wav_corpus_oracle_matches_spark(spark, sf_dir, con):
    out = Q.wav_corpus_spark(spark, sf_dir)
    got = {
        r["doc_id"]: (
            r["n_samples"], r["sample_sum"], r["abs_sum"],
            r["peak_abs"], r["zero_crossings"], r["ok"],
        )
        for r in out.collect()
    }
    want = {
        d: (n, ss, ab, pk, zc, ok)
        for d, n, ss, ab, pk, zc, ok in con.execute(
            Q.wav_corpus_oracle_sql()
        ).fetchall()
    }
    assert len(got) > 10
    assert all(v[5] for v in got.values())  # every synthetic WAV decodes
    assert any(v[4] > 0 for v in got.values())  # crossings actually occur
    assert got == want


def test_video_corpus_oracle_matches_spark(spark, sf_dir, con):
    out = Q.video_corpus_spark(spark, sf_dir)
    got = {
        r["doc_id"]: (
            r["format"], r["major_brand"], r["timescale"],
            r["duration_units"], r["duration_us"], r["n_tracks"], r["ok"],
        )
        for r in out.collect()
    }
    want = {
        d: (f, b, ts, du, us, nt, ok)
        for d, f, b, ts, du, us, nt, ok in con.execute(
            Q.video_corpus_oracle_sql()
        ).fetchall()
    }
    assert len(got) > 10
    assert all(v[6] for v in got.values())  # every synthetic mp4 parses
    assert len({v[5] for v in got.values()}) == 3  # track counts vary
    assert got == want


def test_binary_corpus_family_oracle_matches_spark(spark, sf_dir, con):
    out = Q.binary_corpus_family(spark, sf_dir)
    cols = out.columns
    got = {
        (r["facet"], r["doc_id"]): tuple(r[c] for c in cols[2:])
        for r in out.collect()
    }
    want = {
        (row[0], row[1]): tuple(row[2:])
        for row in con.execute(Q.ORACLE["binary_corpus_family"]).fetchall()
    }
    assert len(got) > 20 and len({f for f, _ in got}) == 2
    assert got == want


def test_xml_corpus_family_oracle_matches_spark(spark, sf_dir, con):
    # Spark facet union vs the DuckDB facet-union oracle
    out = Q.QUERIES["xml_corpus_family"](spark, sf_dir)
    cols = out.columns
    got = {
        (r["facet"], r["user_id"]): tuple(r[c] for c in cols[2:])
        for r in out.collect()
    }
    want = {
        (row[0], row[1]): tuple(row[2:])
        for row in con.execute(Q.ORACLE["xml_corpus_family"]).fetchall()
    }
    assert len(got) > 20 and len({f for f, _ in got}) == 2
    assert got == want


def test_orc_roundtrip_oracle_matches_spark(spark, sf_dir, con):
    out = Q.orc_roundtrip_spark(spark, sf_dir)
    cols = out.columns
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.orc_roundtrip_oracle_sql()).fetchall())
    assert len(got) > 50
    assert got == want


def test_binary_ingest_oracle_matches_spark(spark, sf_dir, con):
    # the binaryFile directory-ingest surface end-to-end: executor-written
    # WAV files -> planning-time glob -> whole-file rows -> real decode;
    # same aggregates as the in-plan wav corpus, so the twin is shared
    out = Q.binary_file_ingest(spark, sf_dir)
    got = {
        r["doc_id"]: (
            r["n_samples"], r["sample_sum"], r["abs_sum"],
            r["peak_abs"], r["zero_crossings"], r["ok"],
        )
        for r in out.collect()
    }
    want = {
        d: (n, ss, ab, pk, zc, ok)
        for d, n, ss, ab, pk, zc, ok in con.execute(
            Q.ORACLE["binary_file_ingest"]
        ).fetchall()
    }
    assert len(got) > 10
    assert all(v[5] for v in got.values())
    assert got == want


def test_jsonl_roundtrip_oracle_matches_spark(spark, sf_dir, con):
    out = Q.jsonl_roundtrip_spark(spark, sf_dir)
    cols = out.columns
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.jsonl_roundtrip_oracle_sql()).fetchall())
    assert len(got) > 30
    assert got == want


def test_format_roundtrip_family_oracle_matches_spark(spark, sf_dir, con):
    # documents view needed alongside lineitem — `con` has both
    out = Q.format_roundtrip_family(spark, sf_dir)
    cols = out.columns
    got = sorted(
        tuple(r[c] for c in cols) for r in out.collect()
    )
    want = sorted(
        con.execute(Q.ORACLE["format_roundtrip_family"]).fetchall()
    )
    assert len(got) > 80 and len({row[0] for row in got}) == 2
    assert got == want


def test_event_funnel_family_oracle_matches_spark(spark, sf_dir, con):
    out = Q.event_funnel_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(
        tuple(r[c] for c in cols) for r in out.collect()
    )
    want = sorted(con.execute(Q.ORACLE["event_funnel_family"]).fetchall())
    assert len(got) > 20 and len({row[0] for row in got}) == 4
    assert got == want


def _none_safe(row):
    return tuple((v is None, v) for v in row)


@pytest.mark.parametrize(
    "name",
    [
        "histogram_family", "kmv_family", "spans_family",
        "embedding_dedup_family", "ivf_family", "roundtrip_family",
        "bpe_family", "set_ops_family",
    ],
)
def test_facet_union_oracle_matches_spark(spark, sf_dir, con, name):
    # positional: the Spark columns in schema order against the
    # oracle's, so a facet union that reorders its columns fails here
    out = Q.QUERIES[name](spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    cur = con.execute(Q.ORACLE[name])
    assert cols == [d[0] for d in cur.description]
    want = sorted(cur.fetchall(), key=_none_safe)
    got = sorted((tuple(r[c] for c in cols) for r in out.collect()), key=_none_safe)
    assert len({row[0] for row in want}) > 1
    assert got == want


def test_family_registrations_use_the_snapshot_oracles():
    # the family rows register FROZEN literal oracles (snapshots of
    # their retired parents' verified SQL); each checksum is the
    # independent byte-identity link to the frozen text, so an edit
    # to a literal fails HERE, not first in DuckDB parity
    import hashlib

    frozen = {
        "event_funnel_family": "5623806f4132a4f9cfc3d399248588cc",
        "meanmax_curve_family": "a651f4c721c0a4efc41f228834db0eaf",
        "index_ops_family": "f94e018edee970ba754d03cf3189c301",
        "decontamination_family": "daa696eeb586761515746d58e8f9ee21",
        "binary_features_family": "fc1487ea204796da71291485d20fe345",
        "fits_family": "ef0493a1c14e2f38e6e0a6a41ffc6159",
    }
    for name, digest in frozen.items():
        assert hashlib.md5(Q.ORACLE[name].encode()).hexdigest() == digest, name


def test_meanmax_curve_family_oracle_matches_spark(spark, sf_dir, con):
    out = Q.meanmax_curve_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(
        tuple(r[c] for c in cols) for r in out.collect()
    )
    want = sorted(con.execute(Q.ORACLE["meanmax_curve_family"]).fetchall())
    assert len(got) > 8 and len({row[0] for row in got}) == 2
    assert got == want


def test_sssp_oracle_matches_spark(spark, sf_dir, con):
    got = {
        r["node"]: r["dist"] for r in Q.sssp_cheapest_route(spark, sf_dir).collect()
    }
    want = dict(con.execute(Q.ORACLE["sssp_cheapest_route"]).fetchall())
    assert len(got) > 100
    # seeds at 0; weighted costs actually accumulate over multi-hop paths
    assert 0 in set(got.values()) and max(got.values()) > 0
    assert got == want


def test_scd2_oracle_matches_spark(spark, sf_dir, con):
    out = Q.scd2_customer_dim(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["scd2_customer_dim"]).fetchall())
    assert len(got) > 100
    assert got == want
    # real SCD2 structure: exactly one current row per key, and the
    # change-collapse actually dropped some no-op updates
    by_key = {}
    for k, _seg, _vf, vt, cur in got:
        assert cur == (vt is None)
        by_key.setdefault(k, []).append(cur)
    assert all(sum(flags) == 1 for flags in by_key.values())


def test_index_ops_family_oracle_matches_spark(spark, sf_dir, con):
    out = Q.index_ops_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["index_ops_family"]).fetchall())
    assert len(got) > 20 and len({row[0] for row in got}) == 2
    assert got == want


def test_image_corpus_oracle_matches_spark(spark, sf_dir, con):
    out = Q.image_corpus_features(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["image_corpus_features"]).fetchall())
    assert len(got) > 10 and len({row[1] for row in got}) == 2
    assert all(row[-1] for row in got)  # every payload parsed ok
    assert got == want


def test_table_diff_oracle_matches_spark(spark, sf_dir, con):
    out = Q.table_diff_customers(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["table_diff_customers"]).fetchall())
    kinds = {row[1] for row in got}
    assert kinds == {"added", "removed", "changed"}
    assert got == want


def test_ppr_oracle_matches_spark(spark, sf_dir, con):
    got = {
        r["node"]: r["rank_micro"]
        for r in Q.ppr_part_seeds(spark, sf_dir).collect()
    }
    want = dict(con.execute(Q.ORACLE["ppr_part_seeds"]).fetchall())
    assert len(got) > 100
    # personalization is real: non-seed-reachable mass stays 0 only if
    # disconnected — on this connected fixture every node ends > 0 by
    # hop 2+, but ranks must SKEW toward seeds (seed mean > global)
    seeds = {n for n in got if n % 100 == 0 and n < 1_000_000}
    assert seeds
    seed_mean = sum(got[n] for n in seeds) / len(seeds)
    global_mean = sum(got.values()) / len(got)
    assert seed_mean > global_mean
    assert got == want


def test_graph_suite_v2_oracle_matches_spark(spark, sf_dir, con):
    out = Q.graph_suite_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["graph_suite_family"]).fetchall())
    assert len({row[0] for row in got}) == 4
    tri = {node: v for facet, node, v in got if facet == "triangles"}
    assert len(tri) > 100
    assert any(v > 0 for v in tri.values())  # the graph closes triangles
    # counts must discriminate (per-order cliques of different sizes)
    assert len(set(tri.values())) > 3
    # a real surviving k-core, not a trivial wipeout
    assert sum(1 for row in got if row[0] == "kcore_degree") > 100
    assert got == want


def test_gapfill_oracle_matches_spark(spark, sf_dir, con):
    # time-bucket gap-fill, locf + linear facets
    out = Q.gapfill_daily_value(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["gapfill_daily_value"]).fetchall())
    assert len(got) > 100
    # real gaps exist AND get filled (locf facet: n=0 rows with a
    # non-null filled value)
    assert any(r[3] == 0 and r[5] is not None for r in got if r[0] == "locf")
    assert got == want


def test_merge_upsert_oracle_matches_spark(spark, sf_dir, con):
    # MERGE INTO / SCD1 upsert
    out = Q.merge_upsert_customers(spark, sf_dir)
    got = sorted((r["c_custkey"], r["c_mktsegment"]) for r in out.collect())
    want = sorted(con.execute(Q.ORACLE["merge_upsert_customers"]).fetchall())
    assert len(got) > 100
    segs = {s for _, s in got if s}
    # all three branches fire: overwrites, survivors, inserts
    assert any(s.startswith("UPDATED_") for s in segs)
    assert "SUPPLIER_NEW" in segs
    assert any(not s.startswith(("UPDATED_", "SUPPLIER_NEW")) for s in segs)
    assert got == want


def test_decontamination_family_oracle_matches_spark(spark, sf_dir, con):
    # the three decontamination legs on one NULL-superset facet union
    out = Q.decontamination_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(
        tuple(r[c] for c in cols) for r in out.collect()
    )
    want = sorted(
        tuple(row) for row in con.execute(
            Q.ORACLE["decontamination_family"]
        ).fetchall()
    )
    assert len(got) > 20 and len({row[0] for row in got}) == 3
    assert got == want


def test_binary_features_family_oracle_matches_spark(spark, sf_dir, con):
    out = Q.binary_features_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(
        tuple(row) for row in con.execute(
            Q.ORACLE["binary_features_family"]
        ).fetchall()
    )
    assert len(got) > 20 and len({row[0] for row in got}) == 2
    assert got == want


def test_binary_features_leg_guard():
    # unknown leg names fail loudly (the decontamination_leg motion)
    with pytest.raises(ValueError, match="unknown binary_features leg"):
        Q.binary_features_leg(None, "", "nope")


def test_fits_family_v2_oracle_matches_spark(spark, sf_dir, con):
    out = Q.fits_family(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(
        tuple(r[c] for c in cols) for r in out.collect()
    )
    want = sorted(
        tuple(row) for row in con.execute(
            Q.ORACLE["fits_family"]
        ).fetchall()
    )
    # 7 fit kinds + 2 residual kinds, facet-disjoint
    assert len(got) == 9 and len({row[0] for row in got}) == 2
    assert got == want


def test_pivot_melt_oracle_matches_spark(spark, sf_dir, con):
    # bounded-domain pivot + melt round trip
    out = Q.pivot_melt_orders(spark, sf_dir)
    got = sorted(
        (r["o_orderstatus"], r["o_orderpriority"], r["n"])
        for r in out.collect()
    )
    want = sorted(con.execute(Q.ORACLE["pivot_melt_orders"]).fetchall())
    # full grid: every (status, priority) cell exists exactly once
    assert len(got) == len({(s, p) for s, p, _ in got})
    assert len(got) % len(Q.PIVOT_PRIORITIES) == 0
    assert got == want


def test_psi_drift_oracle_matches_spark(spark, sf_dir, con):
    # PSI distribution drift of even- vs odd-user value
    # distributions per event_type
    out = Q.psi_value_drift(spark, sf_dir)
    cols = [f.name for f in out.schema.fields]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(
        tuple(row) for row in con.execute(Q.ORACLE["psi_value_drift"]).fetchall()
    )
    assert len(got) == 5  # one row per event_type
    # the parity cohorts draw from the same distribution, so PSI is
    # pure finite-sample jitter: nonzero (the arithmetic isn't
    # vacuous) but bounded well below a real shift (at the sf0.001
    # fixture ~100 rows/side put the jitter around 0.01-0.21 nats;
    # a genuine distribution change reads far higher — the known-
    # shift unit test in tests/test_drift.py pins that side)
    assert all(0 < r[-1] < 500_000 for r in got)
    assert got == want


def test_session_windows_oracle_matches_spark_at_the_gap_edge(spark, tmp_path):
    # Spark's session windows merge when they touch: u1's events at
    # 0 s and exactly 1,800 s (the 30-minute gap) form ONE session,
    # u2's at 0 s and 1,801 s form two. The shipped tables have no
    # gap of exactly 1,800 s, so this edge needs its own table.
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    epoch = dt.datetime(2024, 1, 1)
    rows = [(1, "u1", 0), (2, "u1", 1800), (3, "u2", 0), (4, "u2", 1801)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [epoch + dt.timedelta(seconds=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": [r[1] for r in rows],
                "value": pa.array([1.0] * len(rows), pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    out = Q.QUERIES["session_windows_30m"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in out.collect())
    c = duckdb.connect()
    try:
        c.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
        want = sorted(c.execute(Q.ORACLE["session_windows_30m"]).fetchall())
    finally:
        c.close()
    start = int(epoch.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == [
        ("u1", start, 2, 2.0),
        ("u2", start, 1, 1.0),
        ("u2", start + 1801, 1, 1.0),
    ]
    assert got == want
