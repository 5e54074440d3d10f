from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from data_frame_spark.sources import csv as CSV
from data_frame_spark.sources import gpx as GPX
from data_frame_spark.sources import tcx as TCX
from data_frame_spark.functions.geo import haversine


def test_read_csv_messy(spark, tmp_path):
    # messy_csv torture shapes (FIXTURES.md §3)
    p = str(tmp_path / "messy.csv")
    with open(p, "w") as fh:
        fh.write('one,two,one,four\n')
        fh.write('1,2,3,"def,gh"\n')
        fh.write('4,,6,"a,bc 123 d""ef"\n')
        fh.write('7,8\n')  # short row -> NULL-padded
    df = CSV.read_csv(spark, p)
    assert df.columns == ["one", "two", "one (1)", "four"]
    rows = sorted(df.collect(), key=lambda r: r["one"])
    assert rows[0]["four"] == "def,gh"
    assert rows[1]["four"] == 'a,bc 123 d"ef'
    assert rows[1]["two"] is None  # empty cell = NA
    assert rows[2]["two"] == 8.0 and rows[2]["four"] is None  # padded
    # numeric inference: 'one' fully numeric -> double
    assert dict(df.dtypes)["one"] == "double"
    assert dict(df.dtypes)["four"] == "string"


def test_read_csv_headerless_and_custom_na(spark, tmp_path):
    p = str(tmp_path / "na.csv")
    with open(p, "w") as fh:
        fh.write("1,-,x\n2,5,y\n")
    df = CSV.read_csv(spark, p, headers=False, na="-")
    assert df.columns == ["col0", "col1", "col2"]
    rows = sorted(df.collect(), key=lambda r: r["col0"])
    assert rows[0]["col1"] is None and rows[1]["col1"] == 5.0


def test_read_csv_na_predicate(spark, tmp_path):
    # FIXTURES.md §3: custom predicate (even numbers as NA)
    p = str(tmp_path / "pred.csv")
    with open(p, "w") as fh:
        fh.write("a\n1\n2\n3\n4\n")
    df = CSV.read_csv(
        spark, p, na_predicate=lambda c: c.try_cast("double") % 2 == 0
    )
    vals = sorted(r["a"] for r in df.collect() if r["a"] is not None)
    assert vals == [1.0, 3.0]


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1.5, "x", None), (2.5, 'quote"d', 7.0)], ["a", "b", "c"]
    )
    out = str(tmp_path / "out")
    CSV.write_csv(df, out, single_file=True)
    back = CSV.read_csv(spark, out)
    rows = sorted(back.collect(), key=lambda r: r["a"])
    assert rows[0]["a"] == 1.5 and rows[0]["c"] is None
    assert rows[1]["b"] == 'quote"d'


def test_csv_roundtrip_row_registers_one_cleanup(spark, sf_dir, monkeypatch):
    # building the registered row repeatedly in one process must not
    # stack an atexit rmtree handler per call for its temp directory
    import atexit

    from data_frame_spark.queries import csv_roundtrip_lineitem

    calls = []
    monkeypatch.setattr(atexit, "register", lambda *a, **k: calls.append(a))
    for _ in range(2):
        csv_roundtrip_lineitem(spark, sf_dir)
    mine = [a for a in calls if "dfs_csv_roundtrip" in str(a[1:2])]
    assert len(mine) <= 1


GPX_SAMPLE = """<?xml version="1.0" encoding="UTF-8"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1" creator="t">
  <wpt lat="45.0" lon="25.0"><time>2020-01-01T00:01:00Z</time><name>L1</name></wpt>
  <trk><name>Morning Run</name><trkseg>
    <trkpt lat="45.0" lon="25.0"><ele>100.0</ele><time>2020-01-01T00:00:00Z</time></trkpt>
    <trkpt lat="45.001" lon="25.0"><ele>101.0</ele><time>2020-01-01T00:00:30Z</time></trkpt>
    <trkpt lat="45.002" lon="25.0"><ele>102.5</ele><time>2020-01-01T00:01:00.5Z</time></trkpt>
  </trkseg></trk>
</gpx>"""


def test_read_gpx(spark):
    fr = GPX.read_gpx(spark, GPX_SAMPLE)
    assert fr.get_property("name") == "Morning Run"
    assert fr.get_property("laps") == [GPX.iso_to_seconds("2020-01-01T00:01:00Z")]
    rows = fr.df.orderBy("timestamp").collect()
    assert len(rows) == 3
    assert rows[0]["lat"] == 45.0 and rows[0]["alt"] == 100.0
    # fractional seconds preserved (xml-common.rkt:63-78)
    assert rows[2]["timestamp"] % 1 == pytest.approx(0.5)
    # derived dst: cumulative haversine, ~111m per 0.001 deg lat
    assert rows[0]["dst"] == 0.0
    assert rows[1]["dst"] == pytest.approx(111.2, rel=0.01)
    assert rows[2]["dst"] == pytest.approx(222.4, rel=0.01)


def test_gpx_round_trip_tolerance(spark):
    # df-test.rkt:1291-1316: write-read round-trip with 1e-5 tolerance
    fr = GPX.read_gpx(spark, GPX_SAMPLE)
    xml2 = GPX.write_gpx(fr)
    fr2 = GPX.read_gpx(spark, xml2)
    a = fr.df.orderBy("timestamp").collect()
    b = fr2.df.orderBy("timestamp").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert rb["lat"] == pytest.approx(ra["lat"], abs=1e-5)
        assert rb["lon"] == pytest.approx(ra["lon"], abs=1e-5)
        assert rb["alt"] == pytest.approx(ra["alt"], abs=1e-5)


TCX_SAMPLE = """<?xml version="1.0"?>
<TrainingCenterDatabase xmlns="http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2">
 <Activities><Activity Sport="Biking">
  <Lap StartTime="2020-01-01T00:00:00Z"><Track>
    <Trackpoint><Time>2020-01-01T00:00:00Z</Time>
      <Position><LatitudeDegrees>45.0</LatitudeDegrees><LongitudeDegrees>25.0</LongitudeDegrees></Position>
      <AltitudeMeters>10.0</AltitudeMeters><DistanceMeters>0.0</DistanceMeters>
      <HeartRateBpm><Value>120</Value></HeartRateBpm><Cadence>80</Cadence></Trackpoint>
    <Trackpoint><Time>2020-01-01T00:00:10Z</Time>
      <Position><LatitudeDegrees>45.0005</LatitudeDegrees><LongitudeDegrees>25.0</LongitudeDegrees></Position>
      <AltitudeMeters>11.0</AltitudeMeters><DistanceMeters>55.0</DistanceMeters>
      <HeartRateBpm><Value>125</Value></HeartRateBpm><Cadence>82</Cadence></Trackpoint>
  </Track></Lap>
  <Creator xsi:type="Device_t" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
    <Name>Dev</Name><UnitId>123</UnitId><ProductID>456</ProductID>
  </Creator>
 </Activity></Activities>
</TrainingCenterDatabase>"""


def test_read_tcx(spark):
    fr = TCX.read_tcx(spark, TCX_SAMPLE)
    assert fr.get_property("tcx-sport") == "Biking"
    assert fr.get_property("unit-id") == 123
    assert fr.get_property("product-id") == 456
    assert fr.get_property("laps") == [GPX.iso_to_seconds("2020-01-01T00:00:00Z")]
    rows = fr.df.orderBy("timestamp").collect()
    assert rows[0]["hr"] == 120.0 and rows[1]["cad"] == 82.0
    assert rows[1]["dst"] == 55.0


def test_tcx_xml_parse_many_roundtrip(spark):
    # the distributed TCX bulk path: tcx_xml serializes exact doubles
    # (repr round-trip) and parse_many recovers them bit-for-bit,
    # threading source_id; None alt drops AltitudeMeters entirely
    pts_a = [(1000.0, 10.5, -20.25, 99.5, 120.0, 5.0), (1001.0, 10.6, -20.26, None, 121.0, 6.0)]
    pts_b = [(2000.0, -33.125, 151.5, 7.75, 90.0, 1.0)]
    docs = spark.createDataFrame(
        [(1, TCX.tcx_xml(pts_a)), (2, TCX.tcx_xml(pts_b, sport="Running"))],
        "source_id long, xml string",
    )
    out = TCX.parse_many(docs, "xml").orderBy("source_id", "timestamp").collect()
    assert [r["source_id"] for r in out] == [1, 1, 2]
    assert [r["timestamp"] for r in out] == [1000.0, 1001.0, 2000.0]
    assert out[0]["lat"] == 10.5 and out[0]["alt"] == 99.5 and out[0]["hr"] == 120.0
    assert out[1]["alt"] is None and out[1]["dst"] == 6.0
    assert out[2]["lon"] == 151.5 and out[2]["dst"] == 1.0


def test_tcx_watts_speed_both_placements(spark):
    # Watts/Speed parse from Extensions/TPX (spec shape) AND bare
    # under the trackpoint (device shape) — the pre-round-11
    # full-descendant walk accepted both; pinned so the single-pass
    # parser keeps that contract
    ns = "http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2"
    xml = (
        '<?xml version="1.0"?>'
        f'<TrainingCenterDatabase xmlns="{ns}"><Activities>'
        '<Activity Sport="Biking"><Id>x</Id><Lap StartTime="2020-01-01T00:00:00Z"><Track>'
        "<Trackpoint><Time>2020-01-01T00:00:00Z</Time>"
        "<Extensions><TPX><Watts>250</Watts><Speed>8.5</Speed></TPX></Extensions>"
        "</Trackpoint>"
        "<Trackpoint><Time>2020-01-01T00:00:01Z</Time>"
        "<Watts>300</Watts><Speed>9.5</Speed>"
        "</Trackpoint>"
        "</Track></Lap></Activity></Activities></TrainingCenterDatabase>"
    )
    rows = TCX.read_tcx(spark, xml).df.orderBy("timestamp").collect()
    assert [r["pwr"] for r in rows] == [250.0, 300.0]
    assert [r["spd"] for r in rows] == [8.5, 9.5]


def test_haversine_known_distance(spark):
    # 1 degree of latitude ~ 111.19 km on the R=6371 km sphere
    df = spark.createDataFrame([(0.0, 0.0, 1.0, 0.0)], ["lat1", "lon1", "lat2", "lon2"])
    d = df.select(
        haversine(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
    ).collect()[0]["d"]
    assert d == pytest.approx(111194.9, rel=1e-4)


# ---------------------------------------------------------------------------
# Reference-fixture parity (real files from the reference's test suite)
# ---------------------------------------------------------------------------

REF_DATA = "/root/reference/private/test/test-data"


def test_csv_writer_golden_bytes(spark):
    # df-test.rkt:1241-1264 pins the writer's exact bytes: headers and
    # strings always quoted (doubled inner quotes), NA -> empty cell,
    # integral values written bare, 1/2 -> 0.5
    rows = [
        (0, 1.0, "one"),
        (1, 0.5, "two"),
        (2, 3.0, 'th"ree'),
        (3, None, "#f"),
        (4, 5.0, None),
    ]
    df = spark.createDataFrame(rows, ["_i", "s,1", "s,2"])
    text = CSV.csv_string(df, columns=["s,1", "s,2"], order_by=["_i"])
    assert text == '"s,1","s,2"\n1,"one"\n0.5,"two"\n3,"th""ree"\n,"#f"\n5,\n'
    # the #:start/#:stop variant over one series
    text2 = CSV.csv_string(df, columns=["s,1"], start=1, stop=3, order_by=["_i"])
    assert text2 == '"s,1"\n0.5\n3\n'


def test_csv_quote_wrapped_content_roundtrip(spark, tmp_path):
    # a cell whose CONTENT is itself quote-wrapped ('"hi"') is written
    # as '"""hi"""' and must read back unchanged — the reader used to
    # unwrap such cells a second time after Spark's parser had already
    # unescaped them (round-2 advisory)
    rows = [(0, '"hi"'), (1, 'a"b'), (2, "plain"), (3, '"a" b"')]
    df = spark.createDataFrame(rows, ["i", "s"])
    text = CSV.csv_string(df, order_by=["i"])
    p = str(tmp_path / "rt.csv")
    with open(p, "w") as fh:
        fh.write(text)
    back = CSV.read_csv(spark, p)
    got = [r["s"] for r in back.orderBy("i").collect()]
    assert got[:3] == ['"hi"', 'a"b', "plain"]
    # documented ambiguity: content both starting AND ending with a
    # quote but with lone quotes inside is indistinguishable post-
    # parser from a raw mixed-token cell, so the lexer-concatenation
    # branch fires (delta pinned here; the reference would keep it)
    assert got[3] == "a b"


def test_csv_dynamic_typing_delta(spark, tmp_path):
    # SURVEY §1.3/§7 intentional delta: the reference parses complex
    # numbers per-cell (df-test.rkt:1196); a distributed scan types
    # columns uniformly, so '-1e-2+3.5i' stays a string (not an error)
    p = str(tmp_path / "cx.csv")
    with open(p, "w") as fh:
        fh.write("a,b\n1,-1e-2+3.5i\n2,4\n")
    df = CSV.read_csv(spark, p)
    rows = sorted(df.collect(), key=lambda r: r["a"])
    assert rows[0]["b"] == "-1e-2+3.5i"  # string, not a parse error
    assert rows[1]["b"] == "4"  # mixed column stays string
    assert dict(df.dtypes)["a"] == "double"


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_read_real_sample_gpx(spark):
    # df-test.rkt:1287-1290 on the real fixture
    with open(os.path.join(REF_DATA, "sample.gpx")) as fh:
        fr = GPX.read_gpx(spark, fh.read())
    cols = set(fr.df.columns)
    assert {"lat", "lon", "alt", "dst", "timestamp"} <= cols
    assert fr.df.count() > 0


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_gpx_round_trip_real_1136_track(spark):
    # df-test.rkt:1291-1316: read the real 1136-point track, write GPX
    # (calt preferred, gpx.rkt:174-176), re-read, compare at 1e-5
    df = CSV.read_csv(spark, os.path.join(REF_DATA, "track-data-1136.csv"))
    from data_frame_spark.frame import Frame

    fr = Frame(df, order_by=["timestamp"])
    xml = GPX.write_gpx(fr, name="t1136")
    fr2 = GPX.read_gpx(spark, xml)
    a = df.orderBy("timestamp").collect()
    b = fr2.df.orderBy("timestamp").collect()
    assert len(a) == len(b) > 1000
    for ra, rb in zip(a, b):
        assert abs(ra["lat"] - rb["lat"]) < 1e-5
        assert abs(ra["lon"] - rb["lon"]) < 1e-5
        assert abs(ra["calt"] - rb["alt"]) < 1e-5  # calt written as ele
        assert abs(ra["timestamp"] - rb["timestamp"]) < 1e-5


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_read_real_tcx_activity(spark):
    # df-test.rkt:1322-1341 on the real fixture
    fr = TCX.read_tcx(spark, os.path.join(REF_DATA, "activity_790564009.tcx"))
    cols = set(fr.df.columns)
    assert {"alt", "cad", "dst", "lat", "lon", "pwr", "spd", "timestamp"} <= cols
    assert fr.df.count() > 0
    assert isinstance(fr.get_property("laps"), list)
    assert len(fr.get_property("laps")) > 0
    assert fr.get_property("tcx-sport") is not None
    multi = TCX.read_tcx_multiple(spark, os.path.join(REF_DATA, "activity_790564009.tcx"))
    assert len(multi) == 1


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_read_real_sample_csv(spark):
    # df-test.rkt:1178-1196 on the real torture fixture: whitespace
    # before quoted tokens, long-row truncation, mixed quoted/unquoted
    # cell pieces, per-cell typing (here: uniform column typing, so the
    # mixed 'one'/'two' columns stay strings — documented delta)
    df = CSV.read_csv(spark, os.path.join(REF_DATA, "sample.csv"))
    assert df.columns == ["one", "two", "three", "four"]
    assert df.count() == 13
    rows = df.collect()
    vals = [tuple(r) for r in rows]
    assert ("1", "2", 3.0, "4") in vals  # long row truncated to 4 cols
    assert ("7", "8", 9.0, "def,gh") in vals
    # lexer token concatenation: '"a,bc" 123 "d""ef"' -> 'a,bc 123 d"ef'
    assert any(r[3] == 'a,bc 123 d"ef' for r in vals)
    # quoted cell preserves inner whitespace after unwrap
    assert any(r[1] == " -1e-2+3.5i " for r in vals)
    assert dict(df.dtypes)["three"] == "double"


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_read_real_sample2_custom_na(spark):
    # df-test.rkt sample2: '-' as the NA marker (with stray whitespace)
    df = CSV.read_csv(spark, os.path.join(REF_DATA, "sample2.csv"), na="-")
    assert df.columns == ["one", "two", "three", "four"]
    two = [r["two"] for r in df.collect()]
    assert two.count(None) >= 2  # '-' and ' -' cells are NA


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_read_real_sample3_trailing_comma(spark):
    # df-test.rkt sample3: trailing comma -> an unnamed empty column
    df = CSV.read_csv(spark, os.path.join(REF_DATA, "sample3.csv"))
    assert df.columns[:2] == ["one", "two"]
    assert df.count() > 0
    d = dict(df.dtypes)
    assert d["one"] == "double" and d["two"] == "double"


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="reference not present")
def test_real_1136_statistics_and_histograms(spark):
    # df-test.rkt stats+mmax-tests / histogram-tests on the real
    # track: unweighted spd mean ~0.88, timer-weighted ~0.81 (the
    # irregular-sampling correction the reference documents), 5
    # quantiles, and histogram bucket counts that sum to row count
    from data_frame_spark.operators import stats as ST
    from data_frame_spark.operators import histogram as HI

    df = CSV.read_csv(spark, os.path.join(REF_DATA, "track-data-1136.csv"))
    n_rows = df.count()

    s = ST.unweighted_stats(df, "spd").collect()[0]
    assert abs(s["mean"] - 0.88) < 1e-2

    w = ST.weighted_stats(
        df, "spd", "timer", order_by=["timestamp"]
    ).collect()[0]
    assert abs(w["weighted_mean"] - 0.81) < 1e-2

    q = ST.quantiles(df, "spd").collect()
    assert len(q) == 5

    h1 = HI.histogram(df, "spd", width=1.0).collect()
    assert len(h1) == 3
    assert sum(r["count"] for r in h1) == n_rows

    h2 = HI.histogram(df, "spd", width=0.01).collect()
    assert len(h2) > 1
    assert sum(r["count"] for r in h2) == n_rows

    tagged = df.withColumn(
        "spd_tag",
        F.when(F.col("spd") < 1.0, "low")
        .when(F.col("spd") > 1.1, "high")
        .otherwise("med"),
    )
    h3 = HI.string_histogram(tagged, "spd_tag").collect()
    assert len(h3) == 3
    assert sum(r["count"] for r in h3) == n_rows


# ---------------------------------------------------------------------------
# CSV write -> read round-trip property (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings as hyp_settings, strategies as st


def _ambiguous(s: str) -> bool:
    # the documented post-parser ambiguity: content that both starts
    # and ends with a quote while containing lone quotes inside is
    # indistinguishable from a raw mixed-token cell (pinned in
    # test_csv_quote_wrapped_content_roundtrip)
    return len(s) >= 2 and s.startswith('"') and s.endswith('"')


_cell = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="ascii", min_codepoint=32, max_codepoint=126
        ),
        max_size=12,
    ).filter(lambda s: s != "" and not _ambiguous(s) and s.strip() == s),
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
)


@given(st.lists(_cell, min_size=1, max_size=15))
@hyp_settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_csv_roundtrip_property(spark, tmp_path_factory, cells):
    # one string column: any writable cell (modulo the documented
    # ambiguity and Spark's whitespace trimming of unquoted numerics)
    # must survive write -> read byte-for-byte or as the same float
    rows = [(i, c if isinstance(c, str) or c is None else float(c)) for i, c in enumerate(cells)]
    # mixed str/float columns are typed string by inference; compare textually
    df = spark.createDataFrame(
        [(i, None if c is None else str(c)) for i, c in rows],
        "i long, s string",
    )
    from data_frame_spark.sources import csv as CSVMOD

    text = CSVMOD.csv_string(df, order_by=["i"])
    p = tmp_path_factory.mktemp("csvrt") / "rt.csv"
    with open(p, "w") as fh:
        fh.write(text)
    back = CSVMOD.read_csv(spark, str(p), infer_numbers=False)
    got = [r["s"] for r in back.orderBy(F.col("i").cast("double")).collect()]
    want = [None if c is None else str(c) for _, c in rows]
    assert got == want


# ---------------------------------------------------------------------------
# JSONL corpus source (net-new training-pipeline format)
# ---------------------------------------------------------------------------


def test_jsonl_round_trip_documents(spark, sf_dir, tmp_path):
    from data_frame_spark.sources import jsonl as J

    from data_frame_spark.queries import t

    docs = t(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    J.write_jsonl(docs, out)
    back = J.read_jsonl(spark, out, schema=J.DOCUMENTS_SCHEMA).collect()
    assert all(r[J.CORRUPT_COL] is None for r in back)
    a = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in docs.collect()}
    b = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"]) for r in back}
    assert a == b


def test_jsonl_corrupt_quarantine(spark, tmp_path):
    from data_frame_spark.sources import jsonl as J

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good line", "lang": "en", "source": "s", "n_chars": 9}\n'
        "{not json at all\n"
        '{"doc_id": 2, "text": null, "lang": "en", "source": "s", "n_chars": 0}\n'
    )
    rows = J.read_jsonl(spark, str(p)).collect()
    bad = [r[J.CORRUPT_COL] for r in rows if r[J.CORRUPT_COL] is not None]
    assert len(bad) == 1 and "{not json" in bad[0]
    clean = {r["doc_id"]: r["text"] for r in rows if r[J.CORRUPT_COL] is None}
    assert clean == {1: "good line", 2: None}


# ---------------------------------------------------------------------------
# ORC source/sink
# ---------------------------------------------------------------------------


def test_orc_round_trip_partitioned_with_pruning(spark, sf_dir, tmp_path):
    from data_frame_spark.sources.orc import write_orc, read_orc
    from data_frame_spark.plans import checks as C

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, ["lang"])
    back = read_orc(spark, out)
    assert back.count() == docs.count()
    # same rows, modulo column order (lang moves to the partition tail)
    a = {tuple(sorted(r.asDict().items())) for r in docs.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert a == b
    # partition-key filters prune directories at planning time
    plan = C.formatted_plan(back.where("lang = 'en'"))
    assert "PartitionFilters" in plan and "lang" in plan


def test_orc_unpartitioned_round_trip(spark, tmp_path):
    from data_frame_spark.sources.orc import write_orc, read_orc

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "plain_orc")
    write_orc(df, out)
    assert sorted((r["id"], r["s"]) for r in read_orc(spark, out).collect()) == [
        (1, "a"),
        (2, "b"),
    ]


# ---------------------------------------------------------------------------
# binaryFile ingestion
# ---------------------------------------------------------------------------

_PNG = bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 16
_JPEG = bytes.fromhex("FFD8FFE000104A46") + b"\x00" * 8


def test_binary_dir_read_and_sniff(spark, tmp_path):
    from data_frame_spark.operators.multimodal import attach_metadata
    from data_frame_spark.sources.binaryfiles import read_binary_dir

    d = tmp_path / "media"
    (d / "sub").mkdir(parents=True)
    (d / "a.png").write_bytes(_PNG)
    (d / "sub" / "b.jpg").write_bytes(_JPEG)
    (d / "notes.txt").write_text("not media")

    df = attach_metadata(read_binary_dir(spark, str(d)), "content")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.png", "b.jpg", "notes.txt"}
    assert rows["a.png"]["meta"]["format"] == "png"
    assert rows["b.jpg"]["meta"]["format"] == "jpeg"
    assert rows["notes.txt"]["meta"]["format"] == "unknown"
    assert rows["a.png"]["length"] == len(_PNG)
    assert rows["a.png"]["meta"]["n_bytes"] == len(_PNG)


def test_binary_dir_glob_filters_at_planning_time(spark, tmp_path):
    from data_frame_spark.sources.binaryfiles import read_binary_dir

    d = tmp_path / "media2"
    d.mkdir()
    (d / "a.png").write_bytes(_PNG)
    (d / "b.jpg").write_bytes(_JPEG)
    df = read_binary_dir(spark, str(d), glob="*.png")
    paths = [r["path"] for r in df.select("path").collect()]
    assert len(paths) == 1 and paths[0].endswith("a.png")


def test_xml_fast_traversal_matches_elementpath_reference():
    # r18 optimization pin: the literal-qualified-tag traversal in
    # parse_gpx_rows/_parse_trkpt and _parse_activity must match the
    # ElementPath find()/findall() forms it replaced — first-match
    # semantics for duplicated tags, nested trkseg handling,
    # descendant Trackpoint scan — on an adversarial document.
    import xml.etree.ElementTree as ET

    from data_frame_spark.sources import gpx as G
    from data_frame_spark.sources import tcx as X

    ns = "http://www.topografix.com/GPX/1/1"
    gpx_doc = f"""<?xml version="1.0"?>
<gpx xmlns="{ns}"><trk><name>adv</name><trkseg>
  <trkpt lat="1.5" lon="2.5"><ele>10.0</ele><ele>99.0</ele>
    <time>2020-01-01T00:00:00Z</time><time>2021-01-01T00:00:00Z</time>
    <extensions><hr>100.0</hr><hr>150.0</hr><power>201.0</power></extensions>
    <extensions><hr>999.0</hr></extensions></trkpt>
  <trkpt lat="3.5" lon="4.5"/>
</trkseg><trkseg>
  <trkpt lat="5.5" lon="6.5"><time>2022-02-02T02:02:02Z</time></trkpt>
</trkseg></trk></gpx>"""

    rows, props = G.parse_gpx_rows(gpx_doc)
    # reference: the pre-r18 ElementPath form, run inline
    NS = {"g": ns}
    root = ET.fromstring(gpx_doc)
    ref = []
    for seg in root.findall(".//g:trkseg", NS):
        for pt in seg.findall("g:trkpt", NS):
            r = {
                "lat": float(pt.get("lat")) if pt.get("lat") else None,
                "lon": float(pt.get("lon")) if pt.get("lon") else None,
                "alt": G._float(pt.find("g:ele", NS)),
                "timestamp": None,
                "hr": None, "cad": None, "pwr": None, "spd": None,
                "temp": None, "dst": None,
            }
            t_el = pt.find("g:time", NS)
            if t_el is not None and t_el.text:
                r["timestamp"] = G.iso_to_seconds(t_el.text)
            ext = pt.find("g:extensions", NS)
            if ext is not None:
                for el in ext.iter():
                    tag = el.tag.rsplit("}", 1)[-1].lower()
                    if tag in ("hr", "heartrate"):
                        r["hr"] = G._float(el)
                    elif tag in ("power", "pwr"):
                        r["pwr"] = G._float(el)
            ref.append(r)
    assert rows == ref
    # and pin the load-bearing facts directly: FIRST ele/time/ext
    # win; within the first extensions the LAST channel value wins
    assert rows[0]["alt"] == 10.0 and rows[0]["hr"] == 150.0
    assert rows[0]["pwr"] == 201.0
    assert rows[0]["timestamp"] == G.iso_to_seconds("2020-01-01T00:00:00Z")
    assert len(rows) == 3

    tns = "http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2"
    tcx_doc = f"""<?xml version="1.0"?>
<TrainingCenterDatabase xmlns="{tns}"><Activities>
<Activity Sport="Biking"><Id>a1</Id>
 <Lap StartTime="2020-01-01T00:00:00Z"><Track>
   <Trackpoint><Time>2020-01-01T00:00:01Z</Time>
     <Position><LatitudeDegrees>1.0</LatitudeDegrees>
       <LongitudeDegrees>2.0</LongitudeDegrees></Position>
     <AltitudeMeters>7.5</AltitudeMeters></Trackpoint>
 </Track><Track>
   <Trackpoint><Time>2020-01-01T00:00:03Z</Time></Trackpoint>
 </Track></Lap>
 <Lap StartTime="2020-01-01T01:00:00Z"><Track>
   <Trackpoint><Time>2020-01-01T01:00:01Z</Time></Trackpoint>
 </Track></Lap></Activity>
<Activity Sport="Running"><Id>a2</Id>
 <Lap StartTime="2020-02-01T00:00:00Z"><Track>
   <Trackpoint><Time>2020-02-01T00:00:01Z</Time></Trackpoint>
 </Track></Lap></Activity>
</Activities></TrainingCenterDatabase>"""

    trows = X.parse_tcx_rows(tcx_doc)
    troot = ET.fromstring(tcx_doc)
    TNS = {"t": tns}
    tref = []
    for act in troot.findall(".//t:Activity", TNS):
        for lap in act.findall("t:Lap", TNS):
            for tp in lap.findall(".//t:Trackpoint", TNS):
                tref.append(X._parse_trackpoint(tp))
    assert trows == tref
    assert len(trows) == 4
    assert trows[0]["lat"] == 1.0 and trows[0]["alt"] == 7.5


def test_xml_fast_traversal_skips_matching_root_fragment():
    # r18 review pin: iter(qname) yields a MATCHING ROOT, which the
    # replaced findall(".//...") never did — the parsers skip the
    # root element so fragment inputs keep the pre-r18 semantics
    # (descendants only).
    from data_frame_spark.sources import gpx as G
    from data_frame_spark.sources import tcx as X

    frag = ('<trkseg xmlns="http://www.topografix.com/GPX/1/1">'
            '<trkpt lat="1" lon="2"/></trkseg>')
    rows, _ = G.parse_gpx_rows(frag)
    assert rows == []

    tfrag = ('<Activity xmlns="http://www.garmin.com/xmlschemas/'
             'TrainingCenterDatabase/v2" Sport="Biking"><Id>a</Id>'
             '<Lap StartTime="2020-01-01T00:00:00Z"><Track>'
             '<Trackpoint><Time>2020-01-01T00:00:01Z</Time>'
             '</Trackpoint></Track></Lap></Activity>')
    assert X.parse_tcx_rows(tfrag) == []
