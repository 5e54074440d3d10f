"""GPX track reader/writer (reference private/gpx.rkt).

``read_gpx`` parses a GPX XML document into a Frame with series
``lat lon alt timestamp`` (+ ``hr cad pwr spd temp dst`` when
present), concatenating all track segments (gpx.rkt:352-503), and
sets the frame properties ``name``, ``waypoints``, ``laps``.
A missing ``dst`` series is derived as cumulative haversine distance
(gpx.rkt:434-446) — as a Column expression, not driver math.

Scale stance: one GPX file is one activity (small); parsing happens
driver-side with xml.etree, then the rows become a distributed
DataFrame. For bulk ingest of millions of files the same parser runs
inside ``mapInPandas`` over (path, xml_bytes) rows — ``parse_many``
wires that.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_frame_spark.frame import Frame
from data_frame_spark.functions.geo import cumulative_distance

_NS = {"g": "http://www.topografix.com/GPX/1/1"}

#: literal qualified tags for the per-point hot path — comparing
#: ``el.tag`` against these is bit-identical to
#: ``pt.find("g:ele", _NS)`` etc. (same namespace, first match wins)
#: but skips ElementPath's Python-level iterfind, which profiled at
#: ~57% of the whole bulk-ingest parse (r18 optimization; the TCX
#: trackpoint parser has used this shape since round 11)
_Q_ELE = "{http://www.topografix.com/GPX/1/1}ele"
_Q_TIME = "{http://www.topografix.com/GPX/1/1}time"
_Q_EXT = "{http://www.topografix.com/GPX/1/1}extensions"
_Q_TRKPT = "{http://www.topografix.com/GPX/1/1}trkpt"
_Q_TRKSEG = "{http://www.topografix.com/GPX/1/1}trkseg"

GPX_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("alt", T.DoubleType()),
        T.StructField("hr", T.DoubleType()),
        T.StructField("cad", T.DoubleType()),
        T.StructField("pwr", T.DoubleType()),
        T.StructField("spd", T.DoubleType()),
        T.StructField("temp", T.DoubleType()),
        T.StructField("dst", T.DoubleType()),
    ]
)


def iso_to_seconds(s: str) -> float:
    """xml-timestamp->seconds (xml-common.rkt:57-78): ISO-8601 UTC
    with optional fractional seconds -> epoch seconds (fraction
    preserved)."""
    s = s.strip().replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def seconds_to_iso(sec: float) -> str:
    """seconds->gpx-timestamp (gpx.rkt:51-60)."""
    dt = datetime.fromtimestamp(sec, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def _float(el) -> float | None:
    try:
        return float(el.text) if el is not None and el.text else None
    except ValueError:
        return None


def _parse_trkpt(pt) -> dict:
    lat, lon = pt.get("lat"), pt.get("lon")
    row = {
        "lat": float(lat) if lat else None,
        "lon": float(lon) if lon else None,
        "alt": None,
        "timestamp": None,
        "hr": None, "cad": None, "pwr": None, "spd": None, "temp": None,
        "dst": None,
    }
    # one direct-child scan, FIRST match per tag (= find() semantics)
    ele = t_el = ext = None
    for el in pt:
        tag = el.tag
        if tag == _Q_ELE:
            if ele is None:
                ele = el
        elif tag == _Q_TIME:
            if t_el is None:
                t_el = el
        elif tag == _Q_EXT:
            if ext is None:
                ext = el
    row["alt"] = _float(ele)
    if t_el is not None and t_el.text:
        row["timestamp"] = iso_to_seconds(t_el.text)
    if ext is not None:
        for el in ext.iter():
            tag = el.tag.rsplit("}", 1)[-1].lower()
            if tag in ("hr", "heartrate"):
                row["hr"] = _float(el)
            elif tag in ("cad", "cadence"):
                row["cad"] = _float(el)
            elif tag in ("power", "pwr"):
                row["pwr"] = _float(el)
            elif tag in ("speed", "spd"):
                row["spd"] = _float(el)
            elif tag in ("temp", "atemp"):
                row["temp"] = _float(el)
            elif tag in ("distance", "dst"):
                row["dst"] = _float(el)
    return row


def parse_gpx_rows(xml_text: str) -> tuple[list[dict], dict]:
    """(rows, properties) from one GPX document — all <trkseg>
    concatenated (gpx.rkt:352-427)."""
    root = ET.fromstring(xml_text)
    rows = []
    # iter(qualified-tag) is the C-level descendant walk — document
    # order, same matches as findall(".//g:trkseg", _NS) EXCEPT that
    # iter() also yields the root element itself when it matches; the
    # explicit root skip restores findall's descendant-only contract
    # for fragment inputs whose root IS a <trkseg> (r18 review). The
    # per-seg trkpt scan keeps find()'s direct-child semantics via
    # the literal qualified tag.
    for seg in root.iter(_Q_TRKSEG):
        if seg is root:
            continue
        for pt in seg:
            if pt.tag == _Q_TRKPT:
                rows.append(_parse_trkpt(pt))
    props: dict = {}
    name = root.find(".//g:trk/g:name", _NS)
    if name is not None and name.text:
        props["name"] = name.text
    waypoints = []
    for wpt in root.findall("g:wpt", _NS):
        t_el = wpt.find("g:time", _NS)
        n_el = wpt.find("g:name", _NS)
        waypoints.append(
            (
                iso_to_seconds(t_el.text) if t_el is not None and t_el.text else None,
                float(wpt.get("lat")) if wpt.get("lat") else None,
                float(wpt.get("lon")) if wpt.get("lon") else None,
                _float(wpt.find("g:ele", _NS)),
                n_el.text if n_el is not None else None,
            )
        )
    if waypoints:
        props["waypoints"] = waypoints
        # laps property: waypoint timestamps (gpx.rkt:464-475)
        props["laps"] = [w[0] for w in waypoints if w[0] is not None]
    return rows, props


def _document(path_or_text: str) -> str:
    """``path_or_text`` itself when it is XML text, else the contents
    of the file it names."""
    if path_or_text.lstrip().startswith("<"):
        return path_or_text
    with open(path_or_text) as fh:
        return fh.read()


def _track_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Parsed track rows as a ``GPX_SCHEMA`` DataFrame without the
    series no row carries (the reference only adds series it saw).
    ONE aggregate job counts every column, not a count job per column
    (round-9 perf fix: the per-column probes dominated the whole read
    at ~10 scheduler round-trips for a driver-side single-activity
    file)."""
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in GPX_SCHEMA.fields) for r in rows], GPX_SCHEMA
    )
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).collect()[0]
    return df.select(*[c for c in df.columns if counts[c] > 0])


def read_gpx(spark: SparkSession, path_or_text: str) -> Frame:
    """``df-read/gpx``: GPX -> Frame ordered by timestamp, with the
    ``dst`` series derived when absent."""
    rows, props = parse_gpx_rows(_document(path_or_text))
    df = _track_frame(spark, rows)
    if "dst" not in df.columns and {"lat", "lon", "timestamp"} <= set(df.columns):
        df = df.withColumn(
            "dst", cumulative_distance("lat", "lon", order_by=["timestamp"])
        )
    return Frame(df, properties=props, order_by=["timestamp"])


def track_xml(points, name: str) -> str:
    """Pure GPX serializer shared by the driver-side ``write_gpx``
    sink and the distributed per-group synthesis path: ``points`` is
    an iterable of ``(lat, lon, ele, time_seconds)`` tuples (ele/time
    may be None) already in track order. Doubles are written with
    Python ``repr`` — the shortest round-trip form — so
    ``parse_gpx_rows`` recovers the exact same bits."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1" creator="data_frame_spark">',
        f"  <trk><name>{name}</name><trkseg>",
    ]
    for lat, lon, ele, ts in points:
        if lat is None or lon is None:
            continue
        # repr(float(v)) not {v!r}: callers may pass numpy scalars,
        # whose repr under numpy>=2 is 'np.float64(x)' — unparseable
        # by the reader; float() is bit-exact on any real input
        out.append(f'    <trkpt lat="{repr(float(lat))}" lon="{repr(float(lon))}">')
        if ele is not None:
            out.append(f"      <ele>{repr(float(ele))}</ele>")
        if ts is not None:
            out.append(f"      <time>{seconds_to_iso(float(ts))}</time>")
        out.append("    </trkpt>")
    out.append("  </trkseg></trk>")
    out.append("</gpx>")
    return "\n".join(out)


def write_gpx(frame: Frame, name: str | None = None) -> str:
    """``df-write/gpx`` (gpx.rkt:161-231): Frame -> GPX XML string
    (lat/lon required; the altitude series is "calt" — corrected
    altitude — when present, else "alt", per gpx.rkt:174-182; the
    timestamp is written when present). Single-file sink streamed via
    toLocalIterator, as in the reference's output-port writer."""
    df = frame.df
    cols = df.columns
    alt_col = "calt" if "calt" in cols else ("alt" if "alt" in cols else None)
    it = df.orderBy(*(frame.order_by or ["timestamp"])).toLocalIterator()
    points = (
        (
            r["lat"],
            r["lon"],
            r[alt_col] if alt_col is not None else None,
            r["timestamp"] if "timestamp" in cols else None,
        )
        for r in it
    )
    return track_xml(points, name or frame.get_property("name") or "track")


def parse_many(df, xml_col: str, id_col: str | None = None):
    """Bulk ingest: (id, xml_text) rows -> exploded track points via
    mapInPandas (millions of files, one parser instance per batch).
    ``id_col`` names the source-id column explicitly; when omitted it
    defaults to the FIRST column (the historical contract — but a
    caller passing extra or reordered columns would silently thread
    wrong source_ids, round-11 advisory, so name it)."""
    return _bulk_parse(df, xml_col, id_col, lambda text: parse_gpx_rows(text)[0])


def _bulk_parse(
    df: DataFrame,
    xml_col: str,
    id_col: str | None,
    doc_rows: Callable[[str], list[dict]],
) -> DataFrame:
    """The bulk-ingest loop shared by the GPX and TCX ``parse_many``:
    ``doc_rows`` turns one document into its ``GPX_SCHEMA`` row
    dicts, and every row of a document carries that document's id as
    ``source_id``."""
    import pandas as pd

    if id_col is None:
        id_col = df.columns[0]
    df = df.select(id_col, xml_col)

    schema = T.StructType(
        [T.StructField("source_id", T.LongType())] + list(GPX_SCHEMA.fields)
    )

    field_names = [f.name for f in GPX_SCHEMA.fields]

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out, sids = [], []
            for sid, xml_text in zip(pdf[id_col], pdf[xml_col]):
                rows = doc_rows(xml_text)
                sids.extend([int(sid)] * len(rows))
                out.extend(rows)
            # columnar construction — one list comprehension per
            # field instead of two fresh dicts per row + pandas'
            # list-of-dicts column extraction (r18 optimization)
            data = {"source_id": sids}
            for name in field_names:
                data[name] = [r[name] for r in out]
            yield pd.DataFrame(data, columns=[f.name for f in schema.fields])

    return df.mapInPandas(parse, schema=schema)
