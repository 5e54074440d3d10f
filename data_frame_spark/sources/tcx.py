"""TCX activity reader (reference private/tcx.rkt).

``read_tcx`` parses a TCX document into one Frame per activity with
the GPX-family series (tcx.rkt:199-281) and the properties
``laps`` (lap start timestamps), ``tcx-sport``, ``unit-id``,
``product-id``. ``read_tcx_multiple`` returns every activity.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import SparkSession

from data_frame_spark.frame import Frame
from data_frame_spark.sources.gpx import (
    GPX_SCHEMA,
    _bulk_parse,
    _document,
    _float,
    _track_frame,
    iso_to_seconds,
)

_NS = {"t": "http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2"}

#: literal qualified tags for the bulk-ingest hot path —
#: ``iter(qname)`` is ElementTree's C-level descendant walk with the
#: same document-order matches as ``findall(".//t:X", _NS)`` (the
#: enclosing element can never match its child tag), skipping
#: ElementPath's Python-level iterfind (r18 optimization, profiled
#: in sources/gpx.py)
_Q_TRACKPOINT = (
    "{http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2}Trackpoint"
)
_Q_ACTIVITY = (
    "{http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2}Activity"
)
_Q_LAP = "{http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2}Lap"


def _parse_trackpoint(tp) -> dict:
    # single pass over direct children (plus bounded nested scans for
    # Position / HeartRateBpm / Extensions) instead of one namespace
    # find() per field + a full-descendant walk — the per-point parse
    # cost dominates the bulk-ingest path (parse_many), where this
    # runs millions of times per Arrow batch
    row = {f.name: None for f in GPX_SCHEMA.fields}
    for el in tp:
        tag = el.tag.rsplit("}", 1)[-1]
        if tag == "Time":
            if el.text:
                row["timestamp"] = iso_to_seconds(el.text)
        elif tag == "Position":
            for sub in el:
                stag = sub.tag.rsplit("}", 1)[-1]
                if stag == "LatitudeDegrees":
                    row["lat"] = _float(sub)
                elif stag == "LongitudeDegrees":
                    row["lon"] = _float(sub)
        elif tag == "AltitudeMeters":
            row["alt"] = _float(el)
        elif tag == "DistanceMeters":
            row["dst"] = _float(el)
        elif tag == "HeartRateBpm":
            for sub in el:
                if sub.tag.rsplit("}", 1)[-1] == "Value":
                    row["hr"] = _float(sub)
        elif tag == "Cadence":
            row["cad"] = _float(el)
        else:
            # Watts/Speed live under Extensions/TPX in spec-shaped
            # files, but devices also emit them bare under the
            # trackpoint — scan any unmatched child's subtree so both
            # placements parse (the pre-round-11 full-descendant walk
            # accepted both; keep that contract)
            for sub in el.iter():
                stag = sub.tag.rsplit("}", 1)[-1].lower()
                if stag == "watts":
                    row["pwr"] = _float(sub)
                elif stag == "speed":
                    row["spd"] = _float(sub)
    return row


def _parse_activity(act) -> tuple[list[dict], dict]:
    rows, laps = [], []
    for lap in act:
        if lap.tag != _Q_LAP:
            continue
        st = lap.get("StartTime")
        if st:
            laps.append(iso_to_seconds(st))
        for tp in lap.iter(_Q_TRACKPOINT):
            rows.append(_parse_trackpoint(tp))
    props: dict = {"laps": laps}
    if act.get("Sport"):
        props["tcx-sport"] = act.get("Sport")
    creator = act.find("t:Creator", _NS)
    if creator is not None:
        unit = creator.find("t:UnitId", _NS)
        prod = creator.find("t:ProductID", _NS)
        if unit is not None and unit.text:
            props["unit-id"] = int(unit.text)
        if prod is not None and prod.text:
            props["product-id"] = int(prod.text)
    return rows, props


def read_tcx_multiple(spark: SparkSession, path_or_text: str) -> list[Frame]:
    """``df-read/tcx/multiple`` (tcx.rkt:249-281): one Frame per
    activity."""
    root = ET.fromstring(_document(path_or_text))
    frames = []
    # root skip: iter() also yields a matching root — restore
    # findall's descendant-only contract for Activity fragments
    # (r18 review)
    for act in root.iter(_Q_ACTIVITY):
        if act is root:
            continue
        rows, props = _parse_activity(act)
        frames.append(
            Frame(_track_frame(spark, rows), properties=props, order_by=["timestamp"])
        )
    return frames


def read_tcx(spark: SparkSession, path_or_text: str) -> Frame:
    """``df-read/tcx``: the first activity."""
    frames = read_tcx_multiple(spark, path_or_text)
    if not frames:
        raise ValueError("no activities in TCX document")
    return frames[0]


def tcx_xml(points, sport: str = "Other", act_id: str = "activity") -> str:
    """Pure TCX serializer (inverse of the tcx.rkt:199-281 reader
    surface) shared by driver-side round-trips and the distributed
    per-group synthesis path: ``points`` is an iterable of
    ``(time_seconds, lat, lon, alt, hr, dst)`` tuples (any field but
    time may be None) already in track order. Doubles are written
    with ``repr(float(v))`` — the shortest round-trip form, safe for
    numpy scalars — so ``read_tcx``/``parse_many`` recover the exact
    same bits."""
    from data_frame_spark.sources.gpx import seconds_to_iso

    pts = []
    first_time = None
    for ts, lat, lon, alt, hr, dst in points:
        if ts is None:
            continue
        if first_time is None:
            first_time = float(ts)
        pos = (
            f"<Position><LatitudeDegrees>{repr(float(lat))}</LatitudeDegrees>"
            f"<LongitudeDegrees>{repr(float(lon))}</LongitudeDegrees></Position>"
            if lat is not None and lon is not None
            else ""
        )
        alt_s = "" if alt is None else f"<AltitudeMeters>{repr(float(alt))}</AltitudeMeters>"
        hr_s = (
            ""
            if hr is None
            else f"<HeartRateBpm><Value>{repr(float(hr))}</Value></HeartRateBpm>"
        )
        dst_s = "" if dst is None else f"<DistanceMeters>{repr(float(dst))}</DistanceMeters>"
        pts.append(
            f"<Trackpoint><Time>{seconds_to_iso(float(ts))}</Time>"
            f"{pos}{alt_s}{dst_s}{hr_s}</Trackpoint>"
        )
    start = seconds_to_iso(first_time) if first_time is not None else "1970-01-01T00:00:00Z"
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<TrainingCenterDatabase xmlns="http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2">'
        f'<Activities><Activity Sport="{sport}"><Id>{act_id}</Id>'
        f'<Lap StartTime="{start}"><Track>{"".join(pts)}</Track></Lap>'
        "</Activity></Activities></TrainingCenterDatabase>"
    )


def parse_tcx_rows(xml_text: str):
    """All track rows of every Activity in one TCX document,
    concatenated in document order — the per-document row function
    :func:`parse_many` runs on each document of a batch."""
    root = ET.fromstring(xml_text)
    out = []
    # root skip: iter() also yields a matching root — restore
    # findall's descendant-only contract for Activity fragments
    # (r18 review)
    for act in root.iter(_Q_ACTIVITY):
        if act is root:
            continue
        rows, _ = _parse_activity(act)
        out.extend(rows)
    return out


def parse_many(df, xml_col: str, id_col: str | None = None):
    """Bulk ingest (the distributed ``df-read/tcx/multiple`` path,
    tcx.rkt:249-281): (id, xml_text) rows -> exploded track points
    via mapInPandas — one parser instance per Arrow batch, millions
    of activity files without leaving the cluster. All activities in
    each document are concatenated under the same source_id (same
    contract as sources/gpx.py parse_many). ``id_col`` names the
    source-id column explicitly; omitted it defaults to the FIRST
    column (historical contract — a caller passing extra or
    reordered columns would silently thread wrong source_ids,
    round-11 advisory, so name it)."""
    return _bulk_parse(df, xml_col, id_col, parse_tcx_rows)
