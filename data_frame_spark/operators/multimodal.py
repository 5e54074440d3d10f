"""Multimodal column support: images/audio/video as opaque binary
columns with typed metadata (north-star extension, SURVEY §7 Phase 6).

Schema convention: a modality is a ``binary`` payload column plus a
``STRUCT`` metadata column (format, dims, duration...). Everything
here runs without codec libraries:

* format sniffing from magic bytes (pure Column ops)
* byte statistics / byte-histogram features (Arrow-batched
  ``mapInPandas`` — the exact plumbing a real decoder uses: schema
  in, schema out, batch iterator)
* WAV waveform, ISO BMFF video and PNG/JPEG header metadata parsed
  with the standard library
"""

from __future__ import annotations

from typing import Iterator

import io
import wave

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def sniff_format(bin_col: Column) -> Column:
    """Container format from magic bytes — pure Column expression."""
    head = F.upper(F.hex(F.substring(bin_col, 1, 8)))
    # ISO BMFF (mp4/mov): 'ftyp' at byte offset 4, after the first
    # box's length word — hex positions 9..16. Seeded FIRST so it has
    # the LOWEST precedence: a RIFF/PNG prefix is an exact position-0
    # magic and must win over a length word that merely happens to
    # spell 'ftyp' (round-12 review finding)
    expr = F.when(
        F.substring(head, 9, 8) == "66747970", F.lit("mp4")
    ).otherwise(F.lit("unknown"))
    for magic, fmt in [
        ("89504E47", "png"),
        ("FFD8FF", "jpeg"),
        ("47494638", "gif"),
        ("52494646", "riff"),
        ("664C6143", "flac"),
        ("1A45DFA3", "webm"),
    ]:
        expr = F.when(head.startswith(magic), F.lit(fmt)).otherwise(expr)
    return expr


def _safe_id(i) -> int | None:
    """Row id as a nullable long for the quarantine extractors: a
    NULL id (or a NaN from pandas null-floating) must produce a
    quarantine row, not crash the task — int(None)/int(nan) raises
    OUTSIDE the extractors' per-row try blocks (round-12 review
    finding)."""
    try:
        return int(i)
    except (TypeError, ValueError):
        return None


def _map_payloads(df: DataFrame, bin_col: str, id_col: str, row_fn, schema) -> DataFrame:
    """One narrow Arrow-batched ``mapInPandas`` pass: ``row_fn(id,
    payload)`` turns each row into a dict of ``schema``'s columns."""
    cols = [f.name for f in schema.fields]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [row_fn(i, p) for i, p in zip(pdf[id_col], pdf[bin_col])],
                columns=cols,
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        extract, schema=schema
    )


def attach_metadata(df: DataFrame, bin_col: str, out_col: str = "meta") -> DataFrame:
    """Typed metadata struct: size, md5, sniffed format."""
    b = F.col(bin_col)
    return df.withColumn(
        out_col,
        F.struct(
            F.length(b).alias("n_bytes"),
            F.md5(b).alias("content_md5"),
            sniff_format(b).alias("format"),
        ),
    )


BYTE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("entropy", T.DoubleType()),
        T.StructField("byte_hist", T.ArrayType(T.FloatType())),
    ]
)


def byte_features(df: DataFrame, bin_col: str, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: 16-bin
    byte histogram (L1-normalized) + Shannon entropy. This is the
    real decode-stage plumbing — mapInPandas with a typed output
    schema — with a codec-free feature."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fully vectorized: ONE buffer concat + ONE bincount per Arrow
        # batch (bin = doc_idx*16 + high_nibble), no per-row Python.
        # Zero bins contribute an exact 0.0 to the entropy sum, so the
        # result is bit-identical to the per-row nonzero formulation.
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            payloads = [p if p is not None else b"" for p in pdf[bin_col]]
            ndocs = len(payloads)
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=ndocs
            )
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            doc_idx = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
            hist = (
                np.bincount(doc_idx * 16 + (buf >> 4), minlength=ndocs * 16)
                .reshape(ndocs, 16)
                .astype(np.float64)
            )
            p = hist / np.where(lens == 0, 1, lens).astype(np.float64)[:, None]
            logp = np.where(p > 0.0, np.log2(np.where(p > 0.0, p, 1.0)), 0.0)
            entropy = np.where(lens == 0, 0.0, -(p * logp).sum(axis=1))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": lens,
                    "entropy": entropy,
                    "byte_hist": list(p.astype(np.float32)),
                }
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        extract, schema=BYTE_FEATURES_SCHEMA
    )


WAVEFORM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_sum", T.LongType()),
        T.StructField("abs_sum", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def waveform_row(i, payload) -> dict:
    """Decode one 16-bit PCM mono WAV payload into a WAVEFORM_SCHEMA
    dict: sample count, signed sum, absolute sum, peak |sample| and
    strict zero crossings. Anything else comes back ``ok=False``."""
    row = {
        "doc_id": _safe_id(i), "n_samples": None, "sample_sum": None,
        "abs_sum": None, "peak_abs": None,
        "zero_crossings": None, "ok": False,
    }
    try:
        if payload is not None and bytes(payload[:4]) == b"RIFF":
            with wave.open(io.BytesIO(bytes(payload))) as w:
                if w.getsampwidth() == 2 and w.getnchannels() == 1:
                    raw = w.readframes(w.getnframes())
                    s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                    row.update(
                        n_samples=int(s.size),
                        sample_sum=int(s.sum()),
                        abs_sum=int(np.abs(s).sum()),
                        peak_abs=int(np.abs(s).max()) if s.size else 0,
                        zero_crossings=int(
                            ((s[:-1] * s[1:]) < 0).sum()
                        ) if s.size > 1 else 0,
                        ok=True,
                    )
    except Exception:
        pass  # quarantine row stays ok=False
    return row


def audio_waveform_features(
    df: DataFrame, bin_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """REAL waveform feature extraction for 16-bit PCM mono WAV
    payloads — the audio-quality signals a training-data pipeline
    filters on (silence, clipping, energy), decoded with the stdlib
    ``wave`` reader + numpy (no codec library). Emits integer-exact
    stats per payload: sample count, signed sum, absolute sum
    (energy proxy), peak |sample| (clipping detector at 32767/32768),
    and strict zero crossings (``s[i-1] * s[i] < 0`` — zeros never
    count, so the stat is sign-sequence exact, not threshold-fuzzy).
    Non-WAV, corrupt, non-16-bit or non-mono payloads quarantine as
    ``ok=false`` rows instead of failing the batch (stereo ZCR over
    interleaved frames would be channel-soup, so it is refused rather
    than mis-computed).

    Scale shape: one narrow Arrow-batched ``mapInPandas`` pass —
    payload bytes never shuffle; a few longs per row come out."""
    return _map_payloads(df, bin_col, id_col, waveform_row, WAVEFORM_SCHEMA)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("duration_units", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("n_tracks", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def _iter_boxes(data: bytes, start: int, end: int):
    """Walk ISO BMFF boxes in data[start:end): yields
    (type_bytes, payload_start, box_end). Handles 64-bit largesize
    (size==1) and to-end boxes (size==0); bails on malformed sizes."""
    off = start
    while off + 8 <= end:
        size = int.from_bytes(data[off:off + 4], "big")
        typ = data[off + 4:off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                return
            size = int.from_bytes(data[off + 8:off + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            return
        yield typ, off + hdr, off + size
        off += size


def video_row(i, payload) -> dict:
    """Walk one ISO BMFF payload into a VIDEO_SCHEMA dict: major brand,
    movie timescale and duration, and track count. Non-BMFF or
    malformed payloads come back ``ok=False``."""
    row = {
        "doc_id": _safe_id(i), "format": None, "major_brand": None,
        "timescale": None, "duration_units": None,
        "duration_us": None, "n_tracks": None, "ok": False,
    }
    try:
        data = bytes(payload) if payload is not None else b""
        if len(data) >= 12 and data[4:8] == b"ftyp":
            brand = data[8:12].decode("ascii", "replace").strip()
            ts = dur = None
            n_tracks = 0
            for typ, ps, pe in _iter_boxes(data, 0, len(data)):
                if typ != b"moov":
                    continue
                for t2, p2, e2 in _iter_boxes(data, ps, pe):
                    if t2 == b"trak":
                        n_tracks += 1
                    elif t2 == b"mvhd" and e2 - p2 >= 4:
                        ver = data[p2]
                        if ver == 1 and e2 - p2 >= 32:
                            ts = int.from_bytes(data[p2 + 20:p2 + 24], "big")
                            dur = int.from_bytes(data[p2 + 24:p2 + 32], "big")
                        elif ver == 0 and e2 - p2 >= 24:
                            ts = int.from_bytes(data[p2 + 12:p2 + 16], "big")
                            dur = int.from_bytes(data[p2 + 16:p2 + 20], "big")
            # range-check before update: a corrupt mvhd (e.g. 0xFF..
            # duration bytes) would pass the try block here but
            # overflow LongType at Arrow serialization — OUTSIDE the
            # except — crashing the whole task instead of
            # quarantining (round-12 review finding)
            if ts and dur is not None and dur < (1 << 62):
                dur_us = (dur * 1_000_000) // ts
                if dur_us < (1 << 63):
                    row.update(
                        format="mp4", major_brand=brand,
                        timescale=ts, duration_units=dur,
                        duration_us=dur_us,
                        n_tracks=n_tracks, ok=True,
                    )
    except Exception:
        pass  # quarantine row stays ok=False
    return row


def video_metadata(df: DataFrame, bin_col: str, id_col: str = "doc_id") -> DataFrame:
    """Video container metadata over an opaque binary column — REAL
    (no codec library) for ISO BMFF (mp4/mov) payloads via stdlib
    box walking: the ``ftyp`` major brand, the ``moov/mvhd`` movie
    timescale + duration (version 0 and 1 layouts), the exact
    integer-microsecond duration, and the ``trak`` count. Non-BMFF
    or malformed payloads come back ``ok=false`` (quarantine, the
    waveform stance); frame decoding needs ffmpeg and is out of
    scope.

    Scale shape: one narrow Arrow-batched ``mapInPandas`` pass —
    payload bytes never shuffle; a few longs per row come out."""
    return _map_payloads(df, bin_col, id_col, video_row, VIDEO_SCHEMA)


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)

#: PNG color type -> sample channels (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: JPEG SOF markers (baseline/extended/progressive/lossless + the
#: arithmetic variants); NOT C4/C8/CC, which are DHT/JPG/DAC
_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def _parse_png(data: bytes):
    """(width, height, bit_depth, n_channels) from the IHDR chunk —
    the spec REQUIRES IHDR first, so malformed orderings quarantine."""
    if len(data) < 33 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    if data[12:16] != b"IHDR" or int.from_bytes(data[8:12], "big") != 13:
        return None
    w = int.from_bytes(data[16:20], "big")
    h = int.from_bytes(data[20:24], "big")
    depth, color = data[24], data[25]
    ch = _PNG_CHANNELS.get(color)
    if w == 0 or h == 0 or ch is None:
        return None
    return w, h, depth, ch


def _parse_jpeg(data: bytes):
    """(width, height, bit_depth, n_channels) from the first SOF
    marker segment — the standard marker walk (length-prefixed
    segments; standalone RST/TEM/SOI/EOI markers carry no length)."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    off = 2
    while off + 4 <= len(data):
        if data[off] != 0xFF:
            return None
        marker = data[off + 1]
        if marker == 0xFF:  # fill byte
            off += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM/RSTn: standalone
            off += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        if marker == 0xDA:  # SOS before any SOF: a valid JPEG puts
            return None  # SOF first; walking entropy-coded bytes as
            # marker segments could misread a stray FF Cx as an SOF
            # and emit garbage dimensions with ok=true (r14 advice)
        seglen = int.from_bytes(data[off + 2:off + 4], "big")
        if seglen < 2 or off + 2 + seglen > len(data):
            return None
        if marker in _JPEG_SOF:
            seg = data[off + 4:off + 2 + seglen]
            if len(seg) < 6:
                return None
            depth = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ch = seg[5]
            if w == 0 or h == 0 or ch == 0:
                return None
            return w, h, depth, ch
        off += 2 + seglen
    return None


def image_row(i, payload) -> dict:
    """Parse one PNG or JPEG header into an IMAGE_META_SCHEMA dict:
    format, width, height, bit depth and channel count. Other or
    malformed payloads come back ``ok=False``."""
    row = {
        "doc_id": _safe_id(i), "format": None, "width": None,
        "height": None, "bit_depth": None, "n_channels": None,
        "ok": False,
    }
    try:
        data = bytes(payload) if payload is not None else b""
        parsed, fmt = _parse_png(data), "png"
        if parsed is None:
            parsed, fmt = _parse_jpeg(data), "jpeg"
        if parsed is not None:
            w, h, depth, ch = parsed
            row.update(
                format=fmt, width=w, height=h, bit_depth=depth,
                n_channels=ch, ok=True,
            )
    except Exception:
        pass  # quarantine row stays ok=False
    return row


def image_metadata(df: DataFrame, bin_col: str, id_col: str = "doc_id") -> DataFrame:
    """Image metadata over an opaque binary column — REAL (no codec
    library) for PNG (IHDR chunk: width/height/bit depth/channels
    from the color type) and JPEG (the SOF marker walk: precision,
    dimensions, component count). Non-image or malformed payloads
    come back ``ok=false`` (quarantine, the audio/video stance);
    pixel decoding needs PIL and is out of scope.

    Scale shape: one narrow Arrow-batched ``mapInPandas`` pass —
    payload bytes never shuffle; a few longs per row come out."""
    return _map_payloads(df, bin_col, id_col, image_row, IMAGE_META_SCHEMA)
