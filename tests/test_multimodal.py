from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def binary_df(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\nfakepngdata"),
        (2, b"\xff\xd8\xff\xe0somejpegdata"),
        (3, b"RIFF....WAVEfmt fakewav"),
        (4, b"\x00" * 64),
        (5, bytes(range(256))),
    ]
    return spark.createDataFrame(rows, ["doc_id", "payload"])


def test_sniff_format_and_metadata(spark, binary_df):
    out = MM.attach_metadata(binary_df, "payload")
    rows = {r["doc_id"]: r["meta"] for r in out.collect()}
    assert rows[1]["format"] == "png"
    assert rows[2]["format"] == "jpeg"
    assert rows[3]["format"] == "riff"
    assert rows[4]["format"] == "unknown"
    assert rows[1]["n_bytes"] == 19
    assert len(rows[1]["content_md5"]) == 32


def test_byte_features(spark, binary_df):
    out = {r["doc_id"]: r for r in MM.byte_features(binary_df, "payload").collect()}
    # all-zero payload: single bucket, zero entropy
    assert out[4]["entropy"] == 0.0
    assert out[4]["byte_hist"][0] == pytest.approx(1.0)
    # uniform payload: maximal entropy (4 bits over 16 buckets)
    assert out[5]["entropy"] == pytest.approx(4.0, abs=1e-9)
    assert sum(out[5]["byte_hist"]) == pytest.approx(1.0, abs=1e-6)
    assert out[5]["n_bytes"] == 256


def _wav_bytes(samples, channels=1, rate=8000):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_audio_waveform_features_known_values(spark):
    from data_frame_spark.operators.multimodal import audio_waveform_features

    # 5 samples: crossings at (-2,3) and (4,-1); the 0 breaks the
    # (0,-1) pair strictly (zeros never count)
    wav = _wav_bytes([-2, 3, 4, -1, 0])
    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    (r,) = audio_waveform_features(df, "payload").collect()
    assert (
        r["n_samples"], r["sample_sum"], r["abs_sum"],
        r["peak_abs"], r["zero_crossings"], r["ok"],
    ) == (5, 4, 10, 4, 2, True)


def test_audio_waveform_features_quarantines_stereo_and_junk(spark):
    from data_frame_spark.operators.multimodal import audio_waveform_features

    stereo = _wav_bytes([1, -1, 2, -2], channels=2)
    df = spark.createDataFrame(
        [(1, stereo), (2, b"not a wav"), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["ok"] for r in
            audio_waveform_features(df, "payload").collect()}
    assert rows == {1: False, 2: False, 3: False}


def _box(typ, payload):
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _mp4_bytes(timescale=1000, duration=90_000, n_tracks=2, version=0):
    if version == 0:
        mvhd = bytes([0, 0, 0, 0]) + (0).to_bytes(4, "big") * 2 \
            + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big") \
            + b"\x00" * 76
    else:
        mvhd = bytes([1, 0, 0, 0]) + (0).to_bytes(8, "big") * 2 \
            + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big") \
            + b"\x00" * 76
    moov = _box(b"mvhd", mvhd) + b"".join(
        _box(b"trak", b"\x00" * 8) for _ in range(n_tracks)
    )
    return _box(b"ftyp", b"isom" + b"\x00" * 8) + _box(b"moov", moov)


def test_video_metadata_parses_mvhd_v0_and_v1(spark):
    from data_frame_spark.operators.multimodal import video_metadata

    df = spark.createDataFrame(
        [
            (1, _mp4_bytes(timescale=1000, duration=90_000, n_tracks=2)),
            (2, _mp4_bytes(timescale=600, duration=1_234, n_tracks=1, version=1)),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in video_metadata(df, "payload").collect()}
    r1 = rows[1]
    assert (r1["format"], r1["major_brand"], r1["timescale"],
            r1["duration_units"], r1["duration_us"], r1["n_tracks"],
            r1["ok"]) == ("mp4", "isom", 1000, 90_000, 90_000_000, 2, True)
    r2 = rows[2]
    assert (r2["timescale"], r2["duration_units"],
            r2["duration_us"], r2["n_tracks"]) == (600, 1234, 2_056_666, 1)


def test_mp4_bytes_builder_switches_to_mvhd_v1_past_32_bits(spark):
    # the synthetic builder must never crash an executor task with a
    # to_bytes OverflowError when an event count pushes the v0 duration
    # field past 2^32 — it emits the v1 (64-bit) layout instead, which
    # the real box walker already parses (round-12 advisory)
    import pytest

    from data_frame_spark.operators.multimodal import video_metadata
    from data_frame_spark.queries import mp4_bytes

    big = (1 << 32) + 12_345  # overflows the v0 4-byte duration
    # timescale 600 (not 1_000_000, which made the µs assertion a
    # tautology — round-13 advisory): the v1 64-bit duration must
    # survive the units -> µs conversion, not just round-trip the field
    df = spark.createDataFrame(
        [(1, mp4_bytes(600, big, 2)), (2, mp4_bytes(1000, 90_000, 1))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in video_metadata(df, "payload").collect()}
    r1 = rows[1]
    assert r1["ok"] and r1["duration_units"] == big
    assert r1["duration_us"] == (big * 1_000_000) // 600 == 7_158_299_401_666
    r2 = rows[2]  # the v0 path is unchanged
    assert r2["ok"] and r2["duration_units"] == 90_000
    with pytest.raises(ValueError):
        mp4_bytes(1000, -1, 1)
    with pytest.raises(ValueError):
        # the reader's parseable ceiling, not the v1 field width: the
        # walker quarantines durations >= 2^62, so the builder must
        # refuse them loudly rather than emit contract-violating bytes
        mp4_bytes(1000, 1 << 62, 1)


def test_video_metadata_quarantines_junk(spark):
    from data_frame_spark.operators.multimodal import video_metadata

    df = spark.createDataFrame(
        [(1, b"RIFF not a video"), (2, b"\x00\x00\x00\x08ftyp"), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["ok"] for r in
            video_metadata(df, "payload").collect()}
    assert rows == {1: False, 2: False, 3: False}


def test_sniff_format_detects_mp4(spark):
    from data_frame_spark.operators.multimodal import sniff_format
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, _mp4_bytes()), (2, b"\x89PNG\r\n\x1a\n123")],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["f"] for r in
           df.select("doc_id", sniff_format(F.col("payload")).alias("f")).collect()}
    assert got == {1: "mp4", 2: "png"}


def test_video_metadata_quarantines_corrupt_64bit_duration(spark):
    # a corrupt mvhd v1 with 0xFF.. duration bytes must quarantine,
    # not overflow LongType at Arrow serialization (outside the
    # per-row try) and kill the task (round-12 review finding)
    from data_frame_spark.operators.multimodal import video_metadata

    mvhd = bytes([1, 0, 0, 0]) + (0).to_bytes(8, "big") * 2 \
        + (1000).to_bytes(4, "big") + b"\xff" * 8 + b"\x00" * 76
    payload = _box(b"ftyp", b"isom" + b"\x00" * 8) + _box(
        b"moov", _box(b"mvhd", mvhd)
    )
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    (r,) = video_metadata(df, "payload").collect()
    assert r["ok"] is False


def test_sniff_format_riff_beats_accidental_ftyp(spark):
    # a RIFF container whose little-endian size word spells 'ftyp'
    # must sniff as riff — position-0 magics outrank the offset-4
    # box-type check (round-12 review finding)
    from data_frame_spark.operators.multimodal import sniff_format
    from pyspark.sql import functions as F

    payload = b"RIFF" + b"ftyp" + b"WAVE1234"
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    (r,) = df.select(sniff_format(F.col("payload")).alias("f")).collect()
    assert r["f"] == "riff"


def test_extractors_quarantine_null_id(spark):
    # int(None) raised OUTSIDE the per-row try in the binary
    # extractors; a NULL id must yield a quarantine row, not a task
    # failure (round-12 review finding)
    from data_frame_spark.operators.multimodal import (
        audio_waveform_features,
        video_metadata,
    )

    df = spark.createDataFrame(
        [(None, b"junk payload")], "doc_id long, payload binary"
    )
    for op in (audio_waveform_features, video_metadata):
        (r,) = op(df, "payload").collect()
        assert r["ok"] is False and r["doc_id"] is None


def test_image_metadata_parses_png_jpeg_and_quarantines(spark):
    from data_frame_spark.operators.multimodal import image_metadata
    from data_frame_spark.queries import jpeg_bytes, png_bytes

    rows = [
        (1, png_bytes(320, 200)),
        (2, jpeg_bytes(64, 48, 3)),
        (3, jpeg_bytes(65535, 1, 1)),   # field-width extremes
        (4, b"\x89PNG\r\n\x1a\nJUNK"),  # truncated PNG: quarantine
        (5, b"\xff\xd8\xff\xd9"),       # JPEG with no SOF: quarantine
        (6, None),                       # NULL payload: quarantine
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in image_metadata(df, "payload").collect()}
    r1 = got[1]
    assert (r1["format"], r1["width"], r1["height"], r1["bit_depth"],
            r1["n_channels"], r1["ok"]) == ("png", 320, 200, 8, 1, True)
    r2 = got[2]
    assert (r2["format"], r2["width"], r2["height"], r2["n_channels"],
            r2["ok"]) == ("jpeg", 64, 48, 3, True)
    r3 = got[3]
    assert (r3["width"], r3["height"], r3["ok"]) == (65535, 1, True)
    assert not got[4]["ok"] and not got[5]["ok"] and not got[6]["ok"]


def test_image_builders_reject_contract_violations(spark):
    import pytest

    from data_frame_spark.queries import jpeg_bytes, png_bytes

    for bad in (0, 65536, -1):
        with pytest.raises(ValueError):
            png_bytes(bad, 10)
        with pytest.raises(ValueError):
            jpeg_bytes(10, bad)
    with pytest.raises(ValueError):
        jpeg_bytes(10, 10, 0)


def test_png_builder_emits_decodable_bytes():
    # the PNG must be REAL (zlib stream + CRCs), not just a parseable
    # header: re-walk the chunks and inflate the IDAT
    import zlib

    from data_frame_spark.queries import png_bytes

    data = png_bytes(20, 5)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    off, chunks, idat = 8, [], b""
    while off < len(data):
        ln = int.from_bytes(data[off:off + 4], "big")
        typ = data[off + 4:off + 8]
        payload = data[off + 8:off + 8 + ln]
        crc = int.from_bytes(data[off + 8 + ln:off + 12 + ln], "big")
        assert crc == zlib.crc32(typ + payload), typ
        chunks.append(typ)
        if typ == b"IDAT":
            idat += payload
        off += 12 + ln
    assert chunks == [b"IHDR", b"IDAT", b"IEND"]
    raw = zlib.decompress(idat)
    assert len(raw) == 5 * (1 + 20)  # filter byte + width, per scanline


def test_image_metadata_quarantines_sos_before_sof(spark):
    # r14 advice: a malformed JPEG with SOS (FF DA) before any SOF
    # must quarantine, not walk entropy-coded bytes as segments (a
    # stray FF C0 pair inside the scan read as garbage dimensions)
    from data_frame_spark.operators.multimodal import image_metadata

    scan = b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    fake_sof = b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08\x00\x10\x00\x10\x03" + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    data = b"\xff\xd8" + scan + fake_sof + b"\xff\xd9"
    df = spark.createDataFrame([(1, data)], "doc_id long, payload binary")
    row, = image_metadata(df, "payload").collect()
    assert row["ok"] is False and row["width"] is None
