"""Text-analysis + multimodal operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.operators.multimodal import (
    classify_media,
    extract_features,
)
from commoncrawl_fetcher_lite_spark.operators.text import (
    bpe_ish_token_count,
    fingerprints,
    lang_id,
    quality_features,
    token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, "one"), (3, "a b c d e")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", token_count("text").alias("n")).collect()}
    assert got == {1: 3, 2: 1, 3: 5}
    bpe = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", bpe_ish_token_count("text").alias("n")).collect()
    }
    assert bpe[2] == 1 and bpe[1] >= 3  # long words split into sub-pieces


def test_quality_features(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked of a to the dog warmly"),
            (2, "x!!! ??? ###"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[1]["stopword_ratio"] > 0.3
    assert rows[2]["punct_ratio"] > 0.5


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze das haus"),
            (3, "el perro y la casa que los gatos"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es"}


def test_fingerprints_shift_invariance(spark):
    """Winnowing property: shared long runs yield shared fingerprints."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, "PREFIX " + base)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in fingerprints(df).collect()}
    assert rows[1]["n_fingerprints"] > 0
    # identical suffix content → overlapping min-fingerprint sets
    assert rows[1]["min_fingerprint"] == rows[2]["min_fingerprint"]


def test_classify_media(spark):
    df = spark.createDataFrame(
        [
            ("m1", bytearray(b"\xff\xd8\xff\xe0rest-of-jpeg")),
            ("m2", bytearray(b"\x89PNGrest")),
            ("m3", bytearray(b"ID3audio")),
            ("m4", bytearray(b"randombytes")),
            ("m5", bytearray(b"\x00\x00\x00\x18ftypmp42moov")),  # ISO-BMFF mp4
            ("m6", bytearray(b"\x1a\x45\xdf\xa3webm-ebml")),  # Matroska/WebM
        ],
        "media_id string, payload binary",
    )
    got = {r["media_id"]: r["kind"] for r in classify_media(df).collect()}
    assert got == {
        "m1": "image",
        "m2": "image",
        "m3": "audio",
        "m4": "other",
        "m5": "video",
        "m6": "video",
    }


def test_repartition_by_size_spreads_equal_sizes(spark):
    """Skew guard must SPREAD same-size payloads over tasks, not funnel
    them into one (the round-2 bug: partitioning by bucket alone routed
    every largest payload to a single task)."""
    from pyspark.sql import functions as F

    from commoncrawl_fetcher_lite_spark.operators.multimodal import (
        repartition_by_size,
    )

    # 200 distinct payloads, ALL the same size → same size bucket
    df = spark.range(200).select(
        F.col("id").cast("string").alias("media_id"),
        F.encode(F.rpad(F.col("id").cast("string"), 1000, "x"), "UTF-8").alias(
            "payload"
        ),
    )
    parts = (
        repartition_by_size(df)
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    n_used = len(parts)
    biggest = max(r["count"] for r in parts)
    assert n_used >= 8, f"equal-size payloads landed in only {n_used} task(s)"
    assert biggest < 200  # not all in one task


def test_extract_features_real_decode_gating(spark):
    """decode_stub=False: image decode is import-gated on Pillow — real
    features when installed, NotImplementedError otherwise; non-image kinds
    always raise (no codec libs for audio/video here)."""
    import pytest

    from commoncrawl_fetcher_lite_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [("m1", "audio", bytearray(b"ID3x"))],
        "media_id string, kind string, payload binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(df, decode_stub=False).collect()

    if mm._load_pillow() is not None:  # real path where Pillow exists
        from PIL import Image
        import io

        buf = io.BytesIO()
        Image.new("L", (10, 7), color=128).save(buf, format="PNG")
        img_df = spark.createDataFrame(
            [("p1", "image", bytearray(buf.getvalue()))],
            "media_id string, kind string, payload binary",
        )
        row = extract_features(img_df, decode_stub=False).first()
        assert (row["width"], row["height"]) == (10, 7)
        assert len(row["feature"]) == 16
    else:  # this container: the image path raises the marked error
        img_df = spark.createDataFrame(
            [("p1", "image", bytearray(b"\x89PNGfake"))],
            "media_id string, kind string, payload binary",
        )
        with pytest.raises(Exception, match="Pillow"):
            extract_features(img_df, decode_stub=False).collect()


def test_extract_features_stub(spark):
    df = spark.createDataFrame(
        [("m1", "image", bytearray(b"\xff\xd8\xffdata")), ("m2", "video", bytearray(b"vid"))],
        "media_id string, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_features(df).collect()}
    assert len(rows["m1"]["feature"]) == 16
    assert rows["m1"]["width"] is not None and rows["m2"]["width"] is None
    assert rows["m2"]["n_frames"] is not None
    # deterministic
    rows2 = {r["media_id"]: r for r in extract_features(df).collect()}
    assert rows["m1"]["feature"] == rows2["m1"]["feature"]


def test_fingerprints_short_docs(spark):
    """Docs with fewer than `window` tokens yield an empty fingerprint set
    (filtered out) instead of crashing on a descending sequence."""
    from commoncrawl_fetcher_lite_spark.operators.text import fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, None), (4, "a b c d e f g")],
        "doc_id long, text string",
    )
    rows = fingerprints(df).collect()
    assert [r["doc_id"] for r in rows] == [4]
    assert all(r["n_fingerprints"] > 0 for r in rows)


def test_extract_features_audio_real(spark):
    """Audio real path (VERDICT r3 polish): WAV decodes fully via the
    stdlib (sample rate, duration, RMS-window feature); MP3 with an ID3v2
    tag parses real header metadata with feature=None; unknown audio still
    raises."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        # 8000 samples = 1.0 s: ramp so RMS windows differ
        w.writeframes(struct.pack("<8000h", *[(i % 1000) * 30 for i in range(8000)]))
    wav_bytes = buf.getvalue()

    # ID3v2 header (10B, zero tag size) + MPEG1 Layer III frame header
    # (0xFFFB: sync+MPEG1+L3, 0x90: 128kbps+44100) + filler
    mp3_bytes = b"ID3\x03\x00\x00\x00\x00\x00\x00" + b"\xff\xfb\x90\x00" + b"\x00" * 100

    df = spark.createDataFrame(
        [
            ("wav1", "audio", bytearray(wav_bytes)),
            ("mp31", "audio", bytearray(mp3_bytes)),
        ],
        "media_id string, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_features(df, decode_stub=False).collect()}
    assert rows["wav1"]["sample_rate"] == 8000
    assert abs(rows["wav1"]["duration_s"] - 1.0) < 1e-6
    assert len(rows["wav1"]["feature"]) == 16
    assert len({round(v, 4) for v in rows["wav1"]["feature"]}) > 1  # not flat
    assert rows["mp31"]["sample_rate"] == 44100
    assert rows["mp31"]["duration_s"] is not None and rows["mp31"]["duration_s"] > 0
    assert rows["mp31"]["feature"] is None


def test_extract_features_video_real(spark):
    """Video real path: mp4 structural parse (box walk → dims, stts frame
    count, mvhd duration) and webm EBML parse (pixel dims, scaled
    duration) — pure Python, feature=None (frame decode honestly needs
    av/ffmpeg); a moov-less fragmented mp4 still raises."""
    import struct

    import pytest as _pytest

    from commoncrawl_fetcher_lite_spark.operators.multimodal import _decode_real

    def box(t, payload):
        return (8 + len(payload)).to_bytes(4, "big") + t + payload

    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8) + (600).to_bytes(4, "big") + (1200).to_bytes(4, "big")
        + bytes(80),
    )
    tkhd = box(
        b"tkhd",
        bytes(76) + (320 << 16).to_bytes(4, "big") + (240 << 16).to_bytes(4, "big"),
    )
    stts = box(
        b"stts",
        bytes(4) + (2).to_bytes(4, "big")
        + (10).to_bytes(4, "big") + (100).to_bytes(4, "big")
        + (5).to_bytes(4, "big") + (200).to_bytes(4, "big"),
    )
    trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stts))))
    mp4 = box(b"ftyp", b"mp42" + bytes(4)) + box(b"moov", mvhd + trak)

    def el(eid, payload):
        return eid + bytes([0x80 | len(payload)]) + payload

    info = el(
        b"\x15\x49\xa9\x66",
        el(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + el(b"\x44\x89", struct.pack(">f", 5000.0)),
    )
    video = el(
        b"\xe0",
        el(b"\xb0", (640).to_bytes(2, "big")) + el(b"\xba", (360).to_bytes(2, "big")),
    )
    tracks = el(b"\x16\x54\xae\x6b", el(b"\xae", video))
    webm = el(b"\x1a\x45\xdf\xa3", bytes(4)) + el(b"\x18\x53\x80\x67", info + tracks)

    df = spark.createDataFrame(
        [
            ("mp4a", "video", bytearray(mp4)),
            ("webm1", "video", bytearray(webm)),
        ],
        "media_id string, kind string, payload binary",
    )
    rows = {
        r["media_id"]: r for r in extract_features(df, decode_stub=False).collect()
    }
    m = rows["mp4a"]
    assert (m["width"], m["height"], m["n_frames"]) == (320, 240, 15)
    assert abs(m["duration_s"] - 2.0) < 1e-6 and m["feature"] is None
    w = rows["webm1"]
    assert (w["width"], w["height"]) == (640, 360)
    assert abs(w["duration_s"] - 5.0) < 1e-6 and w["feature"] is None

    fragmented = box(b"ftyp", b"mp42" + bytes(4)) + box(b"mdat", b"\x00" * 16)
    with _pytest.raises(NotImplementedError, match="no moov"):
        _decode_real("f1", "video", fragmented, 16)


def test_lang_id_plan_has_no_python_eval(spark):
    """lang_id is pure Catalyst: its plan holds no Arrow/pandas Python
    evaluation."""
    from commoncrawl_fetcher_lite_spark.operators.text import lang_id

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(40)],
        "doc_id long, text string",
    )
    out = lang_id(docs)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in plan and "mapInPandas" not in plan.lower()
