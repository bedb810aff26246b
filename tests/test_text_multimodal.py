"""Text-analysis + multimodal operator tests."""

from __future__ import annotations

from commoncrawl_fetcher_lite_spark.operators.multimodal import classify_media
from commoncrawl_fetcher_lite_spark.operators.text import (
    bpe_ish_token_count,
    fingerprints,
    lang_id,
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
