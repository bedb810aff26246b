"""Corpus-prep additions: holdout_split (operators/mixing.py),
tfidf_topk / normalize_text (operators/text.py), and the domain
blocklist gate (frontier/blocklist.py).

The shared contract: all four are deterministic under rerun and input
repartitioning, and none buffers anything corpus-sized (tfidf's window
groups are per-doc distinct terms; the blocklist explode runs over
DISTINCT hosts only — both asserted here, the rest by construction).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.frontier.blocklist import (
    domain_suffixes,
    filter_blocked,
    tag_blocked,
)
from commoncrawl_fetcher_lite_spark.operators.mixing import holdout_split
from commoncrawl_fetcher_lite_spark.operators.text import normalize_text, tfidf_topk


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# -------------------------------------------------------------- holdout


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(2000).select(F.col("id").alias("doc_id"))


def test_holdout_partitions_and_proportions(ids):
    out = holdout_split(ids, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.c for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert sum(counts.values()) == 2000
    assert 1500 < counts["train"] < 1700
    assert 120 < counts["val"] < 280 and 120 < counts["test"] < 280


def test_holdout_membership_stable_under_corpus_growth(ids, spark):
    """Adding new documents never moves an existing one across the
    boundary — the anti-contamination property."""
    small = holdout_split(ids.where("doc_id < 500"), {"train": 0.9, "test": 0.1})
    big = holdout_split(ids, {"train": 0.9, "test": 0.1})
    a = dict((r.doc_id, r.split) for r in small.collect())
    b = dict((r.doc_id, r.split) for r in big.where("doc_id < 500").collect())
    assert a == b


def test_holdout_is_map_only(ids):
    assert "Exchange" not in _plan(holdout_split(ids, {"a": 0.5, "b": 0.5}))


def test_holdout_validates_fractions(ids):
    with pytest.raises(ValueError):
        holdout_split(ids, {"train": 0.8, "test": 0.1})
    with pytest.raises(ValueError):
        holdout_split(ids, {})
    with pytest.raises(ValueError):
        holdout_split(ids, {"a": 1.5, "b": -0.5})


# ---------------------------------------------------------------- tfidf


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry durian"),
        ],
        "doc_id long, text string",
    )


def test_tfidf_hand_computed(tiny_docs):
    out = {
        (r.doc_id, r.term): (r.tf, r.score, r.rank)
        for r in tfidf_topk(tiny_docs, k=2).collect()
    }
    # N=3. df: apple 1, banana 2, cherry 2, durian 1
    idf_rare = math.log(4 / 2) + 1  # df=1
    idf_mid = math.log(4 / 3) + 1  # df=2
    assert out[(0, "apple")] == (2, round(2 * idf_rare, 6), 1)
    assert out[(0, "banana")] == (1, round(idf_mid, 6), 2)
    assert out[(2, "cherry")][0] == 2 and out[(2, "cherry")][2] == 1
    assert out[(1, "banana")][2] == 1  # tie banana/cherry broken by term asc
    assert out[(1, "cherry")][2] == 2


def test_tfidf_k_bounds_rows_per_doc(tiny_docs):
    out = tfidf_topk(tiny_docs, k=1)
    assert out.groupBy("doc_id").count().where("count > 1").count() == 0


def test_tfidf_deterministic_across_partitioning(tiny_docs, spark):
    a = sorted(map(tuple, tfidf_topk(tiny_docs, k=3).collect()))
    b = sorted(map(tuple, tfidf_topk(tiny_docs.repartition(5), k=3).collect()))
    assert a == b


def test_tfidf_no_single_partition_exchange(tiny_docs):
    plan = _plan(tfidf_topk(tiny_docs, k=3))
    # the only single-partition stage allowed is the broadcast 1-row N
    # aggregate, which plans as BroadcastExchange, not Exchange
    assert plan.count("Exchange SinglePartition") == 0


def test_tfidf_rejects_bad_k(tiny_docs):
    with pytest.raises(ValueError):
        tfidf_topk(tiny_docs, k=0)


# ------------------------------------------------------------ normalize


def test_normalize_text_core(spark):
    docs = spark.createDataFrame(
        [
            (0, "a\r\nb\rc"),
            (1, "x \t y"),
            (2, "  pad  "),
            (3, "ok"),
            (4, "nul\x00bel\x07del\x7f"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.norm_text, r.changed) for r in normalize_text(docs).collect()}
    assert out[0] == ("a\nb\nc", True)
    assert out[1] == ("x y", True)
    assert out[2] == ("pad", True)
    assert out[3] == ("ok", False)
    assert out[4] == ("nulbeldel", True)


def test_normalize_text_nfc_composes(spark):
    decomposed = "éclair"  # e + combining acute
    composed = "éclair"
    docs = spark.createDataFrame(
        [(0, decomposed), (1, composed)], "doc_id long, text string"
    )
    out = {r.doc_id: r.norm_text for r in normalize_text(docs, nfc=True).collect()}
    assert out[0] == composed == out[1]


def test_normalize_is_map_only(spark):
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert "Exchange" not in _plan(normalize_text(docs))


# ------------------------------------------------------------ blocklist


def test_domain_suffixes(spark):
    row = spark.range(1).select(
        domain_suffixes(F.lit("a.b.example.com")).alias("s"),
        domain_suffixes(F.lit("example.com")).alias("t"),
        domain_suffixes(F.lit("localhost")).alias("u"),
    ).first()
    assert row.s == ["a.b.example.com", "b.example.com", "example.com"]
    assert row.t == ["example.com"]
    assert row.u == []  # single label: below min_labels, never matched


@pytest.fixture(scope="module")
def cands(spark):
    return spark.createDataFrame(
        [
            (0, "shop.example.com"),
            (1, "blog.example.com"),
            (2, "example.com"),
            (3, "safe.example.net"),
            (4, "deep.shop.example.com"),
        ],
        "cand_id long, host string",
    )


@pytest.fixture(scope="module")
def bl(spark):
    return spark.createDataFrame(
        [("example.com", "ads"), ("shop.example.com", "commerce")],
        "domain string, category string",
    )


def test_tag_blocked_longest_match_wins(cands, bl):
    out = {r.cand_id: r for r in tag_blocked(cands, bl).collect()}
    assert out[0].block_category == "commerce"  # exact over parent
    assert out[4].block_category == "commerce"  # subdomain of the longer rule
    assert out[1].block_category == "ads"  # parent-domain match
    assert out[2].block_category == "ads"  # exact parent
    assert not out[3].blocked and out[3].block_domain is None


def test_filter_blocked_drops_and_keeps_columns(cands, bl):
    out = filter_blocked(cands, bl)
    assert out.columns == cands.columns
    assert {r.cand_id for r in out.collect()} == {3}


def test_blocklist_join_is_broadcast(cands, bl):
    # broadcast_verdict=True: test frames have no Catalyst stats, so the
    # auto gate would plan a shuffle join (functions/joins.py contract)
    plan = _plan(tag_blocked(cands, bl, broadcast_verdict=True))
    assert "BroadcastHashJoin" in plan
    # candidate frame must not hash-exchange for the verdict join
    assert plan.count("Exchange hashpartitioning") <= 1  # only the host distinct


def test_blocklist_matching_is_case_and_fqdn_insensitive(spark, bl):
    """DNS names are case-insensitive and may carry a trailing dot:
    `https://Evil.Example.COM./` must not bypass a lowercase list entry,
    and an upper-cased LIST row must still match lowercase hosts. The
    candidate's own host column is returned untouched."""
    mixed = spark.createDataFrame(
        [
            (0, "Shop.Example.COM"),
            (1, "blog.example.com."),  # trailing-dot FQDN form
            (2, "safe.example.net"),
        ],
        "cand_id long, host string",
    )
    out = {r.cand_id: r for r in tag_blocked(mixed, bl).collect()}
    assert out[0].blocked and out[0].block_category == "commerce"
    assert out[1].blocked and out[1].block_category == "ads"
    assert not out[2].blocked
    assert out[0].host == "Shop.Example.COM"  # original casing preserved
    # and the list side normalizes too
    shouty = spark.createDataFrame(
        [("EXAMPLE.COM.", "ads")], "domain string, category string"
    )
    got = {r.cand_id: r.blocked for r in tag_blocked(mixed, shouty).collect()}
    assert got == {0: True, 1: True, 2: False}


def test_blocklist_duplicate_category_rows_are_deterministic(cands, spark):
    """UT1 category files overlap: the same domain listed under two
    categories must resolve to ONE deterministic verdict (smallest
    category), not an arbitrary min_by tie."""
    dup = spark.createDataFrame(
        [("example.com", "porn"), ("example.com", "ads")],
        "domain string, category string",
    )
    for df in (dup, dup.repartition(3)):
        out = {r.cand_id: r.block_category for r in tag_blocked(cands, df).collect()}
        assert out[2] == "ads"
        assert out[0] == "ads"  # suffix match inherits the same tie rule


# --------------------------------------------------- repetition signals


def test_repetition_signals_hand_computed(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # 6 tokens -> 5 bigrams: "a b","b a","a b","b a","a b";
            # modal "a b" x3 -> top_2 = 3/5; dup occurrences = 5/5
            (0, "a b a b a b"),
            # all-distinct tokens: modal bigram 1/(n-1), zero dup
            (1, "q w e r t y u i o p"),
            (2, ""),  # empty: all fracs 0, passes
            (3, None),  # NULL text: as empty
            (4, " \t\n\x0b\f\r "),  # only separators: as empty
            # each Java \s separates: x y x y x y, bigram "x y" 3 of 5
            (5, "x\ty\nx\x0by\fx\ry"),
            # \xa0, \u2003 and \x1c stay inside a token: 2 tokens, 1 bigram
            (6, "a\xa0b c\u2003d\x1ce"),
            # 4 tokens: fewer than 5 or 10, so no 5-/10-gram
            (7, "a b c d"),
            (8, "solo"),  # fewer tokens than every n
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    fracs = [f"top_{n}gram_frac" for n in (2, 3, 4)] + [
        f"dup_{n}gram_frac" for n in (5, 10)
    ]
    for i in (2, 3, 4, 8):
        assert [out[i][c] for c in fracs] == [0.0] * 5 and out[i].rep_pass
    assert out[5].top_2gram_frac == 3 / 5 and out[5].top_3gram_frac == 2 / 4
    assert out[5].dup_5gram_frac == 0.0 and not out[5].rep_pass
    assert out[6].top_2gram_frac == 1.0 and out[6].top_3gram_frac == 0.0
    assert [out[7][c] for c in fracs] == [1 / 3, 1 / 2, 1.0, 0.0, 0.0]
    assert not out[7].rep_pass
    assert abs(out[0].top_2gram_frac - 3 / 5) < 1e-9
    assert not out[0].rep_pass  # 0.6 > 0.20 threshold
    assert abs(out[1].top_2gram_frac - 1 / 9) < 1e-9
    assert out[1].dup_5gram_frac == 0.0 and out[1].rep_pass
    assert out[2].top_2gram_frac == 0.0 and out[2].rep_pass


def test_repetition_signals_dup_fraction(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import repetition_signals

    # 12 tokens "x1..x6 x1..x6": every 5-gram window starting at pos 1/2
    # repeats at pos 7/8 -> of the 8 5-grams, 4 occur twice (2 distinct
    # grams x2) -> dup_5 = 4/8; the 10-gram stream (3 windows) has no
    # repeats -> dup_10 = 0
    text = "x1 x2 x3 x4 x5 x6 x1 x2 x3 x4 x5 x6"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = repetition_signals(docs).collect()[0]
    assert abs(r.dup_5gram_frac - 4 / 8) < 1e-9
    assert r.dup_10gram_frac == 0.0
    # custom sizes, n = 1 included: the modal token x1 is 2 of 12
    r = repetition_signals(
        docs, top_ns=(1,), top_thresholds=(0.5,), dup_ns=(6, 7),
        dup_thresholds=(0.9, 0.9),
    ).collect()[0]
    assert r.top_1gram_frac == 2 / 12 and r.dup_6gram_frac == 2 / 7
    assert r.dup_7gram_frac == 0.0 and r.rep_pass
    with pytest.raises(ValueError):
        repetition_signals(docs, top_ns=(0,), top_thresholds=(0.5,))


# ------------------------------------------------------------- chunking


def test_chunk_documents_hand_computed(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (1, "a b"), (2, "")],
        "doc_id long, text string",
    )
    out = {}
    for r in chunk_documents(docs, max_tokens=4, overlap=1).collect():
        out.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens, r.chunk_text))
    # doc 0: 10 tokens, stride 3 -> ceil(9/3)=3 chunks at 0,3,6
    assert sorted(out[0]) == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]
    assert out[1] == [(0, 2, "a b")]  # short doc: one partial chunk
    assert 2 not in out  # empty doc: no rows


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(257))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        (r.chunk_idx, r.chunk_text.split(" "))
        for r in chunk_documents(docs, max_tokens=64, overlap=16).collect()
    )
    seen = set()
    for idx, toks in rows:
        assert toks[0] == f"w{idx * 48}"  # stride = 48
        seen.update(toks)
    assert seen == {f"w{i}" for i in range(257)}
    # consecutive chunks share exactly `overlap` tokens (full chunks)
    for (_, a), (_, b) in zip(rows, rows[1:]):
        assert a[-16:] == b[:16] or len(b) < 64


def test_chunk_documents_validates(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    for kw in ({"max_tokens": 0}, {"overlap": -1}, {"max_tokens": 8, "overlap": 8}):
        with pytest.raises(ValueError):
            chunk_documents(docs, **kw)


def test_chunk_documents_is_map_only(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    assert "Exchange" not in _plan(chunk_documents(docs))
