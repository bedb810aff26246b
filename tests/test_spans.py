"""Interleaved span operators (operators/spans.py) — the north-rule
input shape (doc_id, spans: array<struct<kind,text,media_ref,offset>>)."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.operators.spans import (
    sorted_spans,
    span_stats_expr,
    spans_text,
)

SPAN_DDL = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def _docs(spark):
    return spark.createDataFrame(
        [
            # out-of-order on purpose: text tail, media, text head
            (
                "a",
                [
                    ("text", " world", None, 2),
                    ("media", None, "img://a/1", 1),
                    ("text", "hello", None, 0),
                ],
            ),
            # text-only, already ordered
            ("b", [("text", "one", None, 0), ("text", " two", None, 1)]),
            # media-only
            ("c", [("media", None, "img://c/1", 0)]),
            # broken order: gap in offsets
            ("d", [("text", "x", None, 0), ("text", "y", None, 2)]),
            # empty spans
            ("e", []),
        ],
        SPAN_DDL,
    )


def test_spans_text_reassembles_in_offset_order(spark):
    got = {
        r.doc_id: r.t
        for r in _docs(spark)
        .select("doc_id", spans_text("spans").alias("t"))
        .collect()
    }
    assert got == {"a": "hello world", "b": "one two", "c": "", "d": "xy",
                   "e": ""}


def test_span_stats_shape_and_order_invariant(spark):
    got = {
        r.doc_id: r
        for r in _docs(spark)
        .select("doc_id", F.inline(F.array(span_stats_expr("spans"))))
        .collect()
    }
    assert (got["a"].n_spans, got["a"].n_text, got["a"].n_media) == (3, 2, 1)
    assert got["a"].text_chars == 11
    assert got["a"].order_ok  # 0,1,2 contiguous (sorted first)
    assert not got["d"].order_ok  # 0,2 has a gap
    assert got["e"].n_spans == 0 and got["e"].order_ok  # vacuous


def test_sorted_spans_is_stable_by_offset(spark):
    first = (
        _docs(spark)
        .where("doc_id = 'a'")
        .select(F.element_at(sorted_spans("spans"), 1).alias("s"))
        .collect()[0]
        .s
    )
    assert first.kind == "text" and first.text == "hello"


def test_token_budget_mix_semantics(spark):
    """Each stratum keeps its seeded-md5 prefix: running total before a
    kept doc is < budget, the crossing doc IS kept, total of kept >=
    budget when the stratum has enough, zero-budget strata vanish."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import (
        token_budget_mix,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 10, "en") for i in range(20)]
        + [(100 + i, "w " * 10, "de") for i in range(3)]
        + [(200 + i, "w " * 10, "zh") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    out = token_budget_mix(
        docs, budgets={"en": 45, "zh": 0}, default_budget=1000
    )
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    # en: 10 tokens/doc, budget 45 -> cum_before 0,10,20,30,40 all < 45
    # -> exactly 5 kept (the 5th crosses), total 50 >= 45
    assert len(by_lang["en"]) == 5
    assert sorted(r.cum_tokens_before for r in by_lang["en"]) == [
        0, 10, 20, 30, 40]
    # de: default budget 1000 -> all 3 kept
    assert len(by_lang["de"]) == 3
    # zh: budget 0 -> none
    assert "zh" not in by_lang
    # determinism: rerun with a different partitioning, same selection
    out2 = token_budget_mix(
        docs.repartition(7), budgets={"en": 45, "zh": 0},
        default_budget=1000,
    )
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in out2.collect()
    )


def test_token_budget_mix_no_single_partition_window(spark):
    """The per-stratum cumsum must ride the two-pass prefix sum, never a
    Window.partitionBy(stratum) that concentrates a whole stratum in one
    task: plan has no Exchange SinglePartition, and the window partition
    keys include the physical partition id."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import (
        token_budget_mix,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 5, "en") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    plan = (
        token_budget_mix(docs, budgets={"en": 100})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "_pid" in plan


def test_mean_pool_embeddings_hand_computed(spark):
    from commoncrawl_fetcher_lite_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    vecs = spark.createDataFrame(
        [
            ("a", [1.0, 2.0]),
            ("a", [3.0, 4.0]),
            ("b", [5.0, 6.0]),
        ],
        "doc_id string, v array<double>",
    )
    got = {r.doc_id: r for r in mean_pool_embeddings(vecs).collect()}
    assert got["a"].embedding == [2.0, 3.0] and got["a"].n_vectors == 2
    assert got["b"].embedding == [5.0, 6.0] and got["b"].n_vectors == 1
    # explicit dim skips the driver lookup and must agree
    got2 = {
        r.doc_id: r.embedding
        for r in mean_pool_embeddings(vecs, dim=2).collect()
    }
    assert got2 == {k: v.embedding for k, v in got.items()}
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id string, v array<double>")
    with _pytest.raises(ValueError):
        mean_pool_embeddings(empty)


def test_span_assembly_query_is_map_only(spark):
    """The driver row computes stats + reassembly + manifest in ONE
    projection: no Exchange, no Join anywhere in the plan."""
    import __spark_entry__ as entrymod

    df = entrymod.q_span_assembly(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
