"""Operators over the north-rule interleaved document shape —
(doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>) — the exact `input_hint` table the
engine's fetch pipeline lands (assembled by sources/warc.py span
extraction; per-row span-sequence equality against
the reference is the core parity invariant, tests/test_pipeline_parity).

Everything here is pure Catalyst array/struct HOFs (transform / filter /
array_sort / aggregate) — the spans column never explodes, so
doc-grained consumers stay inside one map-only scan stage at 100 TB.

Reference parity: the reference emits spans implicitly in document order
(FileFromCCWarcExtractor.java:101-152 — first-WARC-record payload, then
content-addressed media); these operators are the query-side consumers
the reference never needed because it stopped at files on disk.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_spans(spans: Column | str = "spans") -> Column:
    """Spans in document order: array_sort by the struct's `offset`.
    Span arrays arrive partition-ordered from distributed assembly
    (a union of text and media extraction paths), so consumers must
    NEVER assume element order — this is the one canonical sort."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.array_sort(
        c,
        lambda a, b: F.when(a["offset"] < b["offset"], F.lit(-1))
        .when(a["offset"] > b["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def spans_text(spans: Column | str = "spans", sep: str = "") -> Column:
    """Document text reassembled from its text spans in offset order —
    the 'give me the trainable text of this interleaved doc' accessor.
    Media spans contribute nothing; `sep` joins adjacent text spans
    ('' reproduces byte-exact concatenation when spans partition the
    original text)."""
    return F.array_join(
        F.transform(
            F.filter(sorted_spans(spans), lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
        sep,
    )


def span_stats_expr(spans: Column | str = "spans") -> Column:
    """Per-document span shape as a let-bound struct Column: (n_spans,
    n_text, n_media, text_chars, order_ok). `order_ok` asserts the
    reference's span-order invariant — offsets are exactly the contiguous
    run 0..n-1 (any gap, duplicate, or negative offset fails). Compose it
    into a wider projection (stats + reassembled text in ONE map stage)
    instead of deriving separate doc-grained frames and paying a
    self-join to glue them back (the plan q_span_assembly shipped with
    before round 6 polish)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    c = F.col(spans) if isinstance(spans, str) else spans

    def _stats(sp):
        n = F.size(sp)
        n_text = F.size(F.filter(sp, lambda s: s["kind"] == "text"))
        text_chars = F.aggregate(
            F.filter(sp, lambda s: s["kind"] == "text"),
            F.lit(0),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        )
        offs = F.array_sort(F.transform(sp, lambda s: s["offset"]))
        order_ok = F.when(n == 0, F.lit(True)).otherwise(
            F.size(
                F.filter(
                    F.zip_with(
                        offs,
                        F.sequence(F.lit(0), n - 1),
                        lambda got, want: (got == want).cast("int"),
                    ),
                    lambda ok: ok == 1,
                )
            )
            == n
        )
        return F.struct(
            n.alias("n_spans"),
            n_text.alias("n_text"),
            (n - n_text).alias("n_media"),
            text_chars.alias("text_chars"),
            order_ok.alias("order_ok"),
        )

    return let(c, _stats)

