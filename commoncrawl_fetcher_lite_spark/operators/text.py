"""Text analysis operators: language-ID heuristic, token counting,
document fingerprinting. Pure Catalyst expressions, so they run
inside whole-stage codegen over 100 TB text scans — except the Gopher
gates (gopher_quality, gopher_gate, repetition_signals). Their n-gram
counts need chains of higher-order functions, which Spark cannot compile
and interprets row by row; they run as Arrow-batched Python kernels
instead (measured, see the Gopher section).
"""

from __future__ import annotations

import functools
import re
from collections import Counter
from typing import Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# marker-word profiles for the n-gram/stopword language heuristic.
# Deterministic argmax over marker-hit ratios with fixed tie order —
# on real corpora the profiles would come from per-language stopword lists.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "and", "of", "to"]


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def tokens_nonempty(text_col: str | Column) -> Column:
    """tokens() minus empty strings, WITHOUT the filter pass: splitting
    on \\s+ can yield empty tokens ONLY at the two ends of the array (a
    leading '\\t'/'\\n' that plain 0x20-`trim` leaves behind, or a
    trailing one under split's limit=-1), so an end-check + conditional
    slice replaces the per-row full-array copy that `filter(x != '')`
    paid — the common case (clean ends, the overwhelming majority of a
    real corpus) returns the split array itself with zero extra
    allocation. A full-string regex strip was tried first and measured
    SLOWER than the filter (the \\s+$ alternation rescans the whole
    string). Identical values to filter(tokens(t), x != '') on every
    input — property-tested including blank/whitespace-only strings.
    The Gopher kernels' _split_tokens is the same rule in Python."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def _clean(arr):
        n = F.size(arr)
        first_empty = F.element_at(arr, 1) == ""
        last_empty = (n > 1) & (F.element_at(arr, n) == "")
        start = F.when(first_empty, F.lit(2)).otherwise(F.lit(1))
        ln = n - start + 1 - F.when(last_empty, F.lit(1)).otherwise(F.lit(0))
        return F.when(
            first_empty | last_empty,
            F.when(ln > 0, F.slice(arr, start, ln)).otherwise(
                F.array().cast("array<string>")
            ),
        ).otherwise(arr)

    return let(F.split(F.trim(c), r"\s+"), _clean)


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """Sub-word-ish token estimate: count regex pieces (letter runs, digit
    runs, punctuation singles) — the cheap scan-side proxy for a BPE
    tokenizer's token count."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    pieces = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    # long letter runs split ~every 6 chars by BPE; add ceil(len/6)-1 extras
    extras = F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, p: acc + F.greatest(F.ceil(F.length(p) / 6).cast("int") - 1, F.lit(0)),
    )
    return F.size(pieces) + extras


def lang_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Marker-word language heuristic: per language, ratio of tokens in its
    marker set; predict argmax (ties by fixed language order). Deterministic
    and scan-side.

    Shape note (r7): the former 5 HOF filter passes over a let-bound token
    array were INTERPRETED (higher-order functions are CodegenFallback) and
    measured 8.5 s at sf1.0; this explode → count-when aggregation stays in
    whole-stage codegen end to end and measured 1.3 s for byte-identical
    output. At 100 TB the explode is map-local and the partial (map-side)
    aggregation collapses to one row per document BEFORE the exchange, so
    the single shuffle carries O(docs) skinny rows — not O(tokens). (An
    earlier regexp_count single-string variant measured 6x slower than even
    the HOF form — Java lookbehind alternation; noted so nobody retries it.)"""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    # spread before the explode so the map-side partial aggregation runs
    # wide (narrow small-file scans otherwise pin it to 1-2 cores)
    ex = spread_for_compute(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for lang, markers in LANG_MARKERS.items():
        aggs.append(
            F.count(F.when(F.col("w").isin(markers), F.lit(1))).alias(
                f"_c_{lang}"
            )
        )
    counts = ex.groupBy(id_col).agg(*aggs)
    scores = [
        (lang, F.round(F.col(f"_c_{lang}").cast("double") / F.col("_n"), 6))
        for lang in LANG_MARKERS
    ]
    pred = None
    best = None
    for lang, s in scores:
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    # left join back: a null-text doc explodes to zero rows but must still
    # emit its row — null counts reproduce the old null-score semantics
    # (pred falls through to the first language, score null)
    return docs.select(id_col).join(counts, id_col, "left").select(
        id_col, pred.alias("pred_lang"), F.round(best, 6).alias("lang_score")
    )


def _window_min_chain(arr: Column, w: int) -> Column:
    """Sliding-window minimum over a BOUND array via chained zip_with —
    m_k[i] = least(m_{k-1}[i], arr[i+k-1]) — then one slice to the valid
    prefix. Value-identical to transform(sequence, array_min(slice(i, w)))
    (F.least == lexicographic array_min element-wise; the valid prefix
    never sees zip_with's null padding), one comparison per element per
    level instead of a w-element slice copy per position (r7)."""
    m = arr
    for k in range(2, w + 1):
        m = F.zip_with(
            m,
            F.slice(arr, k, F.greatest(F.size(arr) - (k - 1), F.lit(0))),
            lambda a, b: F.least(a, b),
        )
    if w == 1:
        return m
    return F.slice(m, 1, F.greatest(F.size(arr) - (w - 1), F.lit(0)))


def fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Winnowing-style document fingerprint: md5 each token, take the
    lexicographic min over each sliding window, distinct mins = the
    fingerprint set. Output: (doc_id, n_fingerprints, min_fingerprint).
    Lexicographic string mins make the scheme portable across engines."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    # Guard: docs with < window tokens would make sequence(1, size-(w-1))
    # the descending [1, 0] and slice(hashes, 0, w) throw — short docs must
    # yield an empty fingerprint set instead (then dropped by the filter).
    fp_struct = let(
        F.transform(tokens(text_col), lambda w: F.md5(w)),
        lambda hashes: let(
            # r7: windowed-min chain (see _window_min_chain) — short docs
            # fall out as an empty set through the greatest(…,0) slice,
            # null text nulls through and is dropped by the n>0 filter,
            # both exactly as the old CASE guard behaved
            F.array_distinct(_window_min_chain(hashes, window)),
            lambda fp: F.struct(
                F.size(fp).alias("n"), F.array_min(fp).alias("mn")
            ),
        ),
    )
    # F.inline = generator node: never collapsed into downstream
    # projections, so the whole let-chain runs exactly once per row even
    # though two output columns (and the filter) consume it.
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    return (
        spread_for_compute(docs).select(id_col, F.inline(F.array(fp_struct)))
        .withColumnRenamed("n", "n_fingerprints")
        .withColumnRenamed("mn", "min_fingerprint")
        .where(F.col("n_fingerprints") > 0)
    )


def fingerprint_set(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    stride: int = 4,
) -> DataFrame:
    """Exploded MOSS-style winnowing fingerprints: md5 each `n`-token
    gram, take the min over each window of `stride` consecutive gram
    hashes, one (id, fp) row per DISTINCT min per document. Feeds
    passage-level dedup (`dedup.duplicate_span_pairs`): documents
    sharing many fingerprints share long token spans even when their
    minhash/simhash whole-document signatures diverge.

    NOTE the unit hashed is the full n-gram (Schleimer et al. 2003
    winnowing), NOT the single token that :func:`fingerprints` window-mins
    for its per-doc summary — on small-vocabulary text single-token mins
    collapse onto the few globally-min token hashes (df ~= corpus size,
    zero discriminative power), while n-gram hashes stay span-specific.
    Winnowing guarantees any shared run of >= n+stride-1 tokens yields at
    least one shared fingerprint, at ~1/stride the density of raw
    shingles.

    Scale shape: gram hashing + windowing is map-only scan work inside
    whole-stage codegen; the output frame is skinny — an id plus a
    32-char hex hash — so downstream groupBy/join shuffles carry ~40 B
    rows, not document text."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    from commoncrawl_fetcher_lite_spark.operators.dedup import gram_chain

    fp_arr = let(
        tokens(text_col),
        lambda toks: let(
            # r7: gram_chain build (one concat per element, no slice copy);
            # md5 count unchanged, null text falls through the next guard
            # to the empty array exactly as before
            F.transform(gram_chain(toks, n), lambda g: F.md5(g)),
            lambda grams: F.array_distinct(_window_min_chain(grams, stride)),
        ),
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    return spread_for_compute(docs).select(
        F.col(id_col).alias("id"), F.explode(fp_arr).alias("fp")
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-supervised unigram language-model score: train the unigram
    model on the corpus itself (token frequency / corpus total), then
    score each document by its mean negative log-probability. High NLL =
    token distribution unlike the corpus (gibberish, foreign text,
    boilerplate symbol soup) — the KenLM-shaped quality signal
    (CCNet/Wenzek et al. 2020 rank by LM perplexity; this is its
    order-0 version).

    Output: (doc_id, n_tokens, unigram_nll).

    Scale shape: token explode is map-only; the frequency table is ONE
    groupBy(token) where map-side partial aggregation does the heavy
    lifting (tokens repeat — combiners shrink zipfian input massively);
    the score join re-shuffles tokens on the same key (exchange reuse),
    then one groupBy(doc_id). Window-count-over-token is deliberately
    NOT used here: hot tokens ('the') would buffer corpus-sized window
    groups, while partial agg never materializes a group."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    return (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("t"))), 6
            ).alias("unigram_nll"),
        )
    )


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Dataset-card statistics per group (default: language): document
    count, total/mean token counts, and exact p50/p90/p99 token-count
    percentiles — the reporting block every corpus release ships.

    Exact percentile (not approx_percentile) is deliberate and
    scale-safe HERE: Spark's percentile aggregate buffers a value→count
    map per group, and token counts have bounded cardinality (~10^5
    distinct values regardless of corpus size), so the map stays tiny at
    100 TB. For unbounded-cardinality metrics (floating scores), swap in
    approx_percentile."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    base = spread_for_compute(docs).select(
        *group_cols, token_count(text_col).alias("n_tokens")
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 6).alias("p90_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.99)), 6).alias("p99_tokens"),
    )


# ------------------------------------------------------------ Gopher gates
#
# gopher_quality, gopher_gate and repetition_signals run as Arrow-batched
# pure-Python kernels (one scalar arrow_udf per operator, struct out). The
# Catalyst form they replace — sorted n-gram arrays folded to run lengths
# by chains of higher-order functions — was CodegenFallback: Spark
# interpreted it row by row, and it was the most expensive step of corpus
# preparation. On 4,506 fetched docs (4-core box, local[3], median of 7
# reps, two runs per side) the kernels measured gopher_quality
# 0.68 → 0.52 s, repetition_signals 2.1 → 0.40 s and the two joined
# 2.9 → 0.78 s, with identical values and schemas.

# Java's \s, the class tokens_nonempty splits on, is [ \t\n\x0b\f\r];
# str.split() also splits on the code points below, which Java keeps
# inside a token.
_PY_ONLY_SPACE = re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
).search
_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+").findall
# whole tokens with no [A-Za-z] character (the rlike("[A-Za-z]") test)
_NON_ALPHA_TOKEN = re.compile(
    r"(?<![^ \t\n\x0b\f\r])[^ \t\n\x0b\f\rA-Za-z]+(?![^ \t\n\x0b\f\r])"
).findall


def _split_tokens(text: str) -> list[str]:
    """tokens_nonempty's tokens: split on Java's \\s, empty tokens dropped.
    str.split() is the fast path for text without Python-only whitespace."""
    return _TOKEN(text) if _PY_ONLY_SPACE(text) else text.split()


def _ngram_repeats(toks: list[str], ns) -> dict[int, tuple[int, int, int]]:
    """Per n: (modal n-gram count, occurrences of n-grams seen twice or
    more, n-gram total), counted with a hash counter. Once every m-gram is
    distinct, so is every longer n-gram (its m-prefix is), and the count
    is skipped."""
    out = {}
    distinct_from = None
    for n in sorted(set(ns)):
        total = max(len(toks) - n + 1, 0)
        if distinct_from is not None:
            out[n] = (min(total, 1), 0, total)
            continue
        counts = list(Counter(zip(*(toks[i:] for i in range(n)))).values())
        singles = counts.count(1)
        if singles == len(counts):
            distinct_from = n
        out[n] = (max(counts, default=0), total - singles, total)
    return out


def _arrow_kernel(fields: list[T.StructField], row: Callable) -> Callable:
    """Scalar Arrow UDF: a text column in, struct<fields> out, `row(text)`
    giving each row's field tuple."""
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_fields = [pa.field(f.name, to_arrow_type(f.dataType)) for f in fields]

    @F.arrow_udf(T.StructType(fields))
    def kernel(texts: pa.Array) -> pa.Array:
        cols = list(zip(*map(row, texts.to_pylist()))) or [()] * len(fields)
        return pa.StructArray.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow_fields)],
            fields=arrow_fields,
        )

    return kernel


def _apply_kernel(docs: DataFrame, kernel, text_col: str, id_col: str) -> DataFrame:
    from commoncrawl_fetcher_lite_spark.functions.letbind import spread_for_compute

    # spread first: a small-file scan arrives as 1-2 partitions and would
    # run the kernel on 1-2 cores
    return (
        spread_for_compute(docs)
        .select(id_col, kernel(F.col(text_col)).alias("_k"))
        .select(id_col, "_k.*")
    )


_GOPHER_FIELDS = [
    T.StructField("n_words", T.IntegerType()),
    T.StructField("mean_word_len", T.DoubleType()),
    T.StructField("distinct_frac", T.DoubleType()),
    T.StructField("top2gram_frac", T.DoubleType()),
    T.StructField("alpha_word_frac", T.DoubleType()),
    T.StructField("gopher_pass", T.BooleanType()),
]


def _gopher_row(
    text: str | None,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    min_distinct_frac: float,
    max_top2gram_frac: float,
    min_alpha_word_frac: float,
) -> tuple:
    toks = [] if text is None else _split_tokens(text)
    n = len(toks)
    mean = distinct = top2 = alpha = 0.0
    if n:
        mean = sum(map(len, toks)) / n
        distinct = len(set(toks)) / n
        alpha = (n - len(_NON_ALPHA_TOKEN(text))) / n
    if n >= 2:
        top2 = max(Counter(zip(toks, toks[1:])).values()) / (n - 1)
    shape = (
        min_mean_word_len <= mean <= max_mean_word_len
        and distinct >= min_distinct_frac
        and top2 <= max_top2gram_frac
        and alpha >= min_alpha_word_frac
    )
    if text is None:
        # SQL three-valued logic: the word count of NULL text is NULL, so
        # the verdict is NULL unless another test already fails
        return None, mean, distinct, top2, alpha, (None if shape else False)
    return n, mean, distinct, top2, alpha, shape and min_words <= n <= max_words


def _gopher_kernel(**thresholds) -> Callable:
    return _arrow_kernel(_GOPHER_FIELDS, functools.partial(_gopher_row, **thresholds))


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_distinct_frac: float = 0.30,
    max_top2gram_frac: float = 0.20,
    min_alpha_word_frac: float = 0.80,
) -> DataFrame:
    """Gopher/C4-style repetition and shape gates (Rae et al. 2021 §A1.1
    thresholds where they transfer; the repetition rule here is the
    bigram variant): per document — word count bounds, mean word length
    band, distinct-word fraction, most-common-bigram fraction, and the
    fraction of words containing an [A-Za-z] character — plus the
    combined `gopher_pass` verdict. Words are tokens_nonempty's tokens.

    One Arrow-batched kernel pass per row (see the section comment): no
    explode, no groupBy, no shuffle, a map-only stage at any scale.
    top2gram_frac is the modal bigram's share of bigram OCCURRENCES
    (best/(n-1)), not Gopher's character-coverage share — documented
    divergence, identical gating intent, SQL-expressible for the oracle.
    NULL text gives NULL n_words, 0.0 fractions and a false verdict.
    """
    kernel = _gopher_kernel(
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        min_distinct_frac=min_distinct_frac,
        max_top2gram_frac=max_top2gram_frac,
        min_alpha_word_frac=min_alpha_word_frac,
    )
    return _apply_kernel(docs, kernel, text_col, id_col)


def gopher_gate(
    text_col: str | Column = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_distinct_frac: float = 0.30,
    max_top2gram_frac: float = 0.20,
    min_alpha_word_frac: float = 0.80,
) -> Column:
    """gopher_quality's pass verdict as a predicate Column for `.where()`
    — the same kernel, evaluated inside the scan's stage, zero shuffle.

    Shape guidance (measured, BENCH/BASELINE.md corpus-prep section):
    for filter → map-only sinks (gate → write, gate → chunk) this
    predicate form is strictly better — no exchange at all. For a
    MULTI-BRANCH consumer (tfidf_topk's dt/dfq/N branches), every branch
    re-evaluates an in-scan predicate unless an exchange below it gets
    reused — there, deriving gopher_quality's (doc_id, pass) frame and
    semi-joining the ids back was measured FASTER locally (the join's
    exchange materializes the verdict once; 8-core leg 14.8 s vs 18.4 s).
    On a multi-node cluster the trade tilts back toward the predicate as
    network-shuffle cost rises against free-scaling recompute — both
    forms exist so the deployment can pick."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    kernel = _gopher_kernel(
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        min_distinct_frac=min_distinct_frac,
        max_top2gram_frac=max_top2gram_frac,
        min_alpha_word_frac=min_alpha_word_frac,
    )
    return kernel(t)["gopher_pass"]


def _repetition_row(text: str | None, specs: list[tuple[str, int, float]]) -> tuple:
    stats = _ngram_repeats(
        [] if text is None else _split_tokens(text), [n for _, n, _ in specs]
    )
    fracs = []
    for kind, n, _ in specs:
        best, dup, total = stats[n]
        fracs.append((best if kind == "top" else dup) / total if total else 0.0)
    return (*fracs, all(f <= thr for f, (_, _, thr) in zip(fracs, specs)))


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    top_thresholds: tuple[float, ...] = (0.20, 0.18, 0.16),
    dup_ns: tuple[int, ...] = (5, 10),
    dup_thresholds: tuple[float, ...] = (0.15, 0.10),
) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1): per document,
    the modal n-gram's share of n-gram occurrences for small n (templated
    boilerplate shows up as one dominant bigram/trigram) and the fraction
    of n-gram occurrences that are repeats for large n (crawl spam repeats
    whole phrases) — plus the combined `rep_pass` verdict at Gopher's
    published thresholds.

    Fractions are over n-gram OCCURRENCES, not Gopher's character
    coverage — same documented divergence as gopher_quality's
    top2gram_frac: identical gating intent, and occurrence fractions are
    SQL-expressible so the DuckDB oracle reproduces them exactly. A text
    with fewer than n tokens (or NULL text) has fraction 0.0 for that n.

    Shape: one Arrow-batched kernel pass per row over tokens_nonempty's
    tokens, one hash count of the n-grams per n (section comment). No
    explode, no groupBy, no shuffle: a map-only stage at any scale.
    """
    if len(top_ns) != len(top_thresholds) or len(dup_ns) != len(dup_thresholds):
        raise ValueError("repetition_signals: ns/thresholds length mismatch")
    if min((*top_ns, *dup_ns), default=1) < 1:
        raise ValueError("repetition_signals: n-gram sizes must be >= 1")
    specs = [("top", n, thr) for n, thr in zip(top_ns, top_thresholds)] + [
        ("dup", n, thr) for n, thr in zip(dup_ns, dup_thresholds)
    ]
    fields = [
        T.StructField(f"{kind}_{n}gram_frac", T.DoubleType()) for kind, n, _ in specs
    ] + [T.StructField("rep_pass", T.BooleanType())]
    kernel = _arrow_kernel(fields, functools.partial(_repetition_row, specs=specs))
    return _apply_kernel(docs, kernel, text_col, id_col)


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (smoothed sklearn form:
    tf × (ln((N+1)/(df+1)) + 1)) — the standard corpus-analysis /
    keyword-extraction block. Output: (doc_id, term, tf, score, rank),
    rank 1..k, deterministic tie-break (rounded score desc, term asc).

    Scale shape: the (doc, term) counts are ONE groupBy where map-side
    combiners collapse repeated tokens before the exchange; document
    frequency reuses that already-distinct frame (groupBy(term) — no
    separate DISTINCT pass over the corpus); N comes from a broadcast
    1-row aggregate (never a driver collect); the score join re-shuffles
    on term; the final top-k is a window partitioned by doc_id whose
    groups are bounded by per-doc DISTINCT terms (~10^4 worst case), not
    corpus size — WindowGroupLimit prunes to k per group before the sort
    output materializes. No stage buffers anything corpus-sized.

    N counts documents containing >= 1 token and is derived from the
    (doc, term) frame, NOT a separate docs.count() branch: every branch
    of this plan hangs below dt's exchange, which Spark materializes
    once and reuses (ReusedExchange) — so the corpus scan AND any
    upstream filter predicate (e.g. an in-scan gopher_gate, whose
    let-bound token features are expensive) evaluate exactly once. The
    first cut aggregated N off `docs` directly; that branch re-scanned
    and re-gated the whole corpus, measured +30% on the corpus-prep
    scaling workload."""
    if k < 1:
        raise ValueError("tfidf_topk: k must be >= 1")
    from pyspark.sql import Window

    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    toks = spread_for_compute(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_nonempty(text_col)).alias("w"),
    )
    dt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = dt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = dt.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        dt.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    nfc: bool = False,
) -> DataFrame:
    """Canonical text cleanup before hashing/dedup/tokenization:
    CRLF/CR → LF, strip C0 control chars (except \\n and \\t) and DEL,
    collapse runs of spaces/tabs to one space, trim. Output:
    (doc_id, norm_text, changed).

    Dedup correctness depends on this running FIRST: exact dedup hashes
    bytes, so 'a  b' vs 'a b' or CRLF vs LF split what is one document
    into two digests. The core is three regexp_replace passes — pure
    Catalyst, map-only, whole-stage codegen.

    nfc=True additionally applies Unicode NFC composition (é as e+◌́ →
    precomposed é) via an Arrow-batched pandas UDF BEFORE the regex
    passes — the one step Catalyst has no built-in for. Python's
    unicodedata and DuckDB's nfc_normalize both implement UAX #15, so
    the operator stays oracle-checkable with nfc on."""
    core = F.col(text_col)
    if nfc:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(T.StringType())
        def _nfc(s):
            import unicodedata

            return s.map(
                lambda x: unicodedata.normalize("NFC", x) if x is not None else None
            )

        core = _nfc(core)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(core, r"\r\n?", "\n"),
                "[\\x00-\\x08\\x0B-\\x1F\\x7F]",
                "",
            ),
            r"[ \t]+",
            " ",
        )
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    return spread_for_compute(docs).select(
        id_col,
        norm.alias("norm_text"),
        (norm != F.col(text_col)).alias("changed"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document's token stream into overlapping chunks — the
    prep step for embedding models and retrieval context windows (chunk
    i covers tokens [i·stride, i·stride + max_tokens), stride =
    max_tokens − overlap). Output: (doc_id, chunk_idx, n_tokens,
    chunk_text); empty documents produce no rows.

    The chunk count per document is ceil((n − overlap) / stride) (min 1
    for any non-empty doc) — every token is covered and consecutive
    chunks share `overlap` tokens. All of it is one let-bound token
    array + a posexplode over a bounded per-row sequence: map-only, no
    shuffle, and the explode fan-out is n/stride rows per doc (the
    output size a chunking step inherently produces — there is no
    amplification beyond the overlap fraction)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    if max_tokens < 1 or overlap < 0 or overlap >= max_tokens:
        raise ValueError(
            "chunk_documents: need max_tokens >= 1 and 0 <= overlap < max_tokens"
        )
    stride = max_tokens - overlap

    def _chunks(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.greatest(
                F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
            )
        )
        return F.when(
            n_chunks > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_idx"),
                    F.least(n - i * stride, F.lit(max_tokens)).alias("n_tokens"),
                    F.concat_ws(
                        " ", F.slice(toks, i * stride + 1, max_tokens)
                    ).alias("chunk_text"),
                ),
            ),
        ).otherwise(
            F.array().cast(
                "array<struct<chunk_idx:int,n_tokens:int,chunk_text:string>>"
            )
        )

    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    toks_expr = tokens_nonempty(F.col(text_col))
    return spread_for_compute(docs).select(
        id_col, F.explode(let(toks_expr, _chunks)).alias("c")
    ).select(id_col, "c.chunk_idx", "c.n_tokens", "c.chunk_text")
