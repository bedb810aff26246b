"""Property-based tests (hypothesis): selector compiler ≡ oracle on random
records × random selector trees; path rewriter round-trip properties."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from commoncrawl_fetcher_lite_spark.functions.paths import rewrite_target_path_py
from commoncrawl_fetcher_lite_spark.operators.selector import apply_selector
from tests import oracle

MIMES = ["text/html", "application/pdf", "video/mp4", None]
STATUSES = ["200", "404", "302", None]

record_st = st.fixed_dictionaries(
    {
        "url": st.one_of(
            st.just("https://a.com/x.pdf"),
            st.just("https://b.org/y.exe"),
            st.just("http://c.net/z"),
            st.text(
                alphabet="abc/.:", min_size=1, max_size=20
            ).map(lambda s: f"https://h.com/{s}"),
        ),
        "mime": st.sampled_from(MIMES),
        "mime-detected": st.sampled_from(MIMES),
        "status": st.sampled_from(STATUSES),
        "digest": st.sampled_from(["D1", "D2", None]),
        "truncated": st.sampled_from([None, "length", "time"]),
    }
)

clause_st = st.one_of(
    st.fixed_dictionaries(
        {"match": st.sampled_from(["text/html", "200", "D1", "video/mp4"])},
        optional={"case_sensitive": st.booleans()},
    ),
    st.fixed_dictionaries(
        {"pattern": st.sampled_from(["pdf", "^https", "a\\.com", "e$"])},
        optional={"sample": st.sampled_from([0.3, 0.7])},
    ),
    st.fixed_dictionaries(
        {"extensions": st.sampled_from(["pdf,exe", "html", "EXE"])},
        optional={"sample": st.sampled_from([0.5])},
    ),
)

field_st = st.sampled_from(["mime_detected", "mime", "status", "url", "digest", "truncated"])
bucket_st = st.dictionaries(field_st, st.lists(clause_st, min_size=1, max_size=2), max_size=2)
selector_st = st.fixed_dictionaries(
    {}, optional={"must": bucket_st, "must_not": bucket_st, "should": bucket_st}
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(records=st.lists(record_st, min_size=1, max_size=8), selector=selector_st)
def test_selector_matches_oracle(spark, records, selector):
    rows = [
        (
            i,
            r["url"],
            r["mime"],
            r["mime-detected"],
            int(r["status"]) if r["status"] else None,
            r["digest"],
            r["truncated"],
        )
        for i, r in enumerate(records)
    ]
    df = spark.createDataFrame(
        rows,
        "rid int, url string, mime string, mime_detected string, "
        "status int, digest string, truncated string",
    )
    got = {r["rid"] for r in apply_selector(df, selector, seed=42).select("rid").collect()}
    want = set()
    for i, r in enumerate(records):
        rec = dict(r)
        rec.setdefault("length", None)
        rec.setdefault("offset", None)
        rec.setdefault("filename", None)
        rec.setdefault("charset", None)
        rec.setdefault("languages", None)
        rec.setdefault("redirect", None)
        if oracle.select(rec, selector, seed=42):
            want.add(i)
    assert got == want, (selector, records)


@settings(max_examples=200, deadline=None)
@given(
    digest=st.text(alphabet="0123456789abcdef", min_size=8, max_size=64),
    seg_lens=st.lists(st.integers(min_value=0, max_value=4), min_size=0, max_size=4),
)
def test_path_rewriter_properties(digest, seg_lens):
    # build a pattern like 'xx/xxx/x/…/xx' from segment lengths (no
    # leading/trailing slash; empty segments allowed mid-pattern)
    pattern = "/".join("x" * n for n in seg_lens) + ("/xx" if seg_lens else "xx")
    if pattern.startswith("/"):
        pattern = "x" + pattern
    out = rewrite_target_path_py(digest, pattern)
    # 1. always ends with the FULL original digest
    assert out.endswith(digest)
    # 2. slash count equals pattern's slash count
    assert out.count("/") == pattern.count("/")
    # 3. removing slashes reproduces prefix+digest (segments are prefixes)
    assert out.replace("/", "").endswith(digest)
    # 4. oracle twin agrees
    assert oracle._rewrite(digest, pattern) == out


# ---------------------------------------------------------------- robots
# Spark fused longest-match fold (politeness.apply_robots over
# robots_frame's precompiled plain/wild rule arrays) vs an independent
# pure-Python RFC 9309 matcher on RANDOM wildcard rules and paths.

_pat_st = st.text(alphabet="ab/*.$", min_size=1, max_size=8).map(
    lambda s: "/" + s
)
_path_st = st.text(alphabet="ab/.$", min_size=0, max_size=10).map(
    lambda s: "/" + s
)


def _rfc_blocked(rules: list[tuple[str, bool]], path: str) -> bool:
    """Independent longest-match evaluator: among matching rules the most
    raw-pattern octets win, ties go to Allow; no match → allowed.
    `*` = any sequence, TRAILING `$` = end anchor (mid `$` literal)."""
    import re

    def matches(pat: str) -> bool:
        anchored = pat.endswith("$")
        body = pat[:-1] if anchored else pat
        rx = "^" + "".join(".*" if c == "*" else re.escape(c) for c in body)
        if anchored:
            rx += "$"
        return re.search(rx, path) is not None

    best = (0, True)  # (octets, allow)
    for pat, allow in rules:
        if matches(pat):
            key = (len(pat.encode()), allow)
            if key > best:
                best = key
    return best[0] > 0 and not best[1]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    rules=st.lists(
        st.tuples(_pat_st, st.booleans()), min_size=0, max_size=6
    ),
    paths=st.lists(_path_st, min_size=1, max_size=8, unique=True),
)
def test_robots_wildcard_fold_matches_rfc_reference(spark, rules, paths):
    from pyspark.sql import functions as F

    from commoncrawl_fetcher_lite_spark.frontier.politeness import apply_robots
    from commoncrawl_fetcher_lite_spark.frontier.robots import robots_frame

    body = "User-agent: *\n" + "\n".join(
        ("Allow: " if allow else "Disallow: ") + pat for pat, allow in rules
    )
    robots = robots_frame(
        spark.createDataFrame(
            [("h.example.com", body)], "host string, robots_txt string"
        )
    )
    cands = spark.createDataFrame(
        [("https://h.example.com" + p, "h.example.com") for p in paths],
        "url string, host string",
    )
    kept = {
        r["url"].removeprefix("https://h.example.com")
        for r in apply_robots(cands, robots, broadcast=True).collect()
    }
    expected = {p for p in paths if not _rfc_blocked(rules, p)}
    assert kept == expected, (
        f"rules={rules} divergent paths: "
        f"spark-only={kept - expected} ref-only={expected - kept}"
    )


# ------------------------------------------------ corpus-prep properties


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.integers(min_value=0, max_value=300),
    max_tokens=st.integers(min_value=2, max_value=64),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunk_documents_invariants(spark, n_tokens, max_tokens, overlap_frac):
    """For ANY (doc length, window, overlap): chunks cover every token in
    order, consecutive full chunks share exactly `overlap` tokens, and no
    chunk exceeds max_tokens."""
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    overlap = min(int(max_tokens * overlap_frac), max_tokens - 1)
    text = " ".join(f"t{i}" for i in range(n_tokens))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        (r.chunk_idx, r.chunk_text.split(" ") if r.chunk_text else [])
        for r in chunk_documents(docs, max_tokens=max_tokens, overlap=overlap).collect()
    )
    if n_tokens == 0:
        assert rows == []
        return
    stride = max_tokens - overlap
    assert [i for i, _ in rows] == list(range(len(rows)))
    seen = []
    for i, toks in rows:
        assert 1 <= len(toks) <= max_tokens
        assert toks[0] == f"t{i * stride}"
        seen.extend(toks[overlap:] if i > 0 else toks)
    # ordered concatenation minus overlaps == the full token stream
    assert seen == [f"t{i}" for i in range(n_tokens)]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rate=st.floats(min_value=0.0, max_value=3.0),
    n=st.integers(min_value=1, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_mix_corpus_copy_count_bounds(spark, rate, n, seed):
    """Every doc emits floor(rate) or ceil(rate) copies; the total lands
    within a binomial-tail band around n·rate."""
    import math

    from pyspark.sql import functions as F

    from commoncrawl_fetcher_lite_spark.operators.mixing import mix_corpus

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("lang")
    )
    out = mix_corpus(docs, {"x": rate}, seed=seed)
    per_doc = {
        r.doc_id: r.c
        for r in out.groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    }
    lo, hi = math.floor(rate), math.ceil(rate)
    assert all(c in (lo, hi) or (rate == lo and c == lo) for c in per_doc.values())
    total = sum(per_doc.values())
    # 6-sigma binomial band on the fractional coin
    frac = rate - lo
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(total - n * rate) <= 6 * sigma + 1e-9


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab \t\n.?!")), max_size=40
        ),
        min_size=1,
        max_size=8,
    )
)
def test_tokens_nonempty_equals_filtered_tokens(spark, texts):
    """tokens_nonempty (blank-guard, one array alloc) must equal
    filter(tokens(t), x != '') (two allocs) on every input, including
    blank/whitespace-only strings — the equivalence the r6 allocation
    diet rests on."""
    from pyspark.sql import functions as F

    from commoncrawl_fetcher_lite_spark.operators.text import (
        tokens,
        tokens_nonempty,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        tokens_nonempty("text").alias("fast"),
        F.filter(tokens("text"), lambda x: x != F.lit("")).alias("ref"),
    ).collect()
    for r in rows:
        assert r.fast == r.ref


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("ab é \t\n\x0b\f\r\x1c\x85\xa0\u2003")
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_gopher_kernel_tokens_equal_tokens_nonempty(spark, texts):
    """The Gopher kernels' Python tokenizer splits exactly where
    tokens_nonempty does: on Java's \\s only, so whitespace that Python's
    str.split() also splits on (\\x1c, \\x85, \\xa0, \\u2003) stays in a
    token, and no empty token survives."""
    from commoncrawl_fetcher_lite_spark.operators.text import (
        _split_tokens,
        tokens_nonempty,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.toks for r in df.select(tokens_nonempty("text").alias("toks")).collect()]
    assert got == [_split_tokens(t) for t in texts]
