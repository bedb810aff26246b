"""HTML extraction, PII scrubbing, and Gopher-style quality gates
(operators/html.py, operators/text.py:gopher_quality) — edge semantics the
driver's corpus-level oracle rows don't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_html_to_text_edges(spark):
    from commoncrawl_fetcher_lite_spark.operators.html import extract_text

    docs = spark.createDataFrame(
        [
            # head (incl. title/style) stripped wholesale; entity decode
            # AFTER tag strip so &lt;p&gt; stays literal text
            (
                1,
                "<html><head><title>T</title><style>p{}</style></head>"
                "<body>&lt;p&gt; is a tag &amp;&nbsp;so on</body></html>",
            ),
            # script body containing '<' must not desync the tag stripper
            (2, "<body>a<script>if (x<y) { f('<div>'); }</script>b</body>"),
            # comments spanning lines; tags become spaces (words split)
            (3, "x<!-- multi\nline -->y</p><p>z"),
            (4, "plain text, no markup"),
            (5, ""),
            # &amp;lt; decodes to &lt; not < (amp decoded last)
            (6, "<p>&amp;lt;tag&amp;gt;</p>"),
        ],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: r for r in extract_text(docs).collect()}
    assert got[1]["body_text"] == "<p> is a tag & so on"
    assert got[1]["title"] == "T"
    assert got[2]["body_text"] == "a b"
    assert got[3]["body_text"] == "x y z"
    assert got[4]["body_text"] == "plain text, no markup"
    assert got[5]["body_text"] == "" and got[5]["n_chars_clean"] == 0
    assert got[6]["body_text"] == "&lt;tag&gt;"


def test_scrub_pii_boundaries(spark):
    from commoncrawl_fetcher_lite_spark.operators.html import scrub_documents

    docs = spark.createDataFrame(
        [
            (1, "a.b+tag@ex-ample.co.uk wrote"),
            (2, "at 192.168.0.1 and 8.8.8.8."),
            (3, "call +44 20 7946 0958 or 415-555-123456"),
            # NOT phones: short digit runs, years, versions, alnum ids
            (4, "v1.2.3 in 2026, order 1234, id a123456789012b"),
            # NOT an ip: 4 octets inside a longer dotted run stay; version
            # strings with <4 groups untouched
            (5, "pi is 3.14159 and e is 2.71828"),
            (6, "mail admin@localhost stays (no TLD)"),
            # a literal placeholder already in the SOURCE text is not a
            # redaction (r5 polish: count matches, not placeholders)
            (7, "says [EMAIL] verbatim, plus real a@b.io"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_documents(docs).collect()}
    assert got[7]["text"] == "says [EMAIL] verbatim, plus real [EMAIL]"
    assert got[7]["n_redactions"] == 1
    assert got[1]["text"] == "[EMAIL] wrote" and got[1]["n_redactions"] == 1
    assert got[2]["text"] == "at [IP] and [IP]." and got[2]["n_redactions"] == 2
    assert got[3]["text"] == "call [PHONE] or [PHONE]"
    assert got[4]["text"] == "v1.2.3 in 2026, order 1234, id a123456789012b"
    assert got[4]["n_redactions"] == 0
    assert got[5]["text"] == "pi is 3.14159 and e is 2.71828"
    assert got[6]["text"] == "mail admin@localhost stays (no TLD)"


_GOPHER_FRACS = ("mean_word_len", "distinct_frac", "top2gram_frac", "alpha_word_frac")


def test_gopher_quality_semantics(spark):
    from commoncrawl_fetcher_lite_spark.operators.text import gopher_quality

    passing = " ".join(f"word{i}al" for i in range(60))  # 60 distinct words
    docs = spark.createDataFrame(
        [
            (1, passing),
            (2, "the cat " * 40),  # modal bigram dominates
            (3, ""),  # empty -> all-zero features, fail
            (4, "12 34 " * 40),  # no alphabetic words
            (5, "tiny doc"),  # under min_words
            # NULL text: n_words NULL (SQL size), fractions 0.0, fail
            (6, None),
            (7, " \t\n\x0b\f\r "),  # only separators: no words
            (8, "a\tbb\nccc\x0bd\fe\rf"),  # each Java \s separates
            # \xa0, \u2003 and \x1c are not Java \s: they stay in a token
            (9, "a\xa0b c\u2003d e\x1cf"),
            # alpha means [A-Za-z]: non-ASCII-only letters do not count
            (10, "日本 ñé ça 12"),
            (11, "solo"),  # one word: no bigram, top2gram_frac 0.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert got[6]["n_words"] is None and got[6]["gopher_pass"] is False
    assert [got[6][c] for c in _GOPHER_FRACS] == [0.0] * 4
    assert got[7]["n_words"] == 0 and got[7]["gopher_pass"] is False
    assert [got[7][c] for c in _GOPHER_FRACS] == [0.0] * 4
    assert got[8]["n_words"] == 6 and got[8]["mean_word_len"] == 9 / 6
    assert got[8]["top2gram_frac"] == 1 / 5
    assert got[9]["n_words"] == 3 and got[9]["mean_word_len"] == 3.0
    assert got[9]["distinct_frac"] == 1.0 and got[9]["alpha_word_frac"] == 1.0
    assert got[10]["n_words"] == 4 and got[10]["alpha_word_frac"] == 1 / 4
    assert got[10]["mean_word_len"] == 2.0
    assert got[11]["n_words"] == 1 and got[11]["top2gram_frac"] == 0.0
    assert got[11]["distinct_frac"] == 1.0 and got[11]["mean_word_len"] == 4.0
    assert got[1]["gopher_pass"] is True
    assert got[1]["n_words"] == 60 and got[1]["distinct_frac"] == 1.0
    assert got[2]["gopher_pass"] is False
    # 'the cat'*40: bigrams 'the cat' x40 + 'cat the' x39 over n-1=79
    assert abs(got[2]["top2gram_frac"] - 40 / 79) < 1e-9
    assert got[3]["n_words"] == 0 and got[3]["gopher_pass"] is False
    assert got[4]["alpha_word_frac"] == 0.0 and got[4]["gopher_pass"] is False
    assert got[5]["gopher_pass"] is False


def test_html_jvm_side_and_gopher_one_arrow_stage(spark):
    """The extraction/scrub scan path must stay whole-stage codegen: no
    Python eval nodes, no shuffles — map-only over a 100 TB scan. The
    Gopher gates run as one Arrow-batched kernel stage each, still with
    no shuffle (gopher_quality as a frame, gopher_gate as a predicate)."""
    from commoncrawl_fetcher_lite_spark.operators.html import (
        extract_text,
        scrub_documents,
    )
    from commoncrawl_fetcher_lite_spark.operators.text import (
        gopher_gate,
        gopher_quality,
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [(1, "<p>x</p>"), (2, "<p>y z</p>")], "doc_id long, html string"
    ).withColumn("text", F.col("html"))
    def plan(out):
        return out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )

    for out in (extract_text(docs), scrub_documents(docs)):
        p = plan(out)
        assert "Exchange" not in p, p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    for out in (
        gopher_quality(docs),
        repetition_signals(docs),
        docs.where(gopher_gate()),
    ):
        p = plan(out)
        assert "Exchange" not in p, p
        assert "BatchEvalPython" not in p
        # one Arrow node (named in the plan overview and in the node
        # details) evaluating one kernel call
        assert p.count("ArrowEvalPython") == 2, p
        assert "pythonUDF0" in p and "pythonUDF1" not in p, p


def test_extract_links_resolution(spark):
    from commoncrawl_fetcher_lite_spark.operators.html import extract_links

    docs = spark.createDataFrame(
        [
            (
                1,
                "https://a.example.com/dir/p",
                '<a href="https://b.example.org/x">1</a>'
                '<a href="/root/y">2</a>'
                "<a href='//cdn.example.net/z'>3</a>"
                '<a href="mailto:x@y.example">4</a>'
                '<a href="rel/page.html">5</a>'
                '<a href="#frag">6</a>'
                '<a href="javascript:void(0)">7</a>'
                '<a href="/root/y">dup</a>',
            ),
            (2, "http://h.example.com/", '<a href="//s.example.com/q">p</a>'),
            (3, "https://e.example.com/", "no links here"),
        ],
        "doc_id long, url string, html string",
    )
    got = sorted(
        (r["doc_id"], r["url"]) for r in extract_links(docs).collect()
    )
    assert got == sorted(
        [
            (1, "https://b.example.org/x"),
            (1, "https://cdn.example.net/z"),
            (1, "https://a.example.com/root/y"),
            # protocol-relative inherits the page's actual scheme (http)
            (2, "http://s.example.com/q"),
        ]
    )


def test_extract_links_fragments_and_schemeless_base(spark):
    from commoncrawl_fetcher_lite_spark.operators.html import extract_links

    docs = spark.createDataFrame(
        [
            # fragment stripped, URL kept (a '#' must not reject the link)
            (
                1,
                "https://a.example.com/p",
                '<a href="https://b.example.org/page#section">1</a>'
                '<a href="/y#top">2</a>'
                '<a href="#only-fragment">3</a>',
            ),
            # base without an http(s) scheme: no origin to resolve
            # against — relative forms DROP instead of emitting '://…'
            (
                2,
                "example.com/page",
                '<a href="//cdn.example.net/x">1</a>'
                '<a href="/abs">2</a>'
                '<a href="https://ok.example.org/k">3</a>',
            ),
        ],
        "doc_id long, url string, html string",
    )
    got = sorted((r["doc_id"], r["url"]) for r in extract_links(docs).collect())
    assert got == sorted(
        [
            (1, "https://b.example.org/page"),
            (1, "https://a.example.com/y"),
            (2, "https://ok.example.org/k"),
        ]
    )


def test_link_discovery_feeds_frontier(spark, tmp_path):
    """run_iteration with a fetch_fn emitting a `links` column: the
    discovered outlinks must join the frontier and be schedulable in the
    next iteration, while already-fetched URLs leave it; a URL that is
    both a redirect target and a link keeps the redirect priority."""
    from pyspark.sql import functions as F

    from commoncrawl_fetcher_lite_spark.config import FrontierConfig
    from commoncrawl_fetcher_lite_spark.frontier import scheduler
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

    seeds = spark.createDataFrame(
        [("https://a.example.com/1", "a.example.com", 1.0, None, 0.0)],
        "url string, host string, priority double, "
        "discovered_ts timestamp, recrawl_score double",
    )
    store = SnapshotStore(str(tmp_path / "snap"), spark)
    scheduler.bootstrap(store, seeds)

    def fetch(batch):
        return batch.select(
            "url",
            F.lit("https://a.example.com/moved").alias("redirect"),
            F.array(
                F.lit("https://a.example.com/link1"),
                F.lit("https://b.example.com/link2"),
                F.lit("https://a.example.com/moved"),  # also the redirect
            ).alias("links"),
        )

    cfg = FrontierConfig(default_burst=10, default_max_per_batch=10)
    scheduler.run_iteration(store, cfg, batch_seconds=1.0, fetch_fn=fetch)
    frontier = {
        r["url"]: r["priority"] for r in store.read("frontier").collect()
    }
    assert "https://a.example.com/1" not in frontier  # fetched -> left
    assert frontier["https://a.example.com/link1"] == 0.4
    assert frontier["https://b.example.com/link2"] == 0.4
    assert frontier["https://a.example.com/moved"] == 0.5  # redirect wins

    # next iteration schedules the discovered urls (no fetch this time)
    res = scheduler.run_iteration(store, cfg, batch_seconds=1.0)
    assert res.n_scheduled == 3


def test_boilerplate_blocks_verdicts(spark):
    """jusText-lite semantics on a crafted page: nav blocks flagged by
    link density, prose by stopword density, keyword soup 'low_stop',
    stubs 'short'; block_no preserves document order."""
    from commoncrawl_fetcher_lite_spark.operators.html import (
        boilerplate_blocks,
    )

    html = (
        '<html><body><div class="nav"><a href="/">Home</a> '
        '<a href="/x">About the whole site</a></div>'
        "<p>The quick brown fox and the lazy dog ran off to the hills "
        "of the north.</p>"
        "<h2>Menu</h2>"
        "<p>alpha beta gamma delta epsilon zeta eta theta</p>"
        '<div><a href="/a">one</a><a href="/b">two</a>'
        '<a href="/c">three links here</a></div></body></html>'
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = {
        r["block_no"]: r for r in boilerplate_blocks(df).collect()
    }
    nonempty = {
        k: v for k, v in rows.items() if v["n_words"] > 0
    }
    verdicts = [nonempty[k]["verdict"] for k in sorted(nonempty)]
    assert verdicts == ["nav", "good", "short", "low_stop", "nav"]
    nav = nonempty[min(nonempty)]
    assert nav["link_density"] > 0.9  # whole block is anchor text
    good = [v for v in nonempty.values() if v["verdict"] == "good"][0]
    assert good["stop_density"] >= 0.25 and good["link_density"] == 0.0


def test_boilerplate_blocks_map_only(spark):
    """The block classifier is scan-side: zero Exchange in its plan."""
    from commoncrawl_fetcher_lite_spark.operators.html import (
        boilerplate_blocks,
    )

    df = spark.createDataFrame(
        [(1, "<p>a</p>")], "doc_id long, html string"
    )
    out = boilerplate_blocks(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert ") Exchange" not in plan
