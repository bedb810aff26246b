"""Unit tests: scalar functions vs reference golden vectors + oracle twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.functions.paths import (
    rewrite_target_path,
    rewrite_target_path_py,
)
from commoncrawl_fetcher_lite_spark.functions.sampling import sample_gate
from commoncrawl_fetcher_lite_spark.functions.urls import (
    clean_string,
    commons_extension,
    host_of,
    normalize_mime,
    tld_of,
    url_extension,
)
from tests import oracle

# Golden cases lifted from TargetPathRewriterTest.java:26-43
GOLDEN_PATHS = [
    ("xx/xx", "abcdefgh", "ab/abcdefgh"),
    ("xx/xx/xx", "abcdefgh", "ab/cd/abcdefgh"),
    ("xx/xx/x/xx", "abcdefgh", "ab/cd/e/abcdefgh"),
    ("xx/xx//xx", "abcdefgh", "ab/cd//abcdefgh"),
]


def test_target_path_rewriter_golden(spark):
    for pattern, digest, want in GOLDEN_PATHS:
        assert rewrite_target_path_py(digest, pattern) == want
        got = (
            spark.range(1)
            .select(rewrite_target_path(F.lit(digest), pattern).alias("p"))
            .collect()[0]["p"]
        )
        assert got == want, (pattern, got, want)


def test_normalize_mime(spark):
    cases = [
        ('"Text/HTML"', "text/html"),
        ("  application/pdf \t", "application/pdf"),
        ("a  b\t c", "a b c"),
        (None, None),
        ('"x"y"', 'x"y'),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "v string")
    got = [r["n"] for r in df.select(normalize_mime("v").alias("n")).collect()]
    for (inp, want), g in zip(cases, got):
        assert g == want == oracle.normalize_mime(inp), (inp, g, want)


def test_clean_string(spark):
    df = spark.createDataFrame(
        [(" a\nb\t",), (None,), ("x",)], "v string"
    )
    got = [r["c"] for r in df.select(clean_string("v").alias("c")).collect()]
    # reference: trim first, then [\r\n\t] -> ' '
    assert got == ["a b", "", "x"]


def test_host_and_tld(spark):
    cases = [
        ("https://www.example.com/p/1", "www.example.com", "com"),
        ("http://host007.example.org:8080/x", "host007.example.org", "org"),
        ("notaurl", "", ""),
        ("https://127.0.0.1/x", "127.0.0.1", ""),  # all-digit tld -> ''
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    rows = df.select(
        host_of("url").alias("h"), tld_of("url").alias("t")
    ).collect()
    for (u, wh, wt), r in zip(cases, rows):
        assert r["h"] == wh, (u, r["h"])
        assert r["t"] == wt, (u, r["t"])
        assert oracle.host_of(u) == wh


def test_url_extension(spark):
    cases = [
        ("http://a/b/file.pdf", "pdf"),
        ("http://a/b/file.toolong6", None),  # >5 chars
        ("http://a/b/file.123", None),  # all digits
        ("http://a/b/file", None),  # no dot
        ("http://a/b/file.PDF/", "pdf"),  # trailing slash stripped
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    rows = df.select(url_extension("u").alias("e")).collect()
    for (u, want), r in zip(cases, rows):
        assert r["e"] == want, (u, r["e"], want)


def test_commons_extension(spark):
    cases = [
        ("http://a/b/file.exe", "exe"),
        ("http://a/b.dir/file", ""),
        ("file.BAT", "BAT"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    rows = df.select(commons_extension("u").alias("e")).collect()
    for (u, want), r in zip(cases, rows):
        assert r["e"] == want, (u, r["e"], want)
        assert oracle.commons_extension(u) == want


def test_xxhash64_oracle_matches_spark(spark):
    """The oracle's pure-python xxh64 port must equal Spark's xxhash64 for
    the string,string,int chaining used by the sampling gate."""
    vals = ["", "a", "hello world", "x" * 100, "host007.example.com/p/1"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    rows = df.select(
        F.xxhash64("v").alias("h1"),
        F.xxhash64("v", F.lit("clause.0"), F.lit(42).cast("long")).alias("h2"),
    ).collect()
    for v, r in zip(vals, rows):
        assert oracle.xxhash64_spark([v]) == r["h1"], v
        assert oracle.xxhash64_spark([v, "clause.0", 42]) == r["h2"], v


def test_sample_gate_deterministic_and_uniform(spark):
    df = spark.range(10_000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url")
    )
    gate = sample_gate("url", 0.3, "should.mime.0", 42)
    n1 = df.where(gate).count()
    n2 = df.where(gate).count()
    assert n1 == n2  # deterministic
    assert abs(n1 / 10_000 - 0.3) < 0.03  # uniform-ish


def test_sample_gate_py_matches_spark_gate(spark):
    """functions.sampling.sample_gate_py must agree bit-for-bit with the
    Spark Column gate (it hashes seed as a third LANE, not as initial
    seed — a silent historical divergence this pins down)."""
    from commoncrawl_fetcher_lite_spark.functions.sampling import (
        sample_gate,
        sample_gate_py,
    )

    vals = [f"https://h{i}.example.com/p/{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "url string")
    got = {
        r["url"]: r["g"]
        for r in df.select(
            "url", sample_gate("url", 0.37, "c1", seed=7).alias("g")
        ).collect()
    }
    for v in vals:
        assert got[v] == sample_gate_py(v, 0.37, "c1", seed=7), v


def test_progress_ticker_crossings(caplog):
    """A5: one log line per 100k crossing, even when a batch jumps several
    boundaries; no line before the first crossing."""
    import logging

    from commoncrawl_fetcher_lite_spark.functions.progress import (
        ProgressTicker,
        logger,
    )

    t = ProgressTicker("x", every=100)
    with caplog.at_level(logging.INFO, logger=logger.name):
        t.add(99)
        assert not caplog.records
        t.add(1)  # crosses 100
        t.add(250)  # crosses 200 and 300
        t.add(0)
    msgs = [r.getMessage() for r in caplog.records]
    assert msgs == [
        "x: processed 100 records",
        "x: processed 200 records",
        "x: processed 300 records",
    ]


# Public functions whose only callers are tests, each kept on purpose.
TEST_ONLY_ALLOWED = {
    "brute_force_topk": "exact reference the ANN tests compare against",
    "sample_gate_py": "pure-Python twin of sample_gate the oracle compares against",
    "warc_local_path": "fixture helper: maps a WARC filename to its local file",
    "filter_unseen_bucketed_exact": "collision-exact bucketed seen path, "
    "kept until the crawl loop's seen-set path is chosen by measurement",
    "export_csv_logs": "the reference's CSV log-stream format; "
    "not yet wired into the CLI",
}


def test_every_public_function_has_a_non_test_caller():
    """Every top-level public def/class of the package is used (a Name,
    Attribute or import) by code a query, a benchmark, a workload or the
    CLI runs — not only by tests — or is listed above with its reason."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def files(pattern):
        return sorted(glob.glob(os.path.join(root, pattern), recursive=True))

    package = files("commoncrawl_fetcher_lite_spark/**/*.py")
    callers = package + files("perfbench/*.py") + [
        os.path.join(root, f)
        for f in (
            "__spark_entry__.py",
            "bench.py",
            "bench_extra.py",
            "scaling_bench.py",
            "incremental_bench.py",
            "submit_job.py",
        )
    ]

    def parse(path):
        with open(path, encoding="utf-8") as f:
            return ast.parse(f.read(), path)

    defined = {
        node.name: os.path.relpath(path, root)
        for path in package
        for node in parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    }
    used = set()
    for path in callers:
        for node in ast.walk(parse(path)):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    unused = sorted(
        f"{path}:{name}"
        for name, path in defined.items()
        if name not in used and name not in TEST_ONLY_ALLOWED
    )
    assert not unused, unused
    stale = sorted(n for n in TEST_ONLY_ALLOWED if n not in defined or n in used)
    assert not stale, stale
