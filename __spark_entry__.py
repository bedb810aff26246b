"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one engine operator from SURVEY.md §2 on
the driver's testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL. Crawl-specific parity (CDX parse, WARC extraction, span
sequences, budgets-on-streams) is covered by `python -m pytest -x -q`
against the pure-Python oracle in tests/oracle.py — these entries cover the
relational surface on the shared tables.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"

STOPWORDS = ["the", "a", "and", "of", "to"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# a cdx-shaped view derived deterministically from `events`, so selector /
# budget / report operators run through the REAL engine code paths
# --------------------------------------------------------------------------


def _cdx_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("event_type").alias("mime"),
        F.col("event_type").alias("mime_detected"),
        F.when(F.col("event_id") % 10 < 8, 200).otherwise(404).alias("status"),
        F.when(F.col("value") > 15.0, "length").alias("truncated"),
        F.sha2(F.col("event_id").cast("string"), 256).alias("digest"),
    )


_CDX_VIEW_SQL = """
    SELECT event_id,
           'https://host' || CAST(user_id % 20 AS VARCHAR)
               || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
           event_type AS mime,
           event_type AS mime_detected,
           CASE WHEN event_id % 10 < 8 THEN 200 ELSE 404 END AS status,
           CASE WHEN value > 15.0 THEN 'length' END AS truncated
    FROM events
"""


# ----------------------------------------------------------------- queries


def q_mime_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountMimes (A1-A3, CCMimeCounter.java:143-185) over the cdx view."""
    from commoncrawl_fetcher_lite_spark.operators.mimes import count_mimes

    return count_mimes(_cdx_view(spark, sf_dir)).select(
        "mime", "total", "truncated", "non_truncated"
    )


def q_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector compiler (F1-F9) — must + must_not + should buckets."""
    from commoncrawl_fetcher_lite_spark.operators.selector import apply_selector

    sel = {
        "must": {"status": [{"match": "200"}]},
        "must_not": {"url": [{"pattern": "/e/13"}]},
        "should": {
            "mime_detected": [{"match": "click"}, {"match": "view"}],
        },
    }
    return apply_selector(_cdx_view(spark, sf_dir), sel).select("event_id", "url")


def q_selector_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """must_not on a mostly-null field: null value → clause skipped
    (RecordSelector.java:44-47)."""
    from commoncrawl_fetcher_lite_spark.operators.selector import apply_selector

    sel = {"must_not": {"truncated": [{"match": "length"}]}}
    return apply_selector(_cdx_view(spark, sf_dir), sel).select("event_id")


def q_budget_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxRecords semantics (L1): deterministic prefix in canonical order;
    the record hitting the limit is NOT processed (strictly-less).

    Runs the ENGINE's shuffle-free path (operators/budgets.apply_budgets:
    per-file offsets cumsum'd driver-side, no global sort) over the events
    table dressed as 10 dense index files — the oracle's row_number()<1234
    is equivalent because event_ids are dense, but the Spark plan here is
    the O(1)-shuffle one a 100 TB run would use, not a single-task window."""
    from commoncrawl_fetcher_lite_spark.operators.budgets import apply_budgets

    max_records = 1234
    recs = _cdx_view(spark, sf_dir).withColumns(
        {
            "index_file_seq": (F.col("event_id") / 1000).cast("int"),
            "line_no": (F.col("event_id") % 1000).cast("long"),
        }
    )
    return apply_budgets(
        recs, selected=F.lit(True), max_records=max_records
    ).select("event_id", "url")


def q_top_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report sort (L5, CCMimeCounter.java:173-182)."""
    return (
        _cdx_view(spark, sf_dir)
        .groupBy("mime")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("mime"))
    )


def q_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness quota window (§2.7): top-5 per host by priority."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= 5)
        .select("user_id", "event_id", "host_rank")
    )


def q_urlseen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-seen dedup as anti-join (§2.6): customers never seen in orders.

    The seen set is restricted to a custkey subrange (% 4 != 1) so the
    row is non-vacuous at sf0.01 (ADVICE r4: every customer has an order
    in this synthetic data, so the unrestricted anti-join hash-matched on
    zero rows and couldn't catch a wrongly-dropping join)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    seen = (
        orders.select(F.col("o_custkey").alias("c_custkey"))
        .where(F.col("c_custkey") % 4 != 1)
        .distinct()
    )
    return cust.join(seen, "c_custkey", "left_anti").select("c_custkey", "c_name")


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl flagship as a hash-checked CORRECTNESS row: URL-seen
    anti-join (filter_unseen's (url_hash, url) exact key ≡ url membership,
    since the hash is a function of the url) → effective priority → salted
    two-level per-host top-k (provably equal to the plain quota window —
    the equivalence the salting tests pin). Seeds derive deterministically
    from the events table; every 7th event is 'already seen'."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import schedule_batch
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import (
        filter_unseen,
        with_url_hash,
    )

    ev = _t(spark, sf_dir, "events")
    seeds = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.col("value").alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
        "event_id",
    )
    seen = with_url_hash(seeds.where(F.col("event_id") % 7 == 0).select("url"))
    unseen = filter_unseen(seeds, seen)
    quotas = spark.createDataFrame([], "host string, quota int")
    out = schedule_batch(unseen, quotas, default_quota=20, n_salt=4, broadcast=True)
    return out.select(
        "url",
        "host",
        "host_rank",
        F.round("effective_priority", 6).alias("effective_priority"),
    )


def q_frontier_schedule_diet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME flagship through the shuffle-byte diet (frontier/diet.py:
    24 B skinny frame through the anti-join and both windows, late payload
    join) — sharing the exact path's SQL oracle. Valid because priorities
    are made deterministically DISTINCT (value + event_id·1e-9, event_id
    unique; identical IEEE double arithmetic in both engines), so the
    diet's (prio, url_hash) tie-break is never consulted and its output
    provably equals the (prio, url) canonical order."""
    from commoncrawl_fetcher_lite_spark.frontier.diet import (
        schedule_frontier_compact,
    )
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import with_url_hash

    ev = _t(spark, sf_dir, "events")
    seeds = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        (F.col("value") + F.col("event_id") * F.lit(1e-9)).alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
        "event_id",
    )
    seen = with_url_hash(seeds.where(F.col("event_id") % 7 == 0).select("url"))
    out = schedule_frontier_compact(
        seeds, seen, default_quota=20, n_salt=4, broadcast=True
    )
    return out.select(
        "url",
        "host",
        "host_rank",
        F.round("effective_priority", 6).alias("effective_priority"),
    )


def q_urlseen_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The urlseen anti-join through a BUCKETED seen table
    (frontier/bucketed.py): one-time bucketBy(n, key) write, then every
    steady-state anti-join shuffles only the candidate side — at the
    10^10-row seen target this removes the loop's dominant recurring
    shuffle (plan-audited). Same semantics as urlseen_antijoin, so the
    oracle is the identical NOT EXISTS."""
    import tempfile

    from commoncrawl_fetcher_lite_spark.frontier.bucketed import (
        filter_unseen_bucketed,
        write_seen_bucketed,
    )

    cust = _t(spark, sf_dir, "customer")
    # same % 4 != 1 seen-subrange as urlseen_antijoin: non-empty output at
    # sf0.01, so a bucketed join that wrongly dropped candidates would
    # break the hash (ADVICE r4)
    seen = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .where(F.col("c_custkey") % 4 != 1)
        .distinct()
    )
    write_seen_bucketed(
        spark,
        seen,
        table="q_urlseen_bucketed_tbl",
        n_buckets=8,
        path=tempfile.mkdtemp(prefix="urlseen_bucketed_"),
        key="c_custkey",
    )
    return filter_unseen_bucketed(
        spark, cust, table="q_urlseen_bucketed_tbl", key="c_custkey"
    ).select("c_custkey", "c_name")


def q_crawl_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL crawl loop as one oracle-hashed driver row (VERDICT r4
    #7): bootstrap → TWO run_iteration calls through a real SnapshotStore
    — robots filter (RFC 9309 precedence), URL-seen anti-join, token-
    bucket refill, salted per-host top-k, MoR frontier delete, seen
    append, host_state upsert — then the committed batch tables read
    back. Constants chosen so the token bucket is the binding constraint
    and its carried state is visible in the output: burst 10, rate 1/s,
    dt 30 s, max_per_batch 100 → iteration 1 quota floor(10+30)=40,
    iteration 2 quota floor(min(40, (40-40)+30))=30. The oracle
    recomputes both iterations arithmetically in SQL; host_rank is
    re-derived from batch membership + priorities (valid because the
    batch IS the top-k prefix under the same (priority desc, url asc)
    order schedule_batch uses)."""
    import tempfile

    from commoncrawl_fetcher_lite_spark.config import FrontierConfig
    from commoncrawl_fetcher_lite_spark.frontier import scheduler
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore
    from commoncrawl_fetcher_lite_spark.frontier.robots import robots_frame

    ev = _t(spark, sf_dir, "events")
    seeds = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        # distinct priorities (event_id unique) → tie-breaks never consulted
        (F.col("value") + F.col("event_id") * F.lit(1e-9)).alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
    )
    hosts = seeds.select("host").distinct()
    bodies = hosts.select(
        "host",
        F.when(
            F.regexp_extract("host", r"host(\d+)", 1).cast("int") % 2 == 0,
            F.lit("User-agent: *\nDisallow: /e/1\nAllow: /e/13"),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:"))
        .alias("robots_txt"),
    )
    robots = robots_frame(bodies, agent="ccbot")

    store = SnapshotStore(tempfile.mkdtemp(prefix="crawl_iter_"), spark)
    scheduler.bootstrap(store, seeds, robots=robots)
    cfg = FrontierConfig(
        default_tokens_per_sec=1.0,
        default_burst=10,
        default_max_per_batch=100,
        n_salt=4,
    )
    batches = []
    for it in (1, 2):
        scheduler.run_iteration(store, cfg, batch_seconds=30.0)
        batches.append(
            store.read("batch").select("url").withColumn("iter", F.lit(it))
        )
    both = batches[0].unionByName(batches[1])
    joined = both.join(seeds.select("url", "host", "priority"), "url")
    w = Window.partitionBy("iter", "host").orderBy(
        F.desc("priority"), F.asc("url")
    )
    return joined.select(
        "iter", "url", "host", F.row_number().over(w).alias("host_rank")
    )


def q_crawl_iteration_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every run_iteration branch in ONE oracle-hashed row (VERDICT r5
    #4): two iterations through a real SnapshotStore with
      * a domain BLOCKLIST committed at bootstrap — hosts hk%7==3
        (host3/10/17) never scheduled (frontier/blocklist.py gate),
      * a FAILING host — fetch reports success=false for host1, so
        iteration 2 divides its quota by the committed backoff
        multiplier 2 (politeness.backoff_delta lazy-decay state),
      * OUTLINK DISCOVERY — fetched rows whose event_id%10==0 emit a
        link to https://linked.example.com/l/<eid>; discovered URLs
        join the frontier at priority 0.4 and the new host is scheduled
        in iteration 2 under a fresh token bucket.
    Token constants as q_crawl_iteration (burst 10, rate 1/s, dt 30 s,
    max 100): iteration-1 quota 40; iteration-2 quota 30 for healthy
    seed hosts, floor(30/2)=15 for host1, 40 for the fresh linked host.
    The oracle recomputes blocklist membership, both token-bucket
    iterations, the backoff halving, and the link set arithmetically.
    Output: (iter, url, host, host_rank)."""
    import tempfile

    from commoncrawl_fetcher_lite_spark.config import FrontierConfig
    from commoncrawl_fetcher_lite_spark.frontier import scheduler
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

    ev = _t(spark, sf_dir, "events")
    seeds = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        # distinct priorities (event_id unique) → tie-breaks never consulted
        (F.col("value") + F.col("event_id") * F.lit(1e-9)).alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
    )
    blocklist = spark.createDataFrame(
        [(f"host{k}.example.com", "ads") for k in (3, 10, 17)],
        "domain string, category string",
    )

    def fetch(batch: DataFrame) -> DataFrame:
        eid = F.regexp_extract("url", r"/e/(\d+)$", 1)
        links = F.when(
            F.col("url").rlike(r"/e/\d+$") & (eid.cast("long") % 10 == 0),
            F.array(F.concat(F.lit("https://linked.example.com/l/"), eid)),
        ).otherwise(F.lit(None).cast("array<string>"))
        return batch.select(
            "url",
            "host",
            (F.col("host") != "host1.example.com").alias("success"),
            links.alias("links"),
        )

    store = SnapshotStore(tempfile.mkdtemp(prefix="crawl_full_"), spark)
    scheduler.bootstrap(store, seeds, blocklist=blocklist)
    cfg = FrontierConfig(
        default_tokens_per_sec=1.0,
        default_burst=10,
        default_max_per_batch=100,
        n_salt=4,
    )
    batches = []
    for it in (1, 2):
        scheduler.run_iteration(store, cfg, batch_seconds=30.0, fetch_fn=fetch)
        batches.append(
            store.read("batch").select("url").withColumn("iter", F.lit(it))
        )
    both = batches[0].unionByName(batches[1])
    # url → (host, priority) map covering seeds AND every possible link
    # (links all carry the discovery priority 0.4); ranking over batch
    # members matches schedule_batch's (priority desc, url asc) order
    # because the batch is a prefix of that order per host
    prio_map = seeds.select("url", "host", "priority").unionByName(
        ev.where(F.col("event_id") % 10 == 0).select(
            F.concat(
                F.lit("https://linked.example.com/l/"),
                F.col("event_id").cast("string"),
            ).alias("url"),
            F.lit("linked.example.com").alias("host"),
            F.lit(0.4).alias("priority"),
        )
    )
    joined = both.join(prio_map, "url")
    w = Window.partitionBy("iter", "host").orderBy(
        F.desc("priority"), F.asc("url")
    )
    return joined.select(
        "iter", "url", "host", F.row_number().over(w).alias("host_rank")
    )


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum TOKEN-budget selection (operators/mixing.py
    token_budget_mix): budgets en=5000 (partial keep), de=10000 (whole
    stratum at sf0.01), zh=0 (dropped entirely), es/fr via the 2000
    default — all four regimes in one row. Deterministic seeded-md5
    order inside each stratum; the crossing document is included, so
    kept strata reach >= budget. Output: (doc_id, lang, n_tokens,
    cum_tokens_before)."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    return token_budget_mix(
        docs,
        budgets={"en": 5000, "de": 10000, "zh": 0},
        default_budget=2000,
        seed=42,
    )


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style block classification (operators/html.py
    boilerplate_blocks): every document is wrapped as a page with a
    link-heavy nav, its prose in a <p>, a short heading, and a
    link-farm footer — so each verdict class ('short', 'nav', 'good'/
    'low_stop') appears for every doc. The oracle mirrors the block
    split, the anchor-text scan, the tag/entity/whitespace clean, and
    the density thresholds in SQL. Output: one row per block
    (doc_id, block_no, n_words, link_density, stop_density, verdict,
    text)."""
    from commoncrawl_fetcher_lite_spark.operators.html import (
        boilerplate_blocks,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><div class="nav"><a href="/">Home</a> '),
        F.lit('<a href="/about">About our site</a></div><p>'),
        F.col("text"),
        F.lit("</p><h2>Doc "),
        d,
        F.lit('</h2><div><a href="/p1">first link</a> '),
        F.lit('<a href="/p2">second link</a> '),
        F.lit('<a href="/p3">third link here</a></div></body></html>'),
    )
    return boilerplate_blocks(docs.select("doc_id", html.alias("html")))


def q_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL change-rate estimation (frontier/recrawl.py
    estimate_change_rate, Cho & Garcia-Molina 2003): a 4-fetch history
    per document is derived arithmetically (fetch i at day i·(1 +
    doc_id mod 7); the digest increments at step i iff an md5 lane mod
    3 hits — so histories span 0-3 changes at varied intervals), then
    λ̂ = -ln((n-X+0.5)/(n+0.5))/ΔT̄. Output: (url, n_intervals,
    n_changes, change_rate)."""
    from pyspark.sql import Window

    from commoncrawl_fetcher_lite_spark.frontier.recrawl import (
        estimate_change_rate,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    steps = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    )
    lane = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":chg:"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    chg = ((F.col("i") > 0) & (lane % 3 == 0)).cast("int")
    w = Window.partitionBy("doc_id").orderBy("i")
    fetches = steps.select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.date_add(
            F.lit("2026-01-01").cast("date"),
            (F.col("i") * (1 + F.col("doc_id") % 7)).cast("int"),
        ).alias("fetch_ts"),
        F.concat(F.lit("d"), F.sum(chg).over(w).cast("string")).alias(
            "digest"
        ),
    )
    return estimate_change_rate(fetches)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (frontier/hostrank.py): a deterministic
    41-host graph is derived arithmetically from doc_ids (src = doc_id
    mod 37, two md5-lane destinations mod 41 — hosts h37-h40 never
    appear as sources, exercising the dangling-mass term), then 10
    damped power iterations. The oracle unrolls the same 10 iterations
    as generated CTEs. Output: (host, rank)."""
    from commoncrawl_fetcher_lite_spark.frontier.hostrank import host_pagerank

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")

    def lane(label: str):
        return F.conv(
            F.substring(F.md5(F.concat_ws(":", d, F.lit(label))), 1, 8), 16, 10
        ).cast("long")

    src = F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string"))
    e1 = docs.select(
        src.alias("src"),
        F.concat(F.lit("h"), (lane("e1") % 41).cast("string")).alias("dst"),
    )
    e2 = docs.select(
        src.alias("src"),
        F.concat(F.lit("h"), (lane("e2") % 41).cast("string")).alias("dst"),
    )
    return host_pagerank(e1.unionByName(e2), n_iter=10, damping=0.85)


def _host_pagerank_oracle_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain mirroring host_pagerank exactly
    (same op structure so both engines hit identical IEEE doubles before
    the final 6-dp rounding)."""

    def lane_sql(label: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
            f"':{label}'), 1, 8)) AS BIGINT) % 41"
        )

    head = f"""
        WITH e0 AS (
            SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
                   'h' || CAST({lane_sql('e1')} AS VARCHAR) AS dst
            FROM documents
            UNION ALL
            SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
                   'h' || CAST({lane_sql('e2')} AS VARCHAR) AS dst
            FROM documents),
        e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        nodes AS MATERIALIZED (SELECT DISTINCT host FROM
                  (SELECT src AS host FROM e
                   UNION ALL SELECT dst AS host FROM e)),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        r0 AS MATERIALIZED (SELECT host, (SELECT 1.0 / n FROM nn) AS r FROM nodes)"""
    iters = []
    for k in range(1, n_iter + 1):
        p = f"r{k - 1}"
        iters.append(f"""
        r{k} AS MATERIALIZED (
            SELECT nodes.host,
                   (1 - {damping}) / nn.n
                   + {damping} * (coalesce(c.c, 0) + dm.dm / nn.n) AS r
            FROM nodes CROSS JOIN nn
            LEFT JOIN (SELECT e.dst AS host, sum(p.r / deg.deg) AS c
                       FROM {p} p
                       JOIN deg ON p.host = deg.src
                       JOIN e ON e.src = p.host
                       GROUP BY e.dst) c ON c.host = nodes.host
            CROSS JOIN (SELECT coalesce(sum(p.r), 0) AS dm
                        FROM {p} p
                        LEFT JOIN deg ON p.host = deg.src
                        WHERE deg.src IS NULL) dm)""")
    return (
        head
        + ","
        + ",".join(iters)
        + f"\n        SELECT host, round(r, 6) AS rank FROM r{n_iter}"
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus near-dedup (operators/dedup.py
    incremental_neardup): even doc_ids play the already-ingested corpus
    (their lsh_bucket_frame is the persisted state — in production it
    round-trips through the SnapshotStore, pytest proves that), odd
    doc_ids arrive as the new batch. Candidates come from the
    batch⋈state bucket join plus the batch's internal self-join; exact
    Jaccard verifies (corpus shingles re-derived only for matched
    candidates); each dup reports its MIN-id partner. bands=32/64 perms
    → miss prob ~1e-23 at the fixture's J≥0.9 pairs, so LSH == the
    oracle's exact all-pairs truth (the q_minhash_lsh argument).
    Output: (doc_id, dup_of, jaccard)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
        lsh_bucket_frame,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    state = lsh_bucket_frame(corpus, bands=32, num_perm=64)
    dups, _new_buckets = incremental_neardup(
        batch, state, corpus, bands=32, num_perm=64, threshold=0.5
    )
    return dups


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/mixing.py dsir_select,
    Xie et al. 2023): hashed unigram+bigram features (4096 md5 buckets),
    add-1-smoothed target/raw bucket distributions with target =
    lang='en' documents, per-doc importance log-weight = count-weighted
    sum of bucket log-ratios, then Gumbel-top-100 selection on a seeded
    md5 lane. Scores round to 6dp with doc-id tie-break so the cut is
    engine-independent. Output: the 100 selected rows
    (doc_id, n_feats, dsir_logw, sel_score)."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        docs.where(F.col("lang") == "en"),
        k=100,
        n_buckets=4096,
        alpha=1.0,
        seed=42,
    )


def q_span_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule interleaved shape end-to-end (operators/spans.py):
    each document becomes a spans array — text split at char 40 into two
    text spans, doc_id%3 media spans between them — assembled
    DELIBERATELY out of order (text tail first) so sorted_spans'
    offset sort is load-bearing; docs with doc_id%7==0 get a gap in
    their offsets to exercise the order_ok=false branch. Output per doc:
    reassembled clean_text (must equal the original text), span-shape
    stats, the span-order invariant verdict, and the in-order media-ref
    manifest as a CSV. Pure Catalyst array/struct HOFs — no explode on
    the doc-grained path."""
    from commoncrawl_fetcher_lite_spark.operators.spans import (
        sorted_spans,
        span_stats_expr,
        spans_text,
    )

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 3).cast("int")
    t2_off = (
        F.when(F.col("doc_id") % 7 == 0, m + 2).otherwise(m + 1).cast("int")
    )
    text_span = lambda txt, off: F.struct(  # noqa: E731
        F.lit("text").alias("kind"),
        txt.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off.alias("offset"),
    )
    media_spans = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(
                    F.lit("img://"),
                    F.col("doc_id").cast("string"),
                    F.lit("/"),
                    i.cast("string"),
                ).alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )
    )
    spans = F.concat(
        F.array(text_span(F.substring("text", 41, 1 << 20), t2_off)),
        media_spans,
        F.array(text_span(F.substring("text", 1, 40), F.lit(0).cast("int"))),
    )
    assembled = docs.select("doc_id", spans.alias("spans"))
    # ONE map-only projection: stats struct + reassembled text + media
    # manifest together — no doc_id self-join to glue doc-grained frames
    out = assembled.select(
        "doc_id",
        spans_text("spans").alias("clean_text"),
        F.array_join(
            F.transform(
                F.filter(sorted_spans("spans"), lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
            ",",
        ).alias("media_csv"),
        F.inline(F.array(span_stats_expr("spans"))),
    )
    return out.select(
        "doc_id",
        "clean_text",
        "n_spans",
        "n_text",
        "n_media",
        "text_chars",
        "order_ok",
        "media_csv",
    )


def q_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→doc embedding pooling (similarity.mean_pool_embeddings):
    vectors grouped by vec_id%50 pool to their element-wise mean —
    one groupBy with 64 scalar avg aggregates, JVM-side, no explode on
    the aggregation path. Output exploded to (doc_id, n_vectors, i, val)
    scalars so the oracle compare is float-tolerant per element."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 50).alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    pooled = mean_pool_embeddings(emb, group_col="doc_id", dim=64)
    return pooled.select(
        "doc_id",
        "n_vectors",
        F.posexplode("embedding").alias("i", "val"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: keep min doc_id per md5(text)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5(F.col("text")))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("h", "keep_doc_id", "n_dups")
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization count per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality heuristics: length, word count, stopword ratio."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_q"),
        n_words.alias("n_words"),
        F.round(n_stop.cast("double") / n_words, 4).alias("stopword_ratio"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation (hash agg partial+final — A1/A2 analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join with broadcast dims + top-k."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style snowflake join (broadcast small dims)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("r_name", "revenue")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window (streaming-style op in batch form):
    session breaks at >30 min gaps; emit sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_sessions", "n_events")
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 ANN baseline over the embeddings table.
    All arithmetic in float64 with explicit formula so the DuckDB oracle
    computes bit-identical scores; ties broken by neighbor id."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    # spread the corpus side (r7): the per-pair dot/norm folds below the
    # broadcast cross join otherwise run on the 1-2 scan partitions
    emb = spread_for_compute(
        _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nq = F.sqrt(
        F.aggregate(F.transform("qv", lambda a: a * a), F.lit(0.0), lambda s, x: s + x)
    )
    nv = F.sqrt(
        F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda s, x: s + x)
    )
    scored = (
        q.crossJoin(emb)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (nq * nv), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (dedup baseline)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs over the embeddings table."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep — the composition a 100 TB pipeline
    actually runs, as ONE Catalyst plan: language gate (computed lang_id,
    not the stored label) ∧ quality gate (min word count) ∧ exact-dup
    keeper (min doc_id per md5) ∧ near-dup cluster exemplar (minhash-LSH →
    connected components, keep cluster_id == doc_id). Each gate is an
    already-oracled operator; the intersection is deterministic, so the
    whole pipeline is SQL-expressible and hash-checked end-to-end."""
    from pyspark.sql import Window

    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        shingle_frame,
        verify_jaccard,
    )
    from commoncrawl_fetcher_lite_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    langs = lang_id(docs).select("doc_id", "pred_lang")
    quality = docs.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words")
    )
    keepers = (
        docs.withColumn(
            "keep", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .where(F.col("doc_id") == F.col("keep"))
        .select("doc_id")
    )
    sh = shingle_frame(docs).localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(docs, bands=32, num_perm=64, shingles=sh)
    pairs = verify_jaccard(cand, docs, threshold=0.5, shingles=sh)
    exemplars = (
        dedup_clusters(pairs, docs=docs)
        .where(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
    )
    return (
        keepers.join(exemplars, "doc_id")
        .join(langs, "doc_id")
        .join(quality, "doc_id")
        .where((F.col("pred_lang") == "en") & (F.col("n_words") >= 30))
        .select("doc_id", "pred_lang", "n_words")
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (scale path for
    embedding_neardup's O(n²) baseline): hyperplane (rot, bucket) self-join
    on int-only rows, late vector join, exact cosine verify. Deterministic
    seeded planes → the DuckDB oracle reproduces the identical bucketing
    from inlined literals; pytest additionally measures recall vs the exact
    all-pairs baseline."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import lsh_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    return lsh_neardup_pairs(emb, threshold=0.4, n_planes=3, n_rotations=12)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline (scale path): banded bucket join +
    exact Jaccard verify. Oracle: exact all-pairs Jaccard ≥ 0.5 — with
    bands=32/num_perm=64 the per-pair miss probability at the corpus's
    J≥0.9 true pairs is ~1e-23, so LSH-verified == exact truth; pytest
    additionally proves set equality on a controlled corpus."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        minhash_lsh_candidates,
        shingle_frame,
        verify_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    # shingling runs ONCE (localCheckpoint) and feeds both the signature
    # stage and the exact-verify joins — it's the dominant scan-side cost
    sh = shingle_frame(docs).localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(docs, bands=32, num_perm=64, shingles=sh)
    return verify_jaccard(cand, docs, threshold=0.5, shingles=sh).select(
        "id_a", "id_b", "jaccard"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: minhash-LSH pairs (J>=0.5) → connected
    components → (doc_id, cluster_id=min member), singletons included —
    the transitive-closure step real corpus dedup needs (A~B~C collapses
    to one exemplar even when A!~C). Oracle: DuckDB recursive CTE over the
    exact all-pairs edge set."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        shingle_frame,
        verify_jaccard,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = shingle_frame(docs).localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(docs, bands=32, num_perm=64, shingles=sh)
    pairs = verify_jaccard(cand, docs, threshold=0.5, shingles=sh)
    return dedup_clusters(pairs, docs=docs).select("doc_id", "cluster_id")


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 near-dup pairs. Oracle: exact all-pairs hamming
    over the same md5-prefix token-hash SimHash computed in pure SQL
    (bit-vote per bit position); candidate recall is exact by pigeonhole
    (4 chunks for ≤3 differing bits), so LSH-bucketed == all-pairs."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k ANN (scale path). Deterministic: the
    seeded hyperplanes are a pure function of (seed, dim), so the DuckDB
    oracle reproduces the exact bucketing by inlining the same planes as
    SQL literals (_lsh_ann_oracle_sql); pytest additionally measures recall
    vs the brute-force baseline."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return lsh_topk(q, emb, k=3, n_planes=4, n_rotations=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (cell-partitioned scale path): deterministic coarse
    quantizer (lowest-id vectors as centroids), n_probe nearest cells per
    query, exact cosine re-rank. Fully oracle-checked — the index is a
    pure function of the data, so DuckDB recomputes assignment, probing,
    and re-rank exactly."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivf_topk(q, emb, k=3, n_cells=16, n_probe=4).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with the seeded spherical k-means coarse quantizer
    (balanced cells on clustered data). Lloyd iterations are not
    SQL-expressible, so DuckDB cannot recompute the index — but it CAN
    compute the exact brute-force top-k, and because ivf_topk re-ranks
    candidates by TRUE cosine, perfect recall ⇒ output == exact answer.
    (n_cells=8, n_probe=6) measures recall 1.0 on this fixture (VERDICT
    r4 #3; sf0.01 embeddings are near-uniform, so wide probing is needed
    — sweep: 4/16→0.53, 12/16→0.93, 6/8→1.0), turning the former
    rows-only row into a full hash check: a quantizer-assignment, probe,
    or re-rank bug drops a true neighbor and breaks the hash. The
    n_probe ≪ n_cells scale regime stays covered by pytest
    (recall/balance/determinism, test_dedup_similarity)."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivf_topk(
        q, emb, k=3, n_cells=8, n_probe=6, quantizer="kmeans"
    ).select("query_id", "neighbor_id", "rank")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th document plays the held-out
    benchmark; flag corpus docs sharing any word-3-gram with it (broadcast
    semi-join on shingles — GPT-3-style test-set overlap removal)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, bench, n=3, min_overlap=1)


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parsing → recrawl-rate priors (frontier/robots.py
    parse_sitemap): each even host gets a 3-entry sitemap cycling
    through changefreq values (daily / weekly / an unknown value hitting
    the default) with optional lastmod/priority fields; odd hosts get a
    sitemap INDEX (zero <url> rows by design). Output: (sitemap_url,
    entry_no, loc, lastmod, changefreq, priority, change_rate_prior)."""
    from commoncrawl_fetcher_lite_spark.frontier.robots import parse_sitemap

    hosts = _seeds_view(spark, sf_dir).select("host").distinct()
    idx = F.regexp_extract("host", r"host(\d+)", 1).cast("int")
    h = F.col("host")
    xml = F.when(
        idx % 2 == 0,
        F.concat(
            F.lit('<?xml version="1.0"?><urlset xmlns="x"><url><loc> https://'),
            h,
            F.lit("/a </loc><lastmod>2026-01-02</lastmod>"),
            F.lit("<changefreq>Daily</changefreq><priority>0.8</priority>"),
            F.lit("</url><url><loc>https://"),
            h,
            F.lit("/b</loc><changefreq>weekly</changefreq></url>"),
            F.lit("<url><loc>https://"),
            h,
            F.lit("/c</loc><changefreq>sometimes</changefreq></url></urlset>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"),
            h,
            F.lit("/more.xml</loc></sitemap></sitemapindex>"),
        )
    )
    bodies = hosts.select(
        F.concat(F.lit("https://"), h, F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        xml.alias("xml"),
    )
    return parse_sitemap(bodies)


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination (operators/dedup.py contamination_report):
    every 50th document plays the benchmark; report each doc's distinct
    3-gram count, benchmark-overlap count, and overlap FRACTION — the
    quantity thresholded drop policies are written in. Output:
    (doc_id, n_shingles, n_overlap, overlap_frac)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        contamination_report,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return contamination_report(docs, bench, n=3)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style md5 fingerprints per document."""
    from commoncrawl_fetcher_lite_spark.operators.text import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic argmax)."""
    from commoncrawl_fetcher_lite_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token count estimate per document."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )
    from commoncrawl_fetcher_lite_spark.operators.text import bpe_ish_token_count

    return spread_for_compute(_t(spark, sf_dir, "documents")).select(
        "doc_id", bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens")
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level near-dup pairs: documents sharing >= 3 winnowed
    5-gram fingerprints (shared token spans), with a df<=50
    stop-fingerprint cap killing the boilerplate quadratic blowup before
    the self-join. Every 25th document gets a suffix-mutated twin (same
    trick as decontaminate's synthetic benchmark) so the row always has
    known-positive pairs; the scheme also surfaces the fixture's natural
    near-dups."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import duplicate_span_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" twin suffix tokens")).alias("text"),
    )
    return duplicate_span_pairs(
        docs.unionByName(twins), n=5, stride=4, min_shared=3, max_df=50
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: global token offset of every document
    in the concatenated corpus stream (distributed two-pass prefix sum —
    no single-partition window) plus the 512-token context windows it
    spans."""
    from commoncrawl_fetcher_lite_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-sequence rollup of pack_sequences: which documents
    feed each 512-token context window (straddling docs explode over
    their bounded seq range)."""
    from commoncrawl_fetcher_lite_spark.operators.packing import (
        pack_sequences,
        shard_manifest,
    )

    return shard_manifest(
        pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup over 10-token blocks: every
    block keeps only its first corpus-order occurrence; docs are stitched
    back from surviving blocks. Suffix-mutated twins of every 25th doc
    (same trick as duplicate_spans) guarantee real duplicate lines: a
    twin's full blocks are identical to its source's, so they dedup away
    and only its tail survives."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" twin suffix tokens")).alias("text"),
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    # spread before the per-row block build + explode (r7): the narrow
    # documents scan would run the chunking on 1-2 cores
    corpus = spread_for_compute(docs.unionByName(twins))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(toks) / 10).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
    )
    lines = corpus.select(
        "doc_id", F.posexplode(chunks).alias("line_no", "line")
    )
    return line_dedup(lines)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-supervised unigram LM score per document (mean negative
    log-probability under corpus token frequencies) — the order-0
    KenLM-shaped quality signal."""
    from commoncrawl_fetcher_lite_spark.operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per language: doc count, total/mean token
    counts, exact p50/p90/p99 token-count percentiles."""
    from commoncrawl_fetcher_lite_spark.operators.text import corpus_stats

    return corpus_stats(_t(spark, sf_dir, "documents"))


_STREAM_SEQ = itertools.count()


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup ledger: documents arrive as a file stream,
    a stateful groupBy(digest) maintains running duplicate counts, and
    AvailableNow drains to a memory table whose final contents are
    hash-checked against the plain batch GROUP BY oracle — streaming
    path, batch answer. Every 25th doc is fanned out to two copies
    in-stream so the counts exercise >1."""
    from commoncrawl_fetcher_lite_spark.streaming.dedup_stream import (
        run_to_memory,
        stream_documents,
        streaming_digest_counts,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    docs = stream_documents(
        spark, sf_dir, schema, glob_filter="documents.parquet"
    )
    fan = docs.select(
        "text",
        F.explode(
            F.when(
                F.col("doc_id") % 25 == 0, F.array(F.lit(0), F.lit(1))
            ).otherwise(F.array(F.lit(0)))
        ).alias("copy"),
    )
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    run_to_memory(streaming_digest_counts(fan), name)
    return spark.table(name)


def q_streaming_host_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed per-host scheduling rate over a file stream
    (streaming path, batch answer): events stream in, 1-minute tumbling
    windows per host accumulate in streaming aggregation state,
    AvailableNow drains to a complete-mode memory table hash-checked
    against the batch GROUP BY date_trunc oracle. The watermark bounds
    state in continuous deployments; complete-mode drain here because
    the driver compares the full table (streaming_dedup's pattern)."""
    from commoncrawl_fetcher_lite_spark.streaming.dedup_stream import (
        run_to_memory,
        stream_documents,
    )
    from commoncrawl_fetcher_lite_spark.streaming.frontier_stream import (
        host_rate_metrics,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = stream_documents(spark, sf_dir, schema, glob_filter="events.parquet")
    seeds = ev.select(
        F.concat(
            F.lit("host"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        # parquet ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP (the
        # session tz is UTC, so the instant is unchanged)
        F.col("ts").cast("timestamp").alias("discovered_ts"),
    )
    name = f"stream_hostmetrics_{next(_STREAM_SEQ)}"
    run_to_memory(host_rate_metrics(seeds), name)
    return spark.table(name)


def q_crawl_delay_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Crawl-delay → token-rate cap (politeness.host_quota):
    per-host budgets of (rate 1/s, burst 5, max 50) over a 30 s batch,
    with crawl_delay_s 10 / 2 / 0.25 / absent by host index — the cap
    binds only when 1/delay < configured rate (delays 10 and 2), the
    0.25 s delay and the no-delay hosts keep the budget quota. Output:
    (host, quota)."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import host_quota

    hosts = _seeds_view(spark, sf_dir).select("host").distinct()
    idx = F.regexp_extract("host", r"host(\d+)", 1).cast("int")
    hb = hosts.select(
        "host",
        F.lit(1.0).alias("tokens_per_sec"),
        F.lit(5).alias("burst"),
        F.lit(50).alias("max_per_batch"),
    )
    robots = hosts.select(
        "host",
        F.when(idx % 4 == 0, F.lit(10.0))
        .when(idx % 4 == 1, F.lit(2.0))
        .when(idx % 4 == 2, F.lit(0.25))
        .otherwise(F.lit(None).cast("double"))
        .alias("crawl_delay_s"),
    )
    quotas, _default = host_quota(hb, batch_seconds=30.0, robots=robots)
    return quotas


def q_host_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host failure backoff across iterations: events become fetch
    results (hosts at idx%3==0 fail 60% — trips the 0.5 threshold;
    others fail 10%), previous state carries mult 8 for even-index
    hosts. Doubling/halving with cap and floor are all exercised."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import update_backoff

    ev = _t(spark, sf_dir, "events")
    idx = (F.col("user_id") % 20).cast("int")
    results = ev.select(
        F.concat(F.lit("host"), idx.cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        F.when(idx % 3 == 0, F.col("event_id") % 5 >= 3)
        .otherwise(F.col("event_id") % 10 != 0)
        .alias("success"),
    )
    prev = (
        results.select("host")
        .distinct()
        .where(F.regexp_extract("host", r"host(\d+)", 1).cast("int") % 2 == 0)
        .select("host", F.lit(8.0).alias("backoff_mult"))
    )
    return update_backoff(prev, results)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + shape gates per document — word-count
    bounds, mean-word-length band, distinct-word fraction, modal-bigram
    fraction, alphabetic-word fraction, combined pass verdict. One
    Arrow-batched Python kernel (hash-counted bigram mode), no shuffle."""
    from commoncrawl_fetcher_lite_spark.operators.text import gopher_quality

    g = gopher_quality(_t(spark, sf_dir, "documents"))
    return g.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("distinct_frac", 4).alias("distinct_frac"),
        F.round("top2gram_frac", 4).alias("top2gram_frac"),
        F.round("alpha_word_frac", 4).alias("alpha_word_frac"),
        "gopher_pass",
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → training text: documents wrapped in deterministic synthetic
    HTML (head/title/style/script/comment/entities), then extracted with
    the pure-Catalyst regexp chain (operators/html.py). The oracle
    mirrors the exact strip order in RE2."""
    from commoncrawl_fetcher_lite_spark.operators.html import extract_text

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            ' &amp; Co</title><style>p { color: red; }</style></head>'
            "<body><!-- header --><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            '</p><script type="text/javascript">var x = "<p>";</script>'
            '<div class="footer">from '
        ),
        F.col("source"),
        F.lit(" &lt;archived&gt;</div></body></html>"),
    )
    return extract_text(docs.select("doc_id", html.alias("html")))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: documents salted with a deterministic email, IPv4,
    and phone number, then scrubbed by the Catalyst regexp passes
    (operators/html.py scrub_documents) — output keeps the redaction count."""
    from commoncrawl_fetcher_lite_spark.operators.html import scrub_documents

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(" tel +1 415 555 "),
            (F.col("doc_id") + 100000).cast("string"),
            F.lit(" :: "),
            F.col("text"),
        ).alias("text"),
    )
    return scrub_documents(salted)


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink discovery: documents wrapped in synthetic HTML carrying an
    absolute, a root-relative, a protocol-relative, a mailto:, a plain-
    relative, and a fragment link; extract_links must keep exactly the
    first three, resolved against the page URL. The oracle derives the
    expected links ARITHMETICALLY (no regex) — an independent check of
    the whole extract+resolve path."""
    from commoncrawl_fetcher_lite_spark.operators.html import extract_links

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com/dir/page"),
        d,
    )
    html = F.concat(
        F.lit('<html><body><a class="x" href="https://ext.example.org/a'),
        d,
        F.lit('">x</a><a href="/local/'),
        d,
        F.lit("\">y</a><a href='//cdn.example.net/c"),
        d,
        F.lit(
            "'>z</a><a href=\"mailto:a@b.example\">m</a>"
            '<a href="page2.html">rel</a><a href="#frag">f</a>'
            "</body></html>"
        ),
    )
    return extract_links(
        docs.select("doc_id", html.alias("html"), base.alias("url"))
    )


def _seeds_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".example.com")
        ).alias("host"),
        "event_id",
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt end-to-end: synthesize per-host robots bodies, parse them
    with frontier.robots.robots_frame (RFC 9309 grouping + Allow), drop
    candidates by longest-match Disallow/Allow precedence via the
    size-gated robots join. Oracle reimplements the EXPECTED rule in SQL
    (even host index blocks /e/1* EXCEPT the longer Allow /e/13), so the
    parser+filter pipeline is checked, not mirrored."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import apply_robots
    from commoncrawl_fetcher_lite_spark.frontier.robots import robots_frame

    seeds = _seeds_view(spark, sf_dir)
    hosts = seeds.select("host").distinct()
    body_even = (
        "# synthetic\nUser-agent: greedybot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /e/1\nAllow: /e/13\nCrawl-delay: 2"
    )
    bodies = hosts.select(
        "host",
        F.when(
            F.regexp_extract("host", r"host(\d+)", 1).cast("int") % 2 == 0,
            F.lit(body_even),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:"))
        .alias("robots_txt"),
    )
    robots = robots_frame(bodies, agent="ccbot")
    # broadcast=True: ~20 synthetic hosts, but mapInPandas output has no
    # Catalyst stats so the auto gate would plan a shuffle join
    return apply_robots(seeds, robots, broadcast=True).select("url")


def q_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 `*`/`$` wildcard rules end-to-end: even-index hosts carry
    `Disallow: /e/*9$` (6 pattern octets — outranks the 5-octet
    `Allow: /e/13`, so /e/29 is blocked while plain /e/13 stays allowed)
    next to the prefix rules, PLUS `Allow: /e/1*9` (also 6 octets): for a
    path like /e/139 the best disallow and best allow TIE at 6 and RFC
    least-restrictive tie-breaking must allow it — an off-by-one octet
    count on either rule flips that outcome, so the oracle genuinely pins
    the precedence arithmetic (ADVICE r4). The oracle recomputes
    longest-match precedence in SQL with regexp_matches, checking the
    parser's regex translation + the fused single-pass fold, not
    mirroring them."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import apply_robots
    from commoncrawl_fetcher_lite_spark.frontier.robots import robots_frame

    seeds = _seeds_view(spark, sf_dir)
    hosts = seeds.select("host").distinct()
    body_even = (
        "User-agent: *\nDisallow: /e/*9$\nDisallow: /e/1\n"
        "Allow: /e/13\nAllow: /e/1*9"
    )
    bodies = hosts.select(
        "host",
        F.when(
            F.regexp_extract("host", r"host(\d+)", 1).cast("int") % 2 == 0,
            F.lit(body_even),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:"))
        .alias("robots_txt"),
    )
    robots = robots_frame(bodies, agent="ccbot")
    return apply_robots(seeds, robots, broadcast=True).select("url")


def q_urlseen_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-Bloom URL-seen gate (10^10 scale path): per-block bitmaps
    built distributedly, cogrouped probe, exact anti-join only on filter
    positives. The result is EXACT (the Bloom only gates), so the oracle is
    the plain set-difference SQL."""
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import (
        build_bloom_blocks,
        filter_unseen_blocked,
        with_url_hash,
    )

    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    seeds = _seeds_view(spark, sf_dir)
    seen = with_url_hash(
        spread_for_compute(
            seeds.where(F.col("event_id") % 7 == 0).select("url")
        )
    )
    blocks = build_bloom_blocks(seen, n_blocks=8, expected=50_000)
    return filter_unseen_blocked(seeds, seen, blocks, n_blocks=8).select("url")


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scoring (Poisson freshness: 1 - exp(-λ·age_days)) + top-3
    per host by effective_priority — the north star's priority model over
    a fetch-history frame derived from events."""
    from commoncrawl_fetcher_lite_spark.frontier.recrawl import (
        with_recrawl_priority,
    )

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".example.com")
        ).alias("host"),
        (F.col("value") / 100.0).alias("priority"),
        F.col("ts").alias("last_fetch_ts"),
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    scored = with_recrawl_priority(
        spread_for_compute(hist),
        now=F.lit("2026-01-01").cast("timestamp"),
        change_rate_per_day=0.05,
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("effective_priority"), F.asc("url")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("host", "url", "recrawl_score", "effective_priority", "rank")
    )


def q_media_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass: synthesize binary payloads (real magic
    bytes + utf-8 text) per document, classify via operators.multimodal's
    magic-byte CASE over the binary column. The oracle states the EXPECTED
    (size, kind) arithmetically — Spark must recover them from actual
    bytes, so the binary plumbing is what's checked."""
    from commoncrawl_fetcher_lite_spark.operators.multimodal import classify_media

    docs = _t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(bytes(b"\xff\xd8\xff")))
        .when(F.col("doc_id") % 4 == 1, F.lit(bytes(b"\x89PNG")))
        .when(F.col("doc_id") % 4 == 2, F.lit(bytes(b"ID3")))
        .otherwise(F.lit(bytes(b"\x00\x00\x00\x18ftypmp42")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(magic, F.encode("text", "UTF-8")).alias("payload"),
    )
    return classify_media(media).select("media_id", "n_bytes", "kind")


def q_lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language/source breakdown with avg doc length (pivot-style)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select("lang", "n_docs", "avg_chars", "n_sources")
    )


# --------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier scheduling batch — URL-seen anti-join dedup +
    per-host politeness quota + priority ranking over a seeds frame derived
    from sf0.001 events (the crawl engine's core scheduling plan)."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import schedule_batch
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import filter_unseen

    ev = _t(spark, SF_SMOKE, "events")
    seeds = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"), (F.col("user_id") % 20).cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.col("value").alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
        "event_id",
    )
    seen = seeds.where(F.col("event_id") % 7 == 0).select("url")
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import with_url_hash

    unseen = filter_unseen(seeds, with_url_hash(seen))
    quotas = spark.createDataFrame([], "host string, quota int")
    return schedule_batch(
        unseen, quotas, default_quota=25, n_salt=4, broadcast=True
    ).select("url", "host", "host_rank", "effective_priority")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters per document: modal n-gram occurrence
    share (n=2,3,4) + duplicated n-gram occurrence share (n=5,10) +
    combined rep_pass verdict — one map-only Arrow-batched Python kernel
    (hash-counted n-grams), no shuffle."""
    from commoncrawl_fetcher_lite_spark.operators.text import repetition_signals

    r = repetition_signals(_t(spark, sf_dir, "documents"))
    return r.select(
        "doc_id",
        *[
            F.round(c, 6).alias(c)
            for c in (
                "top_2gram_frac",
                "top_3gram_frac",
                "top_4gram_frac",
                "dup_5gram_frac",
                "dup_10gram_frac",
            )
        ],
        "rep_pass",
    )


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: de×2.25 (2 full copies + a seeded
    quarter), en×0.5 (seeded half), other languages ×1 — one md5 gate per
    row, map-only; output one row per emitted training copy."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import mix_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mix_corpus(docs, {"de": 2.25, "en": 0.5}, default_rate=1.0)


def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle into 8 shards: seeded
    md5 lanes give every doc a pseudo-random (shard_id, pos_in_shard);
    the within-shard sort is a bounded window per shard, never a global
    single-partition orderBy."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import shard_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shard_shuffle(docs, n_shards=8)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: coarse-cell clustering (lowid
    quantizer, SQL-expressible) restricts the quadratic cosine compare to
    within-cell pairs; connected duplicate groups collapse to the
    smallest-id exemplar. Output: (vec_id, cell, cluster_id, kept)."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return semdedup(emb, tau=0.4, n_cells=16)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over the documents table —
    smoothed sklearn idf, deterministic tie-break (rounded score desc,
    term asc)."""
    from commoncrawl_fetcher_lite_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (NFC + CRLF fold + control strip + whitespace
    collapse) over a deterministically-messied copy of documents: doc_id
    % 3 picks double-spacing, CRLF line breaks, or untouched text, so the
    driver row exercises every rewrite rule with non-vacuous `changed`
    bits."""
    from commoncrawl_fetcher_lite_spark.operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.replace(F.col("text"), F.lit(" "), F.lit("  "))
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.replace(F.col("text"), F.lit(" "), F.lit("\r\n")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return normalize_text(docs, nfc=True)


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout over documents (90/5/5):
    membership depends only on (doc_id, seed), so corpus rebuilds never
    move a document across the train/eval boundary."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import holdout_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return holdout_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05})


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist tagging over the seeds frame: half the candidates
    get a 'www.' label so the parent-domain suffix path is exercised, and
    two blocklist rows at different depths check longest-match
    precedence. Output: (url, host, blocked, block_domain,
    block_category)."""
    from commoncrawl_fetcher_lite_spark.frontier.blocklist import tag_blocked

    seeds = _seeds_view(spark, sf_dir)
    cands = seeds.select(
        "url",
        F.when(
            F.col("event_id") % 2 == 0, F.concat(F.lit("www."), F.col("host"))
        )
        .otherwise(F.col("host"))
        .alias("host"),
    )
    bl = spark.createDataFrame(
        [
            ("host3.example.com", "spam"),
            ("host7.example.com", "ads"),
            ("www.host7.example.com", "tracker"),
        ],
        "domain string, category string",
    )
    # broadcast_verdict=True: the synthetic verdict frame has no Catalyst
    # stats, so the auto gate would plan a shuffle join for 3 rows
    return tag_blocked(cands, bl, broadcast_verdict=True)


def q_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: product-quantized codes (m=8 bytes per 64-dim vector)
    + asymmetric-distance lookup tables — the memory-compressed ANN scale
    path. Deterministic lowid centroids AND codebook, so DuckDB
    recomputes assignment, encoding, LUT, ADC, and top-k exactly."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivfpq_topk(q, emb, k=3, n_cells=16, n_probe=4, m=8, n_codes=16)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (max 32 tokens, 8 overlap) —
    the embedding/retrieval prep step; map-only explode over bounded
    per-doc chunk ranges."""
    from commoncrawl_fetcher_lite_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=32, overlap=8
    )


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep flagship (the W4 scaling workload, oracle-checked):
    Gopher gate via the in-scan gopher_gate predicate, then per-doc top-3
    TF-IDF keywords over the surviving subcorpus (df and N computed on
    survivors, matching a real pipeline's ordering). Exercises the
    predicate form of the gate API; the scaling workload uses the
    frame+join form — both shapes, one oracle-checked answer (shape
    trade-offs: gopher_gate docstring)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )
    from commoncrawl_fetcher_lite_spark.operators.text import gopher_gate, tfidf_topk

    # spread BEFORE the gate (r7): the gopher predicate is the expensive
    # per-row stage here, and the narrow documents scan would evaluate it
    # on 1-2 cores. The verdict is emitted through inline(array(struct))
    # so the filter consumes a GENERATED attribute — a plain .where(gate)
    # gets predicate-pushed back below the round-robin exchange onto the
    # narrow scan (measured +15%: spread exchange paid, gate still narrow).
    docs = spread_for_compute(_t(spark, sf_dir, "documents"))
    gated = docs.select(
        "*",
        F.inline(
            F.array(F.struct(gopher_gate(min_words=20).alias("_gpass")))
        ),
    )
    kept = gated.where(F.col("_gpass")).drop("_gpass")
    return tfidf_topk(kept, k=3)


def q_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt: even-index hosts carry two
    Sitemap directives (mixed case, one with a trailing comment) plus a
    malformed relative one (dropped); odd hosts none. One
    line-anchored regexp_extract_all, map-only."""
    from commoncrawl_fetcher_lite_spark.frontier.robots import sitemap_urls

    hosts = _seeds_view(spark, sf_dir).select("host").distinct()
    idx = F.regexp_extract("host", r"host(\d+)", 1).cast("int")
    body = F.when(
        idx % 2 == 0,
        F.concat(
            F.lit("User-agent: *\nDisallow: /x\nSitemap: https://"),
            F.col("host"),
            F.lit("/sitemap.xml\nsitemap: http://"),
            F.col("host"),
            F.lit("/news.xml # daily\nSitemap: /relative.xml"),
        ),
    ).otherwise(F.lit("User-agent: *\nDisallow:"))
    return sitemap_urls(hosts.select("host", body.alias("robots_txt")))


def q_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: exactly 40 docs per language,
    ranked by the seeded md5 sample lane — deterministic eval-set
    carve-out; rank filter compiles to WindowGroupLimit (map-side
    partial top-k)."""
    from commoncrawl_fetcher_lite_spark.operators.mixing import sample_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_exact(docs, k=40, stratum_col="lang")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order is the driver's sampling order: its CORRECTNESS
    # artifact checks the FIRST 50 entries, so the least-battle-tested
    # rows (newest operators) lead and the long-stable §2 rows — pinned
    # by pytest regardless — sit at the back (VERDICT r5 #2).
    return {
        # --- round-5/6 rows: newest first, inside the driver window ---
        "sitemap_entries": q_sitemap_entries,
        "contamination_report": q_contamination_report,
        "boilerplate": q_boilerplate,
        # duplicate_spans re-ranked into the driver window: its df-gate
        # was reworked in r6 (groupBy+semi-join) and needs driver-signed
        # re-verification
        "duplicate_spans": q_duplicate_spans,
        "change_rate": q_change_rate,
        "host_pagerank": q_host_pagerank,
        "incremental_neardup": q_incremental_neardup,
        "dsir_select": q_dsir_select,
        "repetition_signals": q_repetition_signals,
        "mix_corpus": q_mix_corpus,
        "shard_shuffle": q_shard_shuffle,
        "semdedup": q_semdedup,
        "tfidf_topk": q_tfidf_topk,
        "normalize_text": q_normalize_text,
        "holdout_split": q_holdout_split,
        "blocklist": q_blocklist,
        "ivfpq_ann": q_ivfpq_ann,
        "chunk_documents": q_chunk_documents,
        "corpus_prep": q_corpus_prep,
        "sitemaps": q_sitemaps,
        "sample_exact": q_sample_exact,
        "streaming_host_metrics": q_streaming_host_metrics,
        "crawl_delay_quota": q_crawl_delay_quota,
        "host_backoff": q_host_backoff,
        "crawl_iteration_full": q_crawl_iteration_full,
        "token_budget_mix": q_token_budget_mix,
        "span_assembly": q_span_assembly,
        "mean_pool": q_mean_pool,
        # --- flagship + mid-age rows ---
        "crawl_iteration": q_crawl_iteration,
        "gopher_quality": q_gopher_quality,
        "html_extract": q_html_extract,
        "pii_scrub": q_pii_scrub,
        "link_extract": q_link_extract,
        "frontier_schedule": q_frontier_schedule,
        "frontier_schedule_diet": q_frontier_schedule_diet,
        "knn_cosine": q_knn_cosine,
        "robots_wildcards": q_robots_wildcards,
        "urlseen_blocked": q_urlseen_blocked,
        "media_classify": q_media_classify,
        "recrawl_priority": q_recrawl_priority,
        "decontaminate": q_decontaminate,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "corpus_clean": q_corpus_clean,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "ivf_ann_kmeans": q_ivf_ann_kmeans,
        "fingerprint": q_fingerprint,
        "lang_id": q_lang_id,
        "bpe_token_count": q_bpe_token_count,
        "pack_sequences": q_pack_sequences,
        "shard_manifest": q_shard_manifest,
        "line_dedup": q_line_dedup,
        "unigram_logprob": q_unigram_logprob,
        "corpus_stats": q_corpus_stats,
        "streaming_dedup": q_streaming_dedup,
        # --- long-stable §2 rows (multi-round driver-green + pytest) ---
        "mime_count": q_mime_count,
        "selector": q_selector,
        "selector_null_semantics": q_selector_null_semantics,
        "budget_prefix": q_budget_prefix,
        "top_report": q_top_report,
        "host_quota": q_host_quota,
        "urlseen_antijoin": q_urlseen_antijoin,
        "urlseen_bucketed": q_urlseen_bucketed,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "pricing_summary": q_pricing_summary,
        "join_revenue": q_join_revenue,
        "region_revenue": q_region_revenue,
        "sessionize": q_sessionize,
        "lang_breakdown": q_lang_breakdown,
        "robots_filter": q_robots_filter,
    }


def _lsh_ann_oracle_sql(
    n_planes: int = 4, n_rotations: int = 8, dim: int = 64, seed: int = 42, k: int = 3
) -> str:
    """Exact SQL twin of q_lsh_ann: the seeded hyperplanes (pure function of
    seed — similarity._hyperplanes) are inlined as DOUBLE[] literals, so
    DuckDB reproduces the identical bucketing, candidate join, and cosine
    re-rank (verified to match Spark bit-for-bit at sf0.01)."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import _hyperplanes

    rows = []
    for rot in range(n_rotations):
        for p, plane in enumerate(_hyperplanes(dim, n_planes, seed + rot * 1000)):
            arr = "[" + ",".join(repr(x) for x in plane) + "]"
            rows.append(f"({rot},{p},{arr}::DOUBLE[])")
    planes_values = ",\n".join(rows)
    return f"""
        WITH planes(rot, p, plane) AS (VALUES {planes_values}),
        emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sigs AS (
          SELECT e.vec_id, pl.rot,
                 SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                          THEN (1 << pl.p) ELSE 0 END) AS bucket
          FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id, pl.rot
        ),
        qs AS (SELECT vec_id AS query_id, rot, bucket FROM sigs WHERE vec_id < 5),
        cand AS (
          SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
          FROM qs q JOIN sigs c USING (rot, bucket)
          WHERE c.vec_id != q.query_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 ROUND(list_dot_product(eq.v, ec.v)
                       / (sqrt(list_dot_product(eq.v, eq.v))
                          * sqrt(list_dot_product(ec.v, ec.v))), 6) AS cos
          FROM cand
          JOIN emb eq ON eq.vec_id = cand.query_id
          JOIN emb ec ON ec.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        FROM (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= {k}
    """


def _lsh_neardup_oracle_sql(
    n_planes: int = 3,
    n_rotations: int = 12,
    dim: int = 64,
    seed: int = 42,
    threshold: float = 0.4,
) -> str:
    """Exact SQL twin of q_embedding_neardup_lsh: same inlined seeded
    hyperplanes → identical (rot, bucket) candidate pairs, then the same
    rounded cosine threshold (list_dot_product matches the Catalyst
    zip_with/aggregate double sum bit-for-bit on this data — proven by the
    embedding_neardup and lsh_ann oracles)."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import _hyperplanes

    rows = []
    for rot in range(n_rotations):
        for p, plane in enumerate(_hyperplanes(dim, n_planes, seed + rot * 1000)):
            arr = "[" + ",".join(repr(x) for x in plane) + "]"
            rows.append(f"({rot},{p},{arr}::DOUBLE[])")
    planes_values = ",\n".join(rows)
    return f"""
        WITH planes(rot, p, plane) AS (VALUES {planes_values}),
        emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
        sigs AS (
          SELECT e.vec_id, pl.rot,
                 SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                          THEN (1 << pl.p) ELSE 0 END) AS bucket
          FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id, pl.rot
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM sigs a JOIN sigs b USING (rot, bucket)
          WHERE a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cos_sim FROM (
          SELECT cand.id_a, cand.id_b,
                 ROUND(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6)
                     AS cos_sim
          FROM cand
          JOIN emb ea ON ea.vec_id = cand.id_a
          JOIN emb eb ON eb.vec_id = cand.id_b)
        WHERE cos_sim >= {threshold}
    """


def _repetition_oracle_sql(
    top_ns: tuple[int, ...] = (2, 3, 4),
    top_thresholds: tuple[float, ...] = (0.20, 0.18, 0.16),
    dup_ns: tuple[int, ...] = (5, 10),
    dup_thresholds: tuple[float, ...] = (0.15, 0.10),
) -> str:
    """SQL twin of q_repetition_signals, generated per n: unnest the
    doc's n-grams, count per gram, modal share = max(cnt)/total and
    duplicated share = sum(cnt where cnt>=2)/total — the same occurrence
    fractions the engine folds out of one sorted gram array per row."""
    ctes, sel, gates = [], [], []
    for n in sorted(set(top_ns) | set(dup_ns)):
        ctes.append(f"""
            g{n} AS (
                SELECT doc_id, len(w) - {n - 1} AS total,
                       unnest(list_transform(range(1, len(w) - {n - 1} + 1),
                           i -> array_to_string(list_slice(w, i, i + {n - 1}),
                                                ' '))) AS gram
                FROM t WHERE len(w) >= {n}),
            s{n} AS (
                SELECT doc_id,
                       CAST(max(cnt) AS DOUBLE) / any_value(total) AS top_frac,
                       CAST(COALESCE(sum(cnt) FILTER (WHERE cnt >= 2), 0)
                            AS DOUBLE) / any_value(total) AS dup_frac
                FROM (SELECT doc_id, any_value(total) AS total, gram,
                             count(*) AS cnt
                      FROM g{n} GROUP BY doc_id, gram)
                GROUP BY doc_id)""")
    for n, thr in zip(top_ns, top_thresholds):
        sel.append(
            f"ROUND(COALESCE(s{n}.top_frac, 0), 6) AS top_{n}gram_frac"
        )
        gates.append(f"COALESCE(s{n}.top_frac, 0) <= {thr!r}")
    for n, thr in zip(dup_ns, dup_thresholds):
        sel.append(
            f"ROUND(COALESCE(s{n}.dup_frac, 0), 6) AS dup_{n}gram_frac"
        )
        gates.append(f"COALESCE(s{n}.dup_frac, 0) <= {thr!r}")
    joins = "\n".join(
        f"LEFT JOIN s{n} ON t.doc_id = s{n}.doc_id"
        for n in sorted(set(top_ns) | set(dup_ns))
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents),
        {",".join(ctes)}
        SELECT t.doc_id, {", ".join(sel)},
               ({" AND ".join(gates)}) AS rep_pass
        FROM t
        {joins}
    """


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return {
        "sitemap_entries": r"""
            WITH hosts AS (
                SELECT DISTINCT 'host' || (user_id % 20) || '.example.com'
                           AS host,
                       CAST(user_id % 20 AS INT) AS idx
                FROM events),
            bodies AS (
                SELECT 'https://' || host || '/sitemap.xml' AS sitemap_url,
                       CASE WHEN idx % 2 = 0 THEN
                           '<?xml version="1.0"?><urlset xmlns="x">'
                           || '<url><loc> https://' || host || '/a </loc>'
                           || '<lastmod>2026-01-02</lastmod>'
                           || '<changefreq>Daily</changefreq>'
                           || '<priority>0.8</priority></url>'
                           || '<url><loc>https://' || host || '/b</loc>'
                           || '<changefreq>weekly</changefreq></url>'
                           || '<url><loc>https://' || host || '/c</loc>'
                           || '<changefreq>sometimes</changefreq></url></urlset>'
                       ELSE '<sitemapindex><sitemap><loc>https://' || host
                           || '/more.xml</loc></sitemap></sitemapindex>'
                       END AS xml
                FROM hosts),
            blocks AS (
                SELECT sitemap_url,
                       regexp_extract_all(xml,
                           '(?is)<url\b[^>]*>(.*?)</url>', 1) AS arr
                FROM bodies),
            entries AS (
                SELECT sitemap_url,
                       unnest(list_transform(range(1, len(arr) + 1),
                           i -> {'entry_no': i - 1, 'b': arr[i]})) AS e
                FROM blocks),
            fields AS (
                SELECT sitemap_url,
                       CAST(e.entry_no AS INT) AS entry_no,
                       regexp_extract(e.b,
                           '(?is)<loc\b[^>]*>\s*(.*?)\s*</loc>', 1) AS loc,
                       regexp_extract(e.b,
                           '(?is)<lastmod\b[^>]*>\s*(.*?)\s*</lastmod>', 1)
                           AS lastmod,
                       lower(regexp_extract(e.b,
                           '(?is)<changefreq\b[^>]*>\s*(.*?)\s*</changefreq>',
                           1)) AS changefreq,
                       regexp_extract(e.b,
                           '(?is)<priority\b[^>]*>\s*(.*?)\s*</priority>', 1)
                           AS priority
                FROM entries)
            SELECT sitemap_url, entry_no, loc, lastmod, changefreq, priority,
                   round(CASE changefreq
                         WHEN 'always' THEN 48.0
                         WHEN 'hourly' THEN 24.0
                         WHEN 'daily' THEN 1.0
                         WHEN 'weekly' THEN 1.0 / 7.0
                         WHEN 'monthly' THEN 1.0 / 30.0
                         WHEN 'yearly' THEN 1.0 / 365.0
                         WHEN 'never' THEN 0.0
                         ELSE 0.1 END, 6) AS change_rate_prior
            FROM fields WHERE loc <> ''
        """,
        "contamination_report": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          unnest(list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                   FROM t WHERE len(w) >= 3),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
            per AS (SELECT sh.doc_id,
                           count(DISTINCT sh.s) AS n_shingles,
                           count(DISTINCT CASE WHEN bench.s IS NOT NULL
                                               THEN sh.s END) AS n_overlap
                    FROM sh LEFT JOIN bench ON sh.s = bench.s
                    GROUP BY sh.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(per.n_overlap, 0) AS BIGINT) AS n_overlap,
                   round(coalesce(per.n_overlap, 0)
                         / CAST(greatest(coalesce(per.n_shingles, 0), 1)
                                AS DOUBLE), 6) AS overlap_frac
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        "boilerplate": r"""
            WITH h AS (
                SELECT doc_id,
                       '<html><body><div class="nav"><a href="/">Home</a> '
                       || '<a href="/about">About our site</a></div><p>'
                       || text || '</p><h2>Doc ' || CAST(doc_id AS VARCHAR)
                       || '</h2><div><a href="/p1">first link</a> '
                       || '<a href="/p2">second link</a> '
                       || '<a href="/p3">third link here</a></div></body></html>'
                           AS html
                FROM documents),
            arrs AS (
                SELECT doc_id,
                       regexp_split_to_array(html,
                           '(?is)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|td|th'
                           || '|tr|table|section|article|header|footer|nav'
                           || '|aside|blockquote|pre|br|hr|form)\b[^>]*>')
                           AS arr
                FROM h),
            blocks AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(arr) + 1),
                           i -> {'block_no': i - 1, 'raw': arr[i]})) AS b
                FROM arrs),
            sig AS (
                SELECT doc_id, CAST(b.block_no AS INT) AS block_no,
                       trim(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               regexp_replace(regexp_replace(regexp_replace(
                                   regexp_replace(regexp_replace(b.raw,
                                       '(?s)<!--.*?-->', ' ', 'g'),
                                       '(?is)<head\b[^>]*>.*?</head>', ' ', 'g'),
                                       '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                                       '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                                       '(?s)<[^>]*>', ' ', 'g'),
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                           '\s+', ' ', 'g')) AS text,
                       coalesce(list_sum(list_transform(
                           regexp_extract_all(b.raw,
                               '(?is)<a\b[^>]*>(.*?)</a>', 1),
                           x -> len(trim(regexp_replace(regexp_replace(x,
                               '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))),
                           0) AS link_chars
                FROM blocks),
            toks AS (
                SELECT doc_id, block_no, text, link_chars,
                       list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   x -> x <> '') AS w
                FROM sig),
            scored AS (
                SELECT doc_id, block_no,
                       CAST(len(w) AS INT) AS n_words,
                       round(link_chars
                             / CAST(greatest(len(text), 1) AS DOUBLE), 6)
                           AS link_density,
                       round(len(list_filter(w, x -> lower(x) IN
                                 ('the', 'a', 'and', 'of', 'to')))
                             / CAST(greatest(len(w), 1) AS DOUBLE), 6)
                           AS stop_density,
                       text
                FROM toks)
            SELECT doc_id, block_no, n_words, link_density, stop_density,
                   CASE WHEN n_words < 5 THEN 'short'
                        WHEN link_density > 0.33 THEN 'nav'
                        WHEN stop_density >= 0.25 THEN 'good'
                        ELSE 'low_stop' END AS verdict,
                   text
            FROM scored
        """,
        "change_rate": r"""
            WITH s AS (SELECT doc_id, t.i FROM documents, range(4) t(i)),
            c AS (SELECT doc_id, i,
                         CASE WHEN i > 0
                              AND CAST(('0x' || substr(md5(
                                  CAST(doc_id AS VARCHAR) || ':chg:'
                                  || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                                  % 3 = 0
                              THEN 1 ELSE 0 END AS chg
                  FROM s),
            f AS (SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR)
                             || '.com/p' || CAST(doc_id AS VARCHAR) AS url,
                         DATE '2026-01-01'
                             + CAST(i * (1 + doc_id % 7) AS INTEGER)
                             AS fetch_ts,
                         'd' || CAST(sum(chg) OVER
                             (PARTITION BY doc_id ORDER BY i) AS VARCHAR)
                             AS digest
                  FROM c),
            steps AS (SELECT url,
                             date_diff('day',
                                 lag(fetch_ts) OVER
                                     (PARTITION BY url ORDER BY fetch_ts),
                                 fetch_ts) AS dt,
                             CASE WHEN digest <> lag(digest) OVER
                                     (PARTITION BY url ORDER BY fetch_ts)
                                  THEN 1 ELSE 0 END AS chg
                      FROM f),
            agg AS (SELECT url,
                           count(dt) AS n_intervals,
                           CAST(coalesce(sum(CASE WHEN dt IS NOT NULL
                                                  THEN chg END), 0)
                                AS BIGINT) AS n_changes,
                           avg(CAST(dt AS DOUBLE)) AS adt
                    FROM steps GROUP BY url)
            SELECT url, n_intervals, n_changes,
                   CASE WHEN n_intervals < 1 THEN 0.1
                        ELSE round(least(greatest(
                            -ln((n_intervals - n_changes + 0.5)
                                / (n_intervals + 0.5))
                            / greatest(adt, 1e-6), 0.0), 10.0), 6) + 0.0
                   END AS change_rate
            FROM agg
        """,
        "host_pagerank": _host_pagerank_oracle_sql(),
        "incremental_neardup": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                   FROM t WHERE len(w) >= 3),
            pairs AS (
                SELECT d.doc_id, c.doc_id AS cand,
                       len(list_intersect(d.s, c.s)) * 1.0
                           / len(list_distinct(list_concat(d.s, c.s))) AS j
                FROM sh d JOIN sh c
                  ON d.doc_id % 2 = 1
                 AND (c.doc_id % 2 = 0 OR c.doc_id < d.doc_id))
            SELECT doc_id, cand AS dup_of, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.5
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cand) = 1
        """,
        "dsir_select": r"""
            WITH tok AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   x -> x <> '') AS w
                FROM documents),
            feats AS (
                SELECT doc_id, lang,
                       unnest(w || list_transform(
                           list_zip(w[1:len(w)-1], w[2:len(w)]),
                           x -> x[1] || ' ' || x[2])) AS f
                FROM tok),
            fb AS (SELECT doc_id, lang,
                          CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
                              % 4096 AS b
                   FROM feats),
            cr AS (SELECT b, count(*) AS c FROM fb GROUP BY b),
            ct AS (SELECT b, count(*) AS c FROM fb WHERE lang = 'en'
                   GROUP BY b),
            tr AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cr),
            tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM ct),
            lr AS (SELECT cr.b,
                          ln((coalesce(ct.c, 0) + 1.0) / (tt.t + 4096.0))
                        - ln((cr.c + 1.0) / (tr.t + 4096.0)) AS logratio
                   FROM cr LEFT JOIN ct ON cr.b = ct.b
                   CROSS JOIN tr CROSS JOIN tt),
            dw AS (SELECT doc_id, count(*) AS n_feats,
                          round(sum(logratio), 6) AS dsir_logw
                   FROM fb JOIN lr ON fb.b = lr.b GROUP BY doc_id)
            SELECT doc_id, n_feats, dsir_logw,
                   round(dsir_logw - ln(-ln(
                       (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                            || ':dsir_gumbel:42'), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0)), 6) AS sel_score
            FROM dw
            ORDER BY sel_score DESC, doc_id
            LIMIT 100
        """,
        "lsh_ann": _lsh_ann_oracle_sql(),
        "embedding_neardup_lsh": _lsh_neardup_oracle_sql(),
        "ivf_ann": """
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv, n AS cn
                  FROM emb ORDER BY vec_id LIMIT 16),
            assign AS (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.cv)
                                          / (e.n * c.cn), 6)
                                    DESC, c.cid ASC) AS rnk
                FROM emb e CROSS JOIN c),
            cells AS (SELECT vec_id, cid FROM assign WHERE rnk = 1),
            qprobe AS (SELECT vec_id AS query_id, cid
                       FROM assign WHERE vec_id < 5 AND rnk <= 4),
            cand AS (
                SELECT DISTINCT q.query_id, m.vec_id AS neighbor_id
                FROM qprobe q JOIN cells m USING (cid)
                WHERE m.vec_id != q.query_id),
            scored AS (
                SELECT cand.query_id, cand.neighbor_id,
                       ROUND(list_dot_product(eq.v, ec.v) / (eq.n * ec.n), 6)
                           AS cos
                FROM cand
                JOIN emb eq ON eq.vec_id = cand.query_id
                JOIN emb ec ON ec.vec_id = cand.neighbor_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM (SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id ASC)
                             AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        # exact brute-force top-k: valid as the k-means IVF oracle because
        # the engine re-ranks by true cosine and (n_cells=8, n_probe=6)
        # achieves recall 1.0 on this fixture — see q_ivf_ann_kmeans
        "ivf_ann_kmeans": """
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv, n AS qn
                  FROM emb WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROUND(list_dot_product(q.qv, e.v) / (q.qn * e.n), 6)
                           AS cos
                FROM q CROSS JOIN emb e
                WHERE e.vec_id != q.query_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
            FROM (SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id ASC)
                             AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        "mime_count": f"""
            WITH cdx AS ({_CDX_VIEW_SQL})
            SELECT mime,
                   count(*) AS total,
                   CAST(sum(CASE WHEN coalesce(truncated,'') <> '' THEN 1 ELSE 0 END)
                        AS BIGINT) AS truncated,
                   CAST(count(*) - sum(CASE WHEN coalesce(truncated,'') <> '' THEN 1 ELSE 0 END)
                        AS BIGINT) AS non_truncated
            FROM cdx GROUP BY mime
        """,
        "selector": f"""
            WITH cdx AS ({_CDX_VIEW_SQL})
            SELECT event_id, url FROM cdx
            WHERE CAST(status AS VARCHAR) = '200'
              AND NOT regexp_matches(url, '/e/13')
              AND (mime_detected = 'click' OR mime_detected = 'view')
        """,
        "selector_null_semantics": f"""
            WITH cdx AS ({_CDX_VIEW_SQL})
            SELECT event_id FROM cdx
            WHERE NOT (truncated IS NOT NULL AND truncated = 'length')
        """,
        "budget_prefix": f"""
            WITH cdx AS ({_CDX_VIEW_SQL})
            SELECT event_id, url FROM (
                SELECT event_id, url,
                       row_number() OVER (ORDER BY event_id) AS rn
                FROM cdx) t
            WHERE rn < 1234
        """,
        "top_report": f"""
            WITH cdx AS ({_CDX_VIEW_SQL})
            SELECT mime, count(*) AS cnt FROM cdx GROUP BY mime
            ORDER BY cnt DESC, mime ASC
        """,
        "host_quota": """
            SELECT user_id, event_id, host_rank FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY value DESC, event_id ASC) AS host_rank
                FROM events) t
            WHERE host_rank <= 5
        """,
        "urlseen_antijoin": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_custkey % 4 <> 1)
        """,
        "urlseen_bucketed": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_custkey % 4 <> 1)
        """,
        "crawl_iteration": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR)
                           AS url,
                       'host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com' AS host,
                       user_id % 20 AS hk,
                       '/e/' || CAST(event_id AS VARCHAR) AS path,
                       value + event_id * 1e-9 AS priority
                FROM events),
            allowed AS (
                SELECT url, host, priority FROM seeds
                WHERE NOT (hk % 2 = 0 AND starts_with(path, '/e/1')
                           AND NOT starts_with(path, '/e/13'))),
            -- iteration 1: fresh buckets, avail = burst+rate*dt = 40,
            -- quota = least(100, floor(40)) = 40
            r1 AS (
                SELECT url, host, priority,
                       row_number() OVER (PARTITION BY host
                           ORDER BY priority DESC, url ASC) AS host_rank
                FROM allowed),
            b1 AS (SELECT url, host, host_rank FROM r1 WHERE host_rank <= 40),
            n1 AS (SELECT host, count(*) AS n FROM b1 GROUP BY host),
            -- iteration 2: frontier -= b1 (== seen filter, b1 is now seen);
            -- avail = least(40, (40 - n) + 30), fresh hosts least(40, 10+30)
            rem AS (
                SELECT a.url, a.host, a.priority FROM allowed a
                WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.url = a.url)),
            q2 AS (
                SELECT host,
                       CAST(least(100, floor(least(40.0,
                            coalesce(40.0 - n, 10.0) + 30.0))) AS INT) AS quota
                FROM (SELECT DISTINCT host FROM rem) h LEFT JOIN n1 USING (host)),
            r2 AS (
                SELECT url, host, priority,
                       row_number() OVER (PARTITION BY host
                           ORDER BY priority DESC, url ASC) AS host_rank
                FROM rem),
            b2 AS (SELECT r2.url, r2.host, r2.host_rank FROM r2
                   JOIN q2 USING (host) WHERE host_rank <= q2.quota)
            SELECT CAST(1 AS INT) AS iter, url, host,
                   CAST(host_rank AS INT) AS host_rank FROM b1
            UNION ALL
            SELECT CAST(2 AS INT) AS iter, url, host,
                   CAST(host_rank AS INT) AS host_rank FROM b2
        """,
        # crawl_iteration_full: blocklist gate (hk%7==3 never scheduled),
        # iteration-2 backoff halving for the all-failing host1, and
        # outlink discovery (eid%10==0 -> linked.example.com at prio 0.4,
        # fresh token bucket) — recomputed arithmetically
        "crawl_iteration_full": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR)
                           AS url,
                       'host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com' AS host,
                       user_id % 20 AS hk,
                       event_id AS eid,
                       value + event_id * 1e-9 AS priority
                FROM events),
            unblocked AS (SELECT * FROM seeds WHERE hk % 7 <> 3),
            r1 AS (
                SELECT url, host, eid, priority,
                       row_number() OVER (PARTITION BY host
                           ORDER BY priority DESC, url ASC) AS host_rank
                FROM unblocked),
            b1 AS (SELECT url, host, eid, host_rank FROM r1
                   WHERE host_rank <= 40),
            n1 AS (SELECT host, count(*) AS n FROM b1 GROUP BY host),
            links AS (
                SELECT DISTINCT 'https://linked.example.com/l/'
                           || CAST(eid AS VARCHAR) AS url
                FROM b1 WHERE eid % 10 = 0),
            rem AS (
                SELECT u.url, u.host, u.priority FROM unblocked u
                WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.url = u.url)
                UNION ALL
                SELECT url, 'linked.example.com' AS host, 0.4 AS priority
                FROM links),
            q2 AS (
                SELECT host,
                       CAST(least(100, floor(least(40.0,
                            coalesce(40.0 - n, 10.0) + 30.0))) AS INT)
                           AS base_quota
                FROM (SELECT DISTINCT host FROM rem) h
                LEFT JOIN n1 USING (host)),
            q2b AS (
                SELECT host,
                       CASE WHEN host = 'host1.example.com'
                            THEN CAST(floor(base_quota / 2.0) AS INT)
                            ELSE base_quota END AS quota
                FROM q2),
            r2 AS (
                SELECT url, host, priority,
                       row_number() OVER (PARTITION BY host
                           ORDER BY priority DESC, url ASC) AS host_rank
                FROM rem),
            b2 AS (SELECT r2.url, r2.host, r2.host_rank FROM r2
                   JOIN q2b USING (host) WHERE host_rank <= q2b.quota)
            SELECT CAST(1 AS INT) AS iter, url, host,
                   CAST(host_rank AS INT) AS host_rank FROM b1
            UNION ALL
            SELECT CAST(2 AS INT) AS iter, url, host,
                   CAST(host_rank AS INT) AS host_rank FROM b2
        """,
        # token_budget_mix: seeded-md5 order per stratum, keep while the
        # exclusive token prefix is under the stratum budget (the crossing
        # doc is included); budgets en 5000 / de 10000 / zh 0, default 2000
        "token_budget_mix": r"""
            WITH t AS (
                SELECT doc_id, lang,
                       CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR) || ':budget:42') AS k
                FROM documents),
            c AS (
                SELECT doc_id, lang, n_tokens,
                       CAST(sum(n_tokens) OVER (PARTITION BY lang
                           ORDER BY k, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) - n_tokens AS cum_tokens_before
                FROM t)
            SELECT doc_id, lang, n_tokens, cum_tokens_before
            FROM c
            WHERE cum_tokens_before < CASE lang
                WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                WHEN 'zh' THEN 0 ELSE 2000 END
        """,
        # mean_pool: element-wise mean per group (vec_id%50), exploded
        # to per-dimension scalars; posexplode's i is 0-based
        "mean_pool": """
            WITH e AS (
                SELECT vec_id % 50 AS doc_id,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
            n AS (SELECT doc_id, count(*) AS n_vectors FROM e GROUP BY doc_id),
            u AS (
                SELECT doc_id, i, round(avg(v[i]), 6) AS val
                FROM e, range(1, 65) t(i)
                GROUP BY doc_id, i)
            SELECT u.doc_id, n.n_vectors,
                   CAST(u.i - 1 AS INT) AS i, u.val
            FROM u JOIN n USING (doc_id)
        """,
        # span_assembly: two text spans (split at char 40) + doc_id%3
        # media spans; offsets contiguous except doc_id%7==0 (gap ->
        # order_ok false); clean_text reassembles to the original text
        "span_assembly": """
            SELECT doc_id,
                   text AS clean_text,
                   CAST(2 + (doc_id % 3) AS INT) AS n_spans,
                   CAST(2 AS INT) AS n_text,
                   CAST(doc_id % 3 AS INT) AS n_media,
                   CAST(length(text) AS INT) AS text_chars,
                   (doc_id % 7 <> 0) AS order_ok,
                   coalesce(array_to_string(
                       list_transform(range(1, CAST(doc_id % 3 AS INT) + 1),
                           i -> 'img://' || CAST(doc_id AS VARCHAR)
                                || '/' || CAST(i AS VARCHAR)),
                       ','), '') AS media_csv
            FROM documents
        """,
        "gopher_quality": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM documents),
            base AS (SELECT doc_id, t, len(t) AS n FROM toks),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, n),
                                             i -> t[i] || ' ' || t[i+1])) AS g
                FROM base WHERE n >= 2),
            modal AS (
                SELECT doc_id, max(cnt) AS best
                FROM (SELECT doc_id, g, count(*) AS cnt
                      FROM grams GROUP BY doc_id, g)
                GROUP BY doc_id),
            feats AS (
                SELECT b.doc_id, b.n,
                       CASE WHEN n > 0 THEN
                            list_sum(list_transform(t, x -> length(x)))
                                * 1.0 / n ELSE 0.0 END AS mean_word_len,
                       CASE WHEN n > 0 THEN
                            len(list_distinct(t)) * 1.0 / n
                       ELSE 0.0 END AS distinct_frac,
                       CASE WHEN n >= 2 THEN
                            coalesce(m.best, 0) * 1.0 / (n - 1)
                       ELSE 0.0 END AS top2gram_frac,
                       CASE WHEN n > 0 THEN
                            len(list_filter(t,
                                x -> regexp_matches(x, '[A-Za-z]')))
                                * 1.0 / n ELSE 0.0 END AS alpha_word_frac
                FROM base b LEFT JOIN modal m USING (doc_id))
            SELECT doc_id, CAST(n AS INT) AS n_words,
                   ROUND(mean_word_len, 4) AS mean_word_len,
                   ROUND(distinct_frac, 4) AS distinct_frac,
                   ROUND(top2gram_frac, 4) AS top2gram_frac,
                   ROUND(alpha_word_frac, 4) AS alpha_word_frac,
                   (n >= 50 AND n <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND distinct_frac >= 0.30
                    AND top2gram_frac <= 0.20
                    AND alpha_word_frac >= 0.80) AS gopher_pass
            FROM feats
        """,
        "html_extract": """
            WITH h AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                       || ' &amp; Co</title><style>p { color: red; }</style></head>'
                       || '<body><!-- header --><h1>Doc '
                       || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
                       || '</p><script type="text/javascript">var x = "<p>";</script>'
                       || '<div class="footer">from ' || source
                       || ' &lt;archived&gt;</div></body></html>' AS html
                FROM documents),
            stripped AS (
                SELECT doc_id, html,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(regexp_replace(html,
                               '(?s)<!--.*?-->', ' ', 'g'),
                               '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g'),
                               '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                               '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                               '(?s)<[^>]*>', ' ', 'g') AS detagged
                FROM h),
            decoded AS (
                SELECT doc_id, html,
                       trim(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               detagged,
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                           '\\s+', ' ', 'g')) AS body
                FROM stripped)
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_extract(html,
                           '(?is)<title[^>]*>(.*?)</title>', 1),
                       '\\s+', ' ', 'g')) AS title,
                   body AS body_text,
                   CAST(length(body) AS INT) AS n_chars_clean
            FROM decoded
        """,
        "pii_scrub": """
            WITH salted AS (
                SELECT doc_id,
                       'contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST(doc_id % 200 AS VARCHAR)
                       || ' tel +1 415 555 '
                       || CAST(doc_id + 100000 AS VARCHAR)
                       || ' :: ' || text AS text
                FROM documents),
            -- n_redactions = pattern matches at each stage (counted on
            -- that stage's input), never placeholder occurrences in the
            -- final text — a pre-existing literal '[EMAIL]' is not a
            -- redaction
            s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))
                           AS n_e,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
                           '[EMAIL]', 'g') AS t1
                FROM salted),
            s2 AS (
                SELECT doc_id, n_e,
                       len(regexp_extract_all(t1,
                           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_i,
                       regexp_replace(t1,
                           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g') AS t2
                FROM s1),
            s3 AS (
                SELECT doc_id, n_e, n_i,
                       len(regexp_extract_all(t2,
                           '\\+?\\b\\d(?:[ .\\-]?\\d){8,14}\\b')) AS n_p,
                       regexp_replace(t2,
                           '\\+?\\b\\d(?:[ .\\-]?\\d){8,14}\\b', '[PHONE]', 'g')
                           AS t
                FROM s2)
            SELECT doc_id, t AS text,
                   CAST(n_e + n_i + n_p AS INT) AS n_redactions
            FROM s3
        """,
        "link_extract": """
            SELECT doc_id,
                   'https://ext.example.org/a' || CAST(doc_id AS VARCHAR)
                       AS url
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'https://site' || CAST(doc_id % 10 AS VARCHAR)
                   || '.example.com/local/' || CAST(doc_id AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'https://cdn.example.net/c' || CAST(doc_id AS VARCHAR)
            FROM documents
        """,
        "frontier_schedule": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 50 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR)
                           AS url,
                       'host' || CAST(user_id % 50 AS VARCHAR)
                           || '.example.com' AS host,
                       value AS priority, event_id
                FROM events),
            unseen AS (
                SELECT * FROM seeds s
                WHERE NOT EXISTS (SELECT 1 FROM seeds t
                                  WHERE t.event_id % 7 = 0 AND t.url = s.url)),
            ranked AS (
                SELECT url, host, priority + 0.0 AS eff,
                       ROW_NUMBER() OVER (PARTITION BY host
                                          ORDER BY priority DESC, url ASC)
                           AS host_rank
                FROM unseen)
            SELECT url, host, CAST(host_rank AS INTEGER) AS host_rank,
                   ROUND(eff, 6) AS effective_priority
            FROM ranked WHERE host_rank <= 20
        """,
        "frontier_schedule_diet": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 50 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR)
                           AS url,
                       'host' || CAST(user_id % 50 AS VARCHAR)
                           || '.example.com' AS host,
                       value + event_id * 1e-9 AS priority, event_id
                FROM events),
            unseen AS (
                SELECT * FROM seeds s
                WHERE NOT EXISTS (SELECT 1 FROM seeds t
                                  WHERE t.event_id % 7 = 0 AND t.url = s.url)),
            ranked AS (
                SELECT url, host, priority + 0.0 AS eff,
                       ROW_NUMBER() OVER (PARTITION BY host
                                          ORDER BY priority DESC, url ASC)
                           AS host_rank
                FROM unseen)
            SELECT url, host, CAST(host_rank AS INTEGER) AS host_rank,
                   ROUND(eff, 6) AS effective_priority
            FROM ranked WHERE host_rank <= 20
        """,
        "dedup_exact": """
            SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "token_count": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
            FROM documents
        """,
        "quality_score": rf"""
            SELECT doc_id,
                   length(text) AS n_chars_q,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
                   round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w IN ({stop_list}))) * 1.0
                         / len(regexp_split_to_array(trim(text), '\s+')), 4)
                       AS stopword_ratio
            FROM documents
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_revenue": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "region_revenue": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "sessionize": """
            SELECT user_id,
                   CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM (
                SELECT user_id,
                       CASE WHEN prev_ts IS NULL
                                 OR date_diff('second', prev_ts, ts) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM (
                    SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_ts
                    FROM events) a) b
            GROUP BY user_id
        """,
        "knn_cosine": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5
            ), scored AS (
                SELECT q.query_id, v.vec_id AS neighbor_id,
                       round(
                           list_sum(list_transform(range(1, 65),
                               i -> qv[i] * v.v[i]))
                           / (sqrt(list_sum(list_transform(range(1, 65),
                                  i -> qv[i] * qv[i])))
                              * sqrt(list_sum(list_transform(range(1, 65),
                                  i -> v.v[i] * v.v[i])))), 6) AS cos_sim
                FROM q CROSS JOIN v
                WHERE v.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored) t
            WHERE rank <= 3
        """,
        "lang_breakdown": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "ngram_jaccard": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                   FROM t WHERE len(w) >= 3)
            SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       len(list_intersect(a.s, b.s)) * 1.0
                           / len(list_distinct(list_concat(a.s, b.s))) AS j
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
            WHERE j >= 0.2
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                   FROM t WHERE len(w) >= 3),
            p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s)) * 1.0
                        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
            e AS (SELECT doc_a AS a, doc_b AS b FROM p
                  UNION ALL
                  SELECT doc_b AS a, doc_a AS b FROM p),
            reach(node, m) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.node
            )
            SELECT node AS doc_id, MIN(m) AS cluster_id
            FROM reach GROUP BY node
        """,
        "corpus_clean": r"""
            WITH RECURSIVE t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                   FROM t WHERE len(w) >= 3),
            p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s)) * 1.0
                        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
            e AS (SELECT doc_a AS a, doc_b AS b FROM p
                  UNION ALL
                  SELECT doc_b AS a, doc_a AS b FROM p),
            reach(node, m) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.a, r.m FROM e JOIN reach r ON e.b = r.node
            ),
            clusters AS (SELECT node AS doc_id, MIN(m) AS cluster_id
                         FROM reach GROUP BY node),
            exemplars AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
            keepers AS (SELECT doc_id FROM (
                            SELECT doc_id,
                                   min(doc_id) OVER (PARTITION BY md5(text))
                                       AS keep
                            FROM documents) WHERE doc_id = keep),
            s AS (SELECT doc_id,
                round(len(list_filter(w, x -> x IN ('the','a','and','of','to')))
                      * 1.0 / len(w), 6) AS s_en,
                round(len(list_filter(w, x -> x IN ('der','die','das','und','nicht')))
                      * 1.0 / len(w), 6) AS s_de,
                round(len(list_filter(w, x -> x IN ('el','la','los','que','y')))
                      * 1.0 / len(w), 6) AS s_es,
                round(len(list_filter(w, x -> x IN ('le','la','les','et','est')))
                      * 1.0 / len(w), 6) AS s_fr,
                round(len(list_filter(w, x -> x IN ('的','是','了','在','我')))
                      * 1.0 / len(w), 6) AS s_zh
                FROM t),
            f1 AS (SELECT doc_id, s_es, s_fr, s_zh,
                          CASE WHEN s_de > s_en THEN 'de' ELSE 'en' END AS pl,
                          CASE WHEN s_de > s_en THEN s_de ELSE s_en END AS b
                   FROM s),
            f2 AS (SELECT doc_id, s_fr, s_zh,
                          CASE WHEN s_es > b THEN 'es' ELSE pl END AS pl,
                          CASE WHEN s_es > b THEN s_es ELSE b END AS b
                   FROM f1),
            f3 AS (SELECT doc_id, s_zh,
                          CASE WHEN s_fr > b THEN 'fr' ELSE pl END AS pl,
                          CASE WHEN s_fr > b THEN s_fr ELSE b END AS b
                   FROM f2),
            f4 AS (SELECT doc_id,
                          CASE WHEN s_zh > b THEN 'zh' ELSE pl END AS pl
                   FROM f3),
            langs AS (SELECT doc_id, pl AS pred_lang FROM f4),
            quality AS (SELECT doc_id, len(w) AS n_words FROM t)
            SELECT k.doc_id, pred_lang, n_words
            FROM keepers k
            JOIN exemplars USING (doc_id)
            JOIN langs USING (doc_id)
            JOIN quality USING (doc_id)
            WHERE pred_lang = 'en' AND n_words >= 30
        """,
        "embedding_neardup": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_sum(list_transform(range(1, 65),
                           i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS n
                FROM embeddings)
            SELECT id_a, id_b, cos_sim FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_sum(list_transform(range(1, 65),
                               i -> a.v[i] * b.v[i])) / (a.n * b.n), 6) AS cos_sim
                FROM v a JOIN v b ON a.vec_id < b.vec_id) p
            WHERE cos_sim >= 0.4
        """,
        "fingerprint": r"""
            WITH t AS (SELECT doc_id,
                              list_transform(regexp_split_to_array(trim(text), '\s+'),
                                  w -> md5(w)) AS h
                       FROM documents),
            w AS (SELECT doc_id,
                         list_distinct(list_transform(
                             range(1, greatest(len(h) - 4, 0) + 1),
                             i -> list_aggregate(h[i:i+4], 'min'))) AS fp
                  FROM t)
            SELECT doc_id, len(fp) AS n_fingerprints,
                   list_aggregate(fp, 'min') AS min_fingerprint
            FROM w WHERE len(fp) > 0
        """,
        "duplicate_spans": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000 AS doc_id,
                       text || ' twin suffix tokens' AS text
                FROM documents WHERE doc_id % 25 = 0),
            tk AS (SELECT doc_id,
                          regexp_split_to_array(trim(text), '\s+') AS w
                   FROM corpus),
            g AS (SELECT doc_id,
                         list_transform(
                             range(1, greatest(len(w) - 4, 0) + 1),
                             i -> md5(array_to_string(w[i:i+4], ' '))) AS gh
                  FROM tk),
            f AS (SELECT doc_id,
                         list_distinct(list_transform(
                             range(1, greatest(len(gh) - 3, 0) + 1),
                             i -> list_aggregate(gh[i:i+3], 'min'))) AS fp
                  FROM g),
            e AS (SELECT doc_id, unnest(fp) AS f FROM f),
            keep AS (SELECT f FROM e GROUP BY f
                     HAVING count(*) >= 2 AND count(*) <= 50),
            pe AS (SELECT e.doc_id, e.f FROM e JOIN keep ON e.f = keep.f)
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   count(*) AS n_shared
            FROM pe a JOIN pe b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        """,
        "pack_sequences": r"""
            WITH t AS (SELECT doc_id,
                              len(regexp_split_to_array(trim(text), '\s+'))
                                  AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              - n_tokens AS BIGINT) AS "offset"
                  FROM t WHERE n_tokens > 0)
            SELECT doc_id, n_tokens, "offset",
                   "offset" // 512 AS seq_first,
                   ("offset" + n_tokens - 1) // 512 AS seq_last
            FROM c
        """,
        "shard_manifest": r"""
            WITH t AS (SELECT doc_id,
                              len(regexp_split_to_array(trim(text), '\s+'))
                                  AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              - n_tokens AS BIGINT) AS "offset"
                  FROM t WHERE n_tokens > 0),
            p AS (SELECT doc_id, "offset" // 512 AS s0,
                         ("offset" + n_tokens - 1) // 512 AS s1
                  FROM c),
            e AS (SELECT doc_id, unnest(generate_series(s0, s1)) AS seq_id
                  FROM p)
            SELECT seq_id, count(*) AS n_docs, min(doc_id) AS first_doc,
                   max(doc_id) AS last_doc
            FROM e GROUP BY seq_id
        """,
        "line_dedup": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000 AS doc_id,
                       text || ' twin suffix tokens' AS text
                FROM documents WHERE doc_id % 25 = 0),
            tk AS (SELECT doc_id,
                          regexp_split_to_array(trim(text), '\s+') AS w
                   FROM corpus),
            ln AS (SELECT doc_id, i AS line_no,
                          array_to_string(w[(i*10+1):(i*10+10)], ' ') AS line
                   FROM tk,
                        unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)))
                            AS t(i)),
            mk AS (SELECT doc_id, line_no, line,
                          row_number() OVER (PARTITION BY md5(line)
                                             ORDER BY doc_id, line_no) AS rn
                   FROM ln)
            SELECT doc_id,
                   coalesce(string_agg(line, ' ' ORDER BY line_no)
                                FILTER (WHERE rn = 1), '') AS clean_text,
                   count(*) FILTER (WHERE rn = 1) AS n_kept,
                   count(*) FILTER (WHERE rn <> 1) AS n_dropped
            FROM mk GROUP BY doc_id
        """,
        "unigram_logprob": r"""
            WITH tok AS (SELECT doc_id,
                                unnest(regexp_split_to_array(trim(text), '\s+'))
                                    AS w
                         FROM documents),
            freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(-ln(c / t)), 6) AS unigram_nll
            FROM tok JOIN freq USING (w) CROSS JOIN tot
            GROUP BY doc_id
        """,
        "streaming_dedup": r"""
            WITH corpus AS (
                SELECT text FROM documents
                UNION ALL
                SELECT text FROM documents WHERE doc_id % 25 = 0)
            SELECT md5(text) AS digest, count(*) AS n_docs
            FROM corpus GROUP BY md5(text)
        """,
        "corpus_stats": r"""
            WITH t AS (SELECT lang,
                              len(regexp_split_to_array(trim(text), '\s+'))
                                  AS n_tokens
                       FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
                   round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
            FROM t GROUP BY lang
        """,
        "lang_id": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            s AS (SELECT doc_id,
                round(len(list_filter(w, x -> x IN ('the','a','and','of','to')))
                      * 1.0 / len(w), 6) AS s_en,
                round(len(list_filter(w, x -> x IN ('der','die','das','und','nicht')))
                      * 1.0 / len(w), 6) AS s_de,
                round(len(list_filter(w, x -> x IN ('el','la','los','que','y')))
                      * 1.0 / len(w), 6) AS s_es,
                round(len(list_filter(w, x -> x IN ('le','la','les','et','est')))
                      * 1.0 / len(w), 6) AS s_fr,
                round(len(list_filter(w, x -> x IN ('的','是','了','在','我')))
                      * 1.0 / len(w), 6) AS s_zh
                FROM t),
            f1 AS (SELECT doc_id, s_es, s_fr, s_zh,
                          CASE WHEN s_de > s_en THEN 'de' ELSE 'en' END AS p,
                          CASE WHEN s_de > s_en THEN s_de ELSE s_en END AS b
                   FROM s),
            f2 AS (SELECT doc_id, s_fr, s_zh,
                          CASE WHEN s_es > b THEN 'es' ELSE p END AS p,
                          CASE WHEN s_es > b THEN s_es ELSE b END AS b
                   FROM f1),
            f3 AS (SELECT doc_id, s_zh,
                          CASE WHEN s_fr > b THEN 'fr' ELSE p END AS p,
                          CASE WHEN s_fr > b THEN s_fr ELSE b END AS b
                   FROM f2),
            f4 AS (SELECT doc_id,
                          CASE WHEN s_zh > b THEN 'zh' ELSE p END AS p,
                          CASE WHEN s_zh > b THEN s_zh ELSE b END AS b
                   FROM f3)
            SELECT doc_id, p AS pred_lang, round(b, 6) AS lang_score FROM f4
        """,
        "decontaminate": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          unnest(list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                   FROM t WHERE len(w) >= 3),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
            ov AS (SELECT sh.doc_id, count(DISTINCT sh.s) AS n_overlap
                   FROM sh JOIN bench ON sh.s = bench.s
                   GROUP BY sh.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                   coalesce(ov.n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        """,
        "recrawl_priority": """
            WITH hist AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
                       'host' || CAST(user_id % 20 AS VARCHAR) || '.example.com' AS host,
                       value / 100.0 AS priority,
                       ts AS last_fetch_ts
                FROM events),
            scored AS (
                SELECT host, url,
                       round(1.0 - exp(-0.05 * greatest(
                           date_diff('day', last_fetch_ts, TIMESTAMP '2026-01-01 00:00:00'),
                           0)), 6) AS recrawl_score,
                       priority
                FROM hist),
            eff AS (
                SELECT host, url, recrawl_score,
                       round(coalesce(priority, 0) + recrawl_score, 6)
                           AS effective_priority
                FROM scored)
            SELECT host, url, recrawl_score, effective_priority, rank FROM (
                SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY effective_priority DESC, url ASC) AS rank
                FROM eff) t
            WHERE rank <= 3
        """,
        "media_classify": """
            SELECT doc_id AS media_id,
                   CAST(CASE WHEN doc_id % 4 = 1 THEN 4
                             WHEN doc_id % 4 = 3 THEN 12
                             ELSE 3 END
                        + octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CASE WHEN doc_id % 4 = 2 THEN 'audio'
                        WHEN doc_id % 4 = 3 THEN 'video'
                        ELSE 'image' END AS kind
            FROM documents
        """,
        "robots_filter": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
                       user_id % 20 AS hk,
                       '/e/' || CAST(event_id AS VARCHAR) AS path
                FROM events)
            SELECT url FROM seeds
            WHERE NOT (hk % 2 = 0 AND starts_with(path, '/e/1')
                       AND NOT starts_with(path, '/e/13'))
        """,
        "robots_wildcards": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
                       user_id % 20 AS hk,
                       '/e/' || CAST(event_id AS VARCHAR) AS path
                FROM events),
            m AS (
                SELECT url, hk,
                       CASE WHEN starts_with(path, '/e/1') THEN 4 ELSE 0 END AS d1,
                       CASE WHEN regexp_matches(path, '^/e/.*9$') THEN 6
                            ELSE 0 END AS d2,
                       CASE WHEN starts_with(path, '/e/13') THEN 5 ELSE 0 END AS a1,
                       CASE WHEN regexp_matches(path, '^/e/1.*9') THEN 6
                            ELSE 0 END AS a2
                FROM seeds)
            SELECT url FROM m
            WHERE NOT (hk % 2 = 0 AND greatest(d1, d2) > greatest(a1, a2))
        """,
        "urlseen_blocked": """
            WITH seeds AS (
                SELECT 'https://host' || CAST(user_id % 20 AS VARCHAR)
                           || '.example.com/e/' || CAST(event_id AS VARCHAR) AS url,
                       event_id
                FROM events)
            SELECT url FROM seeds WHERE event_id % 7 <> 0
        """,
        "minhash_lsh": r"""
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                       FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                   FROM t WHERE len(w) >= 3)
            SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.s, b.s)) * 1.0
                           / len(list_distinct(list_concat(a.s, b.s))) AS j
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
            WHERE j >= 0.5
        """,
        "simhash_neardup": r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS hi,
                       CAST(('0x' || substr(md5(w), 9, 8)) AS BIGINT) AS lo
                FROM toks
            ),
            votes AS (
                SELECT doc_id, b.bit AS bit,
                       sum(CASE WHEN (CASE WHEN b.bit < 32
                                           THEN (lo >> b.bit) & 1
                                           ELSE (hi >> (b.bit - 32)) & 1 END) = 1
                                THEN 1 ELSE -1 END) > 0 AS s
                FROM h CROSS JOIN range(64) AS b(bit)
                GROUP BY doc_id, b.bit
            )
            SELECT id_a, id_b, CAST(hd AS INTEGER) AS hamming FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS hd
                FROM votes a JOIN votes b ON a.bit = b.bit AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id) p
            WHERE hd <= 3
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                            '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))
                        + list_sum(list_transform(
                              regexp_extract_all(text,
                                  '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'),
                              p -> greatest(CAST(ceil(length(p) / 6.0) AS INT) - 1,
                                            0))) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "repetition_signals": _repetition_oracle_sql(),
        # mix_corpus: the md5 gate is the same arithmetic in both engines
        # (first 8 hex chars of md5('<id>:mix:42') over 2^32 < frac(rate));
        # full epochs come from range(n_copies), downsampled/zero-rate rows
        # vanish because unnest of an empty list removes the row.
        "mix_corpus": r"""
            WITH d AS (
                SELECT doc_id, lang,
                       CASE lang WHEN 'de' THEN 2.25
                                 WHEN 'en' THEN 0.5
                                 ELSE 1.0 END AS rate,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                || ':mix:42'), 1, 8))
                            AS BIGINT) / 4294967296.0 AS u
                FROM documents),
            n AS (SELECT doc_id, lang,
                         CAST(floor(rate) AS INT)
                         + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END
                             AS nc
                  FROM d)
            SELECT doc_id, lang,
                   CAST(unnest(range(nc)) AS BIGINT) AS copy_idx
            FROM n
        """,
        "shard_shuffle": r"""
            WITH d AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                || ':shard:42'), 1, 8))
                            AS BIGINT) % 8 AS shard_id,
                       md5(CAST(doc_id AS VARCHAR) || ':order:42') AS ord
                FROM documents)
            SELECT doc_id, shard_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
                                           ORDER BY ord, doc_id) - 1
                        AS BIGINT) AS pos_in_shard
            FROM d
        """,
        # semdedup: cell assignment == ivf_ann's lowid quantizer oracle;
        # within-cell pairs at cosine>=0.4 (rounded 6dp, both engines),
        # connected components via the same recursive-CTE pattern as
        # dedup_clusters, exemplar = smallest component member.
        "semdedup": r"""
            WITH RECURSIVE emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv, n AS cn
                  FROM emb ORDER BY vec_id LIMIT 16),
            assign AS (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.cv)
                                          / (e.n * c.cn), 6)
                                    DESC, c.cid ASC) AS rnk
                FROM emb e CROSS JOIN c),
            cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rnk = 1),
            p AS (SELECT ca.vec_id AS ia, cb.vec_id AS ib
                  FROM cells ca
                  JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
                  JOIN emb a ON a.vec_id = ca.vec_id
                  JOIN emb b ON b.vec_id = cb.vec_id
                  WHERE ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6)
                        >= 0.4),
            e2 AS (SELECT ia AS a, ib AS b FROM p
                   UNION ALL
                   SELECT ib AS a, ia AS b FROM p),
            reach(node, m) AS (
                SELECT vec_id, vec_id FROM emb
                UNION
                SELECT e2.a, r.m FROM e2 JOIN reach r ON e2.b = r.node
            ),
            cl AS (SELECT node AS vec_id, MIN(m) AS cluster_id
                   FROM reach GROUP BY node)
            SELECT cl.vec_id, cells.cell, cl.cluster_id,
                   cl.vec_id = cl.cluster_id AS kept
            FROM cl JOIN cells ON cl.vec_id = cells.vec_id
        """,
        # tfidf: smoothed sklearn idf, rank on the ROUNDED score so
        # summation-order ulps can't flip a tie between engines
        "tfidf_topk": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS w
                FROM documents),
            dt AS (SELECT doc_id, w, count(*) AS tf
                   FROM toks GROUP BY doc_id, w),
            dfq AS (SELECT w, count(*) AS df FROM dt GROUP BY w),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
            scored AS (
                SELECT doc_id, dt.w AS term, tf,
                       ROUND(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
                                   + 1.0), 6) AS score
                FROM dt JOIN dfq USING (w) CROSS JOIN n),
            r AS (SELECT *,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY score DESC, term ASC)
                             AS rank
                  FROM scored)
            SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """,
        # normalize_text: same deterministic messing (doc_id % 3), then
        # DuckDB's utf8proc NFC vs Python's unicodedata NFC — both UAX
        # #15 — followed by the identical three regex passes + trim
        "normalize_text": r"""
            WITH messy AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0
                                THEN replace(text, ' ', '  ')
                            WHEN doc_id % 3 = 1
                                THEN replace(text, ' ', chr(13) || chr(10))
                            ELSE text END AS text
                FROM documents),
            n AS (
                SELECT doc_id, text,
                       trim(regexp_replace(
                           regexp_replace(
                               regexp_replace(nfc_normalize(text),
                                              '\r\n?', chr(10), 'g'),
                               '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                           '[ \t]+', ' ', 'g')) AS norm_text
                FROM messy)
            SELECT doc_id, norm_text, norm_text <> text AS changed FROM n
        """,
        # holdout_split: the engine's md5 lane arithmetic verbatim —
        # first 8 hex chars of md5('<id>:split:42') over 2^32 into
        # cumulative buckets
        "holdout_split": r"""
            SELECT doc_id,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                  || ':split:42'), 1, 8))
                              AS BIGINT) / 4294967296.0 AS u
                  FROM documents)
        """,
        # blocklist: suffix semantics re-derived as host = domain OR
        # host LIKE '%.domain'; longest matching domain wins (the
        # engine's most-specific-suffix rule expressed differently)
        "blocklist": r"""
            WITH cand AS (
                SELECT 'https://host' || (user_id % 20)
                           || '.example.com/e/' || event_id AS url,
                       CASE WHEN event_id % 2 = 0 THEN 'www.' ELSE '' END
                           || 'host' || (user_id % 20) || '.example.com'
                           AS host
                FROM events),
            bl(domain, category) AS (VALUES
                ('host3.example.com', 'spam'),
                ('host7.example.com', 'ads'),
                ('www.host7.example.com', 'tracker')),
            m AS (
                SELECT cand.url, cand.host, bl.domain, bl.category,
                       ROW_NUMBER() OVER (
                           PARTITION BY cand.url
                           ORDER BY length(bl.domain) DESC NULLS LAST)
                           AS rnk
                FROM cand LEFT JOIN bl
                  ON cand.host = bl.domain
                  OR cand.host LIKE '%.' || bl.domain)
            SELECT url, host, domain IS NOT NULL AS blocked,
                   domain AS block_domain, category AS block_category
            FROM m WHERE rnk = 1
        """,
        # ivfpq: full index rebuild — lowid centroids (cosine assignment,
        # the ivf_ann rule), lowid codebook subvectors, per-subspace
        # rounded squared-L2 encode/LUT, ADC summed IN SUBSPACE ORDER
        # (list(d ORDER BY s) -> list_sum) to mirror the engine's
        # sequential fold before the final 6-dp round
        "ivfpq_ann": """
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv, n AS cn
                  FROM emb ORDER BY vec_id LIMIT 16),
            assign AS (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.cv)
                                          / (e.n * c.cn), 6) DESC,
                                    c.cid ASC) AS rnk
                FROM emb e CROSS JOIN c),
            cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rnk = 1),
            probes AS (SELECT vec_id AS query_id, cid AS cell
                       FROM assign WHERE vec_id < 5 AND rnk <= 4),
            cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v
                   FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 16)),
            sub AS (SELECT unnest(range(8)) AS s),
            dist AS (
                SELECT e.vec_id, sub.s, cb.code,
                       ROUND(list_sum(list_transform(range(1, 9),
                           i -> pow(e.v[CAST(sub.s * 8 + i AS INT)]
                                    - cb.v[CAST(sub.s * 8 + i AS INT)],
                                    2))), 6) AS d
                FROM emb e CROSS JOIN sub CROSS JOIN cb),
            enc AS (SELECT vec_id, s, code FROM (
                        SELECT vec_id, s, code,
                               ROW_NUMBER() OVER (
                                   PARTITION BY vec_id, s
                                   ORDER BY d ASC, code ASC) AS rnk
                        FROM dist) WHERE rnk = 1),
            cand AS (
                SELECT p.query_id, cells.vec_id AS neighbor_id
                FROM probes p JOIN cells ON p.cell = cells.cell
                WHERE cells.vec_id != p.query_id),
            adc AS (
                SELECT cand.query_id, cand.neighbor_id,
                       ROUND(list_sum(list(lut.d ORDER BY enc.s)), 6) AS adc
                FROM cand
                JOIN enc ON enc.vec_id = cand.neighbor_id
                JOIN dist lut ON lut.vec_id = cand.query_id
                             AND lut.s = enc.s AND lut.code = enc.code
                GROUP BY cand.query_id, cand.neighbor_id),
            r AS (SELECT query_id, neighbor_id, adc,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adc ASC,
                                                     neighbor_id ASC) AS rank
                  FROM adc)
            SELECT query_id, neighbor_id, adc, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """,
        # chunking: stride = 32 - 8 = 24; ceil((n-8)/24) chunks (min 1
        # for non-empty docs); list_slice is 1-based inclusive, clipped
        # at the end exactly like Spark's slice
        "chunk_documents": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   x -> x <> '') AS w
                FROM documents),
            n AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
            c AS (SELECT doc_id, w, n,
                         unnest(range(greatest(
                             CAST(ceil(CAST(n - 8 AS DOUBLE) / 24) AS BIGINT),
                             1))) AS chunk_idx
                  FROM n)
            SELECT doc_id,
                   CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(least(n - chunk_idx * 24, 32) AS INT) AS n_tokens,
                   array_to_string(list_slice(w, chunk_idx * 24 + 1,
                                              chunk_idx * 24 + 32),
                                   ' ') AS chunk_text
            FROM c
        """,
        # corpus_prep: the gopher gate (min_words=20) recomputed in SQL
        # selects the subcorpus; tfidf (smoothed idf, rounded ranking) runs
        # with df and N over SURVIVORS — the pipeline ordering a real
        # corpus build uses
        "corpus_prep": r"""
            WITH toksall AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x <> '') AS t
                FROM documents),
            base AS (SELECT doc_id, t, len(t) AS n FROM toksall),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, n),
                                             i -> t[i] || ' ' || t[i+1])) AS g
                FROM base WHERE n >= 2),
            modal AS (
                SELECT doc_id, max(cnt) AS best
                FROM (SELECT doc_id, g, count(*) AS cnt
                      FROM grams GROUP BY doc_id, g)
                GROUP BY doc_id),
            feats AS (
                SELECT b.doc_id, b.n,
                       CASE WHEN n > 0 THEN
                            list_sum(list_transform(t, x -> length(x)))
                                * 1.0 / n ELSE 0.0 END AS mean_word_len,
                       CASE WHEN n > 0 THEN
                            len(list_distinct(t)) * 1.0 / n
                       ELSE 0.0 END AS distinct_frac,
                       CASE WHEN n >= 2 THEN
                            coalesce(m.best, 0) * 1.0 / (n - 1)
                       ELSE 0.0 END AS top2gram_frac,
                       CASE WHEN n > 0 THEN
                            len(list_filter(t,
                                x -> regexp_matches(x, '[A-Za-z]')))
                                * 1.0 / n ELSE 0.0 END AS alpha_word_frac
                FROM base b LEFT JOIN modal m USING (doc_id)),
            keep AS (
                SELECT doc_id FROM feats
                WHERE n >= 20 AND n <= 100000
                  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                  AND distinct_frac >= 0.30
                  AND top2gram_frac <= 0.20
                  AND alpha_word_frac >= 0.80),
            toks AS (SELECT b.doc_id, unnest(b.t) AS w
                     FROM base b JOIN keep USING (doc_id)),
            dt AS (SELECT doc_id, w, count(*) AS tf
                   FROM toks GROUP BY doc_id, w),
            dfq AS (SELECT w, count(*) AS df FROM dt GROUP BY w),
            nq AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
            scored AS (
                SELECT doc_id, dt.w AS term, tf,
                       ROUND(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))
                                   + 1.0), 6) AS score
                FROM dt JOIN dfq USING (w) CROSS JOIN nq),
            r AS (SELECT *,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY score DESC, term ASC)
                             AS rank
                  FROM scored)
            SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """,
        # sitemaps: same body synthesis, same line-anchored pattern
        # ((?im) works in both Java regex and DuckDB RE2), absolute
        # http(s) filter mirrors the protocol's absolute-URL requirement
        "sitemaps": r"""
            WITH hosts AS (
                SELECT DISTINCT 'host' || (user_id % 20) || '.example.com'
                           AS host,
                       CAST(user_id % 20 AS INT) AS idx
                FROM events),
            bodies AS (
                SELECT host,
                       CASE WHEN idx % 2 = 0 THEN
                           'User-agent: *' || chr(10) || 'Disallow: /x'
                           || chr(10) || 'Sitemap: https://' || host
                           || '/sitemap.xml' || chr(10)
                           || 'sitemap: http://' || host
                           || '/news.xml # daily' || chr(10)
                           || 'Sitemap: /relative.xml'
                       ELSE 'User-agent: *' || chr(10) || 'Disallow:'
                       END AS body
                FROM hosts),
            u AS (
                SELECT host,
                       unnest(list_distinct(regexp_extract_all(
                           body,
                           '(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^\s#]+)',
                           1))) AS sitemap_url
                FROM bodies)
            SELECT host, sitemap_url FROM u
            WHERE regexp_matches(sitemap_url, '^https?://')
        """,
        # sample_exact: the engine's md5 sample lane verbatim —
        # rank within each language by md5('<id>:sample:42') hex then id
        "sample_exact": r"""
            SELECT doc_id, lang, CAST(rnk AS INT) AS sample_rank
            FROM (SELECT doc_id, lang,
                         ROW_NUMBER() OVER (
                             PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)
                                          || ':sample:42'),
                                      doc_id) AS rnk
                  FROM documents)
            WHERE rnk <= 40
        """,
        # streaming_host_metrics: 1-minute tumbling windows align to the
        # epoch in both engines, so window.start == date_trunc('minute')
        "streaming_host_metrics": """
            SELECT date_trunc('minute', ts) AS window_start,
                   'host' || (user_id % 20) || '.example.com' AS host,
                   count(*) AS n_scheduled
            FROM events
            GROUP BY 1, 2
        """,
        # crawl_delay_quota: quota = min(max_per_batch,
        # int(burst + min(rate, 1/delay)·batch)); floor() mirrors Spark's
        # truncating double→int cast (positive values), DuckDB's bare
        # CAST would round instead
        "crawl_delay_quota": """
            WITH hosts AS (
                SELECT DISTINCT 'host' || (user_id % 20) || '.example.com'
                           AS host,
                       CAST(user_id % 20 AS INT) AS idx
                FROM events),
            r AS (SELECT host,
                         CASE WHEN idx % 4 = 0 THEN 10.0
                              WHEN idx % 4 = 1 THEN 2.0
                              WHEN idx % 4 = 2 THEN 0.25
                         END AS d
                  FROM hosts)
            SELECT host,
                   CAST(least(50, floor(
                       5 + least(1.0,
                                 CASE WHEN d IS NOT NULL AND d > 0
                                      THEN 1.0 / d ELSE 1.0 END) * 30))
                        AS INT) AS quota
            FROM r
        """,
        # host_backoff: multiplicative increase/decrease — failure
        # fraction >= 0.5 doubles (cap 64), else halves (floor 1);
        # prev mult 8 for even-index hosts, 1 otherwise
        "host_backoff": """
            WITH res AS (
                SELECT 'host' || (user_id % 20) || '.example.com' AS host,
                       CAST(user_id % 20 AS INT) AS idx,
                       CASE WHEN (user_id % 20) % 3 = 0
                            THEN (event_id % 5) >= 3
                            ELSE (event_id % 10) <> 0 END AS success
                FROM events),
            agg AS (
                SELECT host, any_value(idx) AS idx,
                       count(*) AS n_fetched,
                       CAST(sum(CASE WHEN success THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_failed
                FROM res GROUP BY host),
            m AS (
                SELECT host, n_fetched, n_failed,
                       CASE WHEN idx % 2 = 0 THEN 8.0 ELSE 1.0 END AS p,
                       CAST(n_failed AS DOUBLE) / n_fetched >= 0.5 AS tripped
                FROM agg)
            SELECT host,
                   CASE WHEN tripped THEN least(p * 2, 64.0)
                        ELSE greatest(p / 2, 1.0) END AS backoff_mult,
                   n_fetched, n_failed
            FROM m
        """,
    }
