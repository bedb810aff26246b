"""Shuffle-byte-diet frontier path: result equivalence with the exact
pipeline under distinct priorities, and the plan-shape guarantee that only
the FINAL payload join ever moves url strings through an exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.frontier.diet import (
    schedule_frontier_compact,
)
from commoncrawl_fetcher_lite_spark.frontier.politeness import schedule_batch
from commoncrawl_fetcher_lite_spark.frontier.urlseen import (
    filter_unseen,
    with_url_hash,
)


def _seeds(spark, n=6000, hosts=50):
    # distinct priorities → the diet's (prio, url_hash) tie-break and the
    # exact path's (prio, url) tie-break pick identical rows
    return spark.range(n).select(
        F.concat(
            F.lit("https://host"),
            (F.col("id") % hosts).cast("string"),
            F.lit(".example.com/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"),
            (F.col("id") % hosts).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        (F.col("id") / (n + 1.0)).alias("priority"),
        F.lit(0.0).alias("recrawl_score"),
        "id",
    )


def test_diet_equals_exact_path(spark):
    seeds = _seeds(spark)
    seen = with_url_hash(seeds.where(F.col("id") % 4 == 0).select("url"))
    quotas = spark.createDataFrame(
        [(f"host{i}.example.com", 5 + i % 7) for i in range(0, 50, 3)],
        "host string, quota int",
    )

    exact = schedule_batch(
        filter_unseen(seeds, seen),
        quotas,
        default_quota=20,
        n_salt=4,
        broadcast=True,
    ).select("url", "host", "host_rank", "effective_priority")
    diet = schedule_frontier_compact(
        seeds, seen, quotas, default_quota=20, n_salt=4, broadcast=True
    )

    e = {
        (r["url"], r["host"], r["host_rank"], round(r["effective_priority"], 9))
        for r in exact.collect()
    }
    d = {
        (r["url"], r["host"], r["host_rank"], round(r["effective_priority"], 9))
        for r in diet.collect()
    }
    assert len(d) == len(e) and d == e, (
        f"diet diverged: only-exact={list(e - d)[:3]} only-diet={list(d - e)[:3]}"
    )


def test_diet_no_quota_table(spark):
    seeds = _seeds(spark, n=2000, hosts=10)
    seen = with_url_hash(seeds.where(F.col("id") % 3 == 0).select("url"))
    out = schedule_frontier_compact(seeds, seen, default_quota=7, n_salt=4)
    rows = out.collect()
    per_host: dict[str, int] = {}
    for r in rows:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert per_host and all(v == 7 for v in per_host.values())
    assert max(r["host_rank"] for r in rows) == 7


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _exchanges_carrying(plan: str, needle: str) -> int:
    """Count Exchange nodes whose Input attribute list mentions `needle`.
    Formatted explain prints each node as '(i) Exchange' followed by an
    'Input [n]: [attrs]' line."""
    count = 0
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ") Exchange" not in ln:
            continue
        for follow in lines[i + 1 : i + 4]:
            if follow.strip().startswith("Input"):
                if needle in follow:
                    count += 1
                break
    return count


def test_diet_plan_shuffles_skinny(spark):
    """The diet's defining property: the anti-join and both window
    exchanges carry only (url_hash, host_id, _prio[, quota, salt]) — the
    url string crosses at most the ONE final payload-join exchange (which
    AQE broadcast-converts at runtime). The exact path shuffles url
    through every exchange; this audit pins the difference."""
    seeds = _seeds(spark, n=2000, hosts=10)
    seen = with_url_hash(seeds.where(F.col("id") % 3 == 0).select("url"))

    diet_plan = _plan(
        schedule_frontier_compact(seeds, seen, default_quota=7, n_salt=4)
    )
    assert _exchanges_carrying(diet_plan, "url#") <= 1, diet_plan
    # the skinny exchanges must exist (anti-join + at least one window)
    assert _exchanges_carrying(diet_plan, "url_hash#") >= 2, diet_plan

    exact_plan = _plan(
        schedule_batch(
            filter_unseen(seeds, seen),
            spark.createDataFrame([], "host string, quota int"),
            default_quota=7,
            n_salt=4,
            broadcast=True,
        )
    )
    assert _exchanges_carrying(exact_plan, "url#") >= 2, (
        "exact path unexpectedly stopped shuffling url strings — "
        "update this audit and BENCH/BASELINE.md"
    )


def test_diet_collision_fanout(spark):
    """ADVICE r4: a 64-bit url_hash collision between two UNSEEN
    candidates fans the late payload join out (duplicate scheduled rows
    sharing one host_rank, quota exceeded by one). The diet documents this
    trade-off and leaves it unrepaired; this pins the documented shape."""
    cand = spark.createDataFrame(
        [
            # planted collision: two distinct urls, same pre-set hash
            (111, "https://h.example.com/a", "h.example.com", 0.9, 0.0),
            (111, "https://h.example.com/b", "h.example.com", 0.9, 0.0),
            (222, "https://h.example.com/c", "h.example.com", 0.5, 0.0),
        ],
        "url_hash long, url string, host string, priority double, "
        "recrawl_score double",
    )
    seen = spark.createDataFrame([(999,)], "url_hash long")
    quotas = spark.createDataFrame(
        [("h.example.com", 2)], "host string, quota int"
    )

    fanned = schedule_frontier_compact(
        cand, seen, quotas, n_salt=2, broadcast=True
    ).collect()
    # quota 2: both colliding skinny rows fill it (ranks 1,2), then the
    # payload join fans each out to both urls → 4 rows, duplicate ranks,
    # and /c pushed out entirely
    assert len(fanned) == 4
    assert sorted(r["host_rank"] for r in fanned) == [1, 1, 2, 2]
