"""Shuffle-byte diet: a standalone frontier scheduling operator (VERDICT
r3 #1).

The crawl loop (scheduler.run_iteration) does not call this module: it
always runs the exact path, urlseen.filter_unseen + politeness.
schedule_batch. schedule_frontier_compact is kept for the frozen
`frontier_schedule_compact` bench leaf and the `frontier_schedule_diet`
oracle row. Run inside the loop it measured no faster than the exact path
on the crawl benchmark, and its tie order differs from the reference's.

The exact pipeline (urlseen.filter_unseen + politeness.schedule_batch)
shuffles FULL candidate rows — url (~40-80 B) + host (~20-40 B) + two
doubles — through three exchanges: the seen anti-join, the salted local
top-k, and the per-host exact top-k. Round 3 measured the consequence on
one box: the frontier workload's N→4N scaling efficiency (0.67) fell
BELOW even the zero-shuffle scan's memory-bandwidth bound (0.73) — the
extra ~8% was engine-owned shuffle bytes (BENCH/BASELINE.md r3). On a
real cluster those bytes are the dominant network cost per scheduled URL.

The diet: project candidates down to a 24 B/row skinny frame

    (url_hash int64, host_id int64 = xxhash64(host), _prio double)

BEFORE any exchange, run the anti-join and both top-k windows on that,
and re-join the (url, host) payload ONCE at the end on url_hash. The
scheduled batch is quota-bounded (Σ host quotas ≪ candidates), so AQE
runtime-converts the payload join's build side to broadcast and the
payload branch never shuffles at all; the payload branch does recompute
canonicalize+hash for its rows — deliberate: per-row CPU scales with
cores/executors, shuffle bytes on one box do not.

Trade-offs vs the exact path (deliberate, documented):

  * the seen anti-join keys on url_hash ALONE (exact path: (url_hash,
    url)), so a 64-bit collision can drop a never-seen URL — ~3 expected
    false drops at 10^10 URLs (urlseen._seen_keys explains why the exact
    path keys on both).
  * politeness windows partition by host_id = xxhash64(host): two hosts
    colliding share one quota window — P ≈ n_hosts²/2^65 ≈ 5e-6 at 10^7
    hosts.
  * within-host determinism tie-break is (priority desc, url_hash asc)
    instead of (priority desc, url asc): equally deterministic, but
    equal-priority ties order differently than schedule_batch.
  * the late payload join fans out on a 64-bit collision between two
    UNSEEN candidates (ADVICE r4): m colliding payload urls match each of
    the k scheduled skinny rows for that hash (m*k batch rows, duplicate
    host_ranks, quota exceeded) — same ~n²/2^65 probability class as the
    false-drop above. It is left unrepaired: a repair needs a window
    exchange over the batch, which breaks the "quota-bounded frames only
    past the windows" plan shape the audits pin, and this operator
    exists to show that shape (tested: test_diet_collision_fanout).

With per-candidate distinct priorities the diet's output EQUALS the exact
path's output, including host_rank (tested: test_frontier_diet.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.functions.joins import maybe_broadcast
from commoncrawl_fetcher_lite_spark.frontier.urlseen import with_url_hash


def _host_id(col: Column | str) -> Column:
    return F.xxhash64(col)


def schedule_frontier_compact(
    candidates: DataFrame,
    seen: DataFrame,
    host_quotas: DataFrame | None = None,
    default_quota: int = 100,
    n_salt: int = 16,
    broadcast: bool | None = None,
) -> DataFrame:
    """Seen-filter + politeness top-k on the 24 B skinny frame; payload
    re-joined once after the final row_number filter.

    candidates: (url, host[, priority, recrawl_score[, url_hash]]).
    seen: any frame with url_hash (only the hash column is read).
    host_quotas: (host, quota) or None. Returns (url, host, host_rank,
    effective_priority) — the same shape schedule_batch emits.
    """
    cand = candidates
    if "url_hash" not in cand.columns:
        cand = with_url_hash(cand)

    prio = F.coalesce(F.col("priority"), F.lit(0.0)) + F.coalesce(
        F.col("recrawl_score"), F.lit(0.0)
    )
    # the ONLY frame that crosses any exchange until the final payload join
    skinny = cand.select(
        "url_hash", _host_id("host").alias("host_id"), prio.alias("_prio")
    )
    unseen = skinny.join(seen.select("url_hash"), "url_hash", "left_anti")

    from commoncrawl_fetcher_lite_spark.functions.joins import (
        is_empty_local_relation,
    )

    if host_quotas is not None and is_empty_local_relation(host_quotas):
        # empty-dim shortcut (see politeness.schedule_batch): all-null join
        # output ≡ the default literal, and the literal keeps the rank
        # filters WindowGroupLimit-eligible
        host_quotas = None
    if host_quotas is not None:
        q = host_quotas.select(_host_id("host").alias("host_id"), "quota")
        if broadcast is None:
            q = maybe_broadcast(q)
        elif broadcast:
            q = F.broadcast(q)
        unseen = unseen.join(q, "host_id", "left")
        unseen = unseen.withColumn(
            "quota", F.coalesce(F.col("quota"), F.lit(default_quota))
        )
    else:
        unseen = unseen.withColumn("quota", F.lit(default_quota))

    # salt from the url_hash already in hand — no extra string hashing
    df = unseen.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(n_salt)).cast("int")
    )
    # no explicit repartition (r7): the window's own exchange enables
    # WindowGroupLimit(Partial) below it — see politeness.schedule_batch
    w_local = Window.partitionBy("host_id", "_salt").orderBy(
        F.desc("_prio"), F.asc("url_hash")
    )
    df = df.withColumn("_lrn", F.row_number().over(w_local)).where(
        F.col("_lrn") <= F.col("quota")
    )
    w_host = Window.partitionBy("host_id").orderBy(
        F.desc("_prio"), F.asc("url_hash")
    )
    sched = (
        df.withColumn("_rn", F.row_number().over(w_host))
        .where(F.col("_rn") <= F.col("quota"))
        .select(
            "url_hash",
            F.col("_rn").alias("host_rank"),
            F.col("_prio").alias("effective_priority"),
        )
    )

    # late payload join: sched is quota-bounded → AQE broadcast; the
    # payload branch re-derives url_hash map-side (no exchange)
    payload = cand.select("url_hash", "url", "host")
    return payload.join(sched, "url_hash").select(
        "url_hash", "url", "host", "host_rank", "effective_priority"
    )
