"""The frontier loop: iterative batch crawl scheduling over snapshots.

Each iteration (SURVEY §2.12 — iterative batch over snapshot-committed
state, not streaming state):

    frontier ──(robots filter)──(URL-seen anti-join)──(politeness window)──▶ batch
    batch ──(fetch+extract mapInPandas)──▶ docs, extracted
    state updates: urlseen += batch urls, frontier -= batch (+ redirects
    discovered), host_state tokens debited
    all outputs committed as ONE snapshot → crash-resume re-runs the
    iteration deterministically from the previous snapshot.

State commits are INCREMENTAL (round-3 fix for the 100 TB ceiling): each
snapshot writes only O(batch) rows — urlseen appends the batch (exact:
batch is anti-joined against the full seen set, so deltas are disjoint),
frontier commits merge-on-read add/delete segments, host_state upserts the
hosts touched this round, and host_backoff upserts ONLY the hosts tripped
this round (healthy/untouched hosts halve by LAZY decay at read —
politeness.effective_backoff — and recovered rows are pruned at
compaction, the round-6 fix that removed the last O(all-known-hosts)
commit). The SnapshotStore resolves reads as a merged view and compacts
every K snapshots; at 10^10 seen URLs this turns ~1 TB of parquet I/O per
iteration into megabytes.

The reference has no analog (restart = refetch the world); this is the
net-new north-rule machinery. Politeness/priority semantics live in
politeness.py; seen semantics in urlseen.py; this module is the
composition + commit protocol.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.config import FrontierConfig
from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore
from commoncrawl_fetcher_lite_spark.frontier.politeness import (
    apply_robots,
    backoff_delta,
    backoff_prune_predicate,
    debit_tokens,
    effective_backoff,
    refill_tokens,
    schedule_batch,
)
from commoncrawl_fetcher_lite_spark.functions.joins import maybe_broadcast
from commoncrawl_fetcher_lite_spark.frontier.urlseen import (
    filter_unseen,
    with_url_hash,
)


@dataclass
class IterationResult:
    snapshot: int
    n_scheduled: int
    n_seen_total: int
    n_frontier_left: int


def bootstrap(
    store: SnapshotStore,
    seeds: DataFrame,
    robots: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    host_rank: DataFrame | None = None,
) -> int:
    """Snapshot 0: initial frontier = deduped seeds; empty seen set.
    Optional policy tables (robots rules, domain blocklist, host_rank
    centrality prior) commit with the bootstrap snapshot and carry
    forward across iterations."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    spark = store.spark
    # spread before the canonicalize+hash pass (r7): seed frames read from
    # one or two parquet files arrive as 1-2 scan partitions, throttling
    # the per-row URL hashing to 1-2 cores; spread_for_compute never
    # narrows, so a wide production scan is untouched
    frontier = with_url_hash(spread_for_compute(seeds)).dropDuplicates(
        ["url_hash", "url"]
    )
    seen = spark.createDataFrame([], "url_hash long, url string")
    tables = {"frontier": frontier, "urlseen": seen}
    if robots is not None:
        tables["robots"] = robots
    if blocklist is not None:
        tables["blocklist"] = blocklist
    if host_rank is not None:
        tables["host_rank"] = host_rank
    return store.commit(tables, metrics={"phase": "bootstrap"})


def run_iteration(
    store: SnapshotStore,
    cfg: FrontierConfig,
    batch_seconds: float = 60.0,
    host_budget: DataFrame | None = None,
    fetch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> IterationResult:
    """One frontier iteration reading ONLY the current snapshot, committing
    exactly one new snapshot. Deterministic: same input snapshot → same
    output snapshot (fetch_fn must be deterministic too; tests use the
    fixture WARC store)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    frontier = store.read("frontier")
    seen = store.read("urlseen")
    robots = store.read("robots") if store.exists("robots") else None

    # spread the frontier scan before the CPU-heavy candidate stages (r7):
    # a snapshot table a few tens of MB big packs into 1-2 scan partitions
    # (maxPartitionBytes), which serialized the robots regex fold + URL
    # canonicalize/hash onto 1-2 cores — measured 2-3 s/iteration at
    # sf1.0. spread_for_compute never narrows a wide production scan.
    candidates = spread_for_compute(frontier)
    if robots is not None:
        candidates = apply_robots(candidates, robots)

    # domain blocklist gate (frontier/blocklist.py): a `blocklist`
    # snapshot table of (domain, category) drops candidates whose host —
    # or any parent domain — is listed; suffix explode runs over DISTINCT
    # hosts, verdict join is stats-gated
    if store.exists("blocklist"):
        from commoncrawl_fetcher_lite_spark.frontier.blocklist import (
            filter_blocked,
        )

        candidates = filter_blocked(candidates, store.read("blocklist"))

    # link-graph centrality prior (frontier/hostrank.py): a `host_rank`
    # snapshot table (host, rank — e.g. host_pagerank over the outlink
    # graph) raises candidate priority by host_rank_weight * rank, so a
    # bounded batch prefers link-endorsed hosts. Opt-in by table
    # presence (the blocklist pattern); host-keyed join is stats-gated
    # (rank tables are per-HOST — 10^8-9 rows at crawl scale, broadcast
    # only when stats prove it small). Unranked hosts keep their base
    # priority (coalesce 0).
    if store.exists("host_rank"):
        ranks = store.read("host_rank").select("host", "rank")
        candidates = (
            candidates.join(maybe_broadcast(ranks), "host", "left")
            .withColumn(
                "priority",
                # coalesce priority too (ADVICE r6): schedule_batch
                # accepts NULL-priority rows (its own coalesce defaults
                # them to 0), so without this a null-priority candidate's
                # sum is NULL and the centrality boost silently vanishes
                # for exactly those rows
                F.coalesce(F.col("priority"), F.lit(0.0))
                + float(cfg.host_rank_weight)
                * F.coalesce(F.col("rank"), F.lit(0.0)),
            )
            .drop("rank")
        )

    if not cfg.compact_shuffles:
        candidates = filter_unseen(candidates, seen)

    # materialize the filtered candidate frame ONCE (r7): it feeds BOTH
    # the token refill (its distinct hosts) and the scheduling windows,
    # and those execute as SEPARATE jobs (the refill frame is
    # checkpointed below), so without this the whole candidate pipeline —
    # frontier merge-on-read resolve, robots rule fold, blocklist gate,
    # and the seen anti-join when compact_shuffles is off (the diet path
    # anti-joins later, inside schedule_frontier_compact) — ran twice per
    # iteration (measured: ~40% of a warm iteration at sf0.1). What is
    # stored is O(candidates) skinny rows (url, host, priority,
    # recrawl_score, url_hash); recomputing the regex fold (+ anti-join)
    # per consumer costs more at every scale.
    candidates = candidates.localCheckpoint(eager=True)

    # token-bucket politeness (north star: "priority = recrawl score +
    # host token-bucket state"): refill each candidate host's bucket from
    # the host_state table committed with the previous snapshot; quota =
    # floored available tokens; after scheduling, the actual per-host
    # batch sizes are debited and the new state commits with this
    # snapshot. A fresh host starts at tokens=burst, so iteration 1
    # reproduces the stateless quota min(max_per_batch, burst + rate*dt).
    # (diet mode refills over PRE-seen-filter hosts — a benign superset:
    # an unscheduled refilled host converges to a fresh host's avail.)
    prev_state = store.read("host_state") if store.exists("host_state") else None
    state_join = None
    if cfg.bucketed_state and prev_state is not None:
        # bucketed-state accelerator: the compacted base becomes a
        # bucketed catalog table (once per compaction generation —
        # ensure_state_bucketed caches on base_seq), the O(batch) upsert
        # delta overlays as a broadcast; the refill join then plans zero
        # Exchange above the state scan (tests/test_plan_audits.py)
        import functools
        import os as _os

        from commoncrawl_fetcher_lite_spark.frontier.bucketed import (
            ensure_state_bucketed,
            join_state_bucketed,
        )

        base, delta, base_seq = store.read_upsert_split("host_state")
        table = ensure_state_bucketed(
            store.spark,
            base,
            name="host_state_bucketed",
            base_seq=base_seq,
            path_root=_os.path.join(store.root, "_bucketed"),
        )
        state_join = functools.partial(
            join_state_bucketed,
            spark=store.spark,
            table=table,
            delta=delta,
        )
    refilled = refill_tokens(
        prev_state,
        candidates.select("host"),
        batch_seconds,
        cfg.default_tokens_per_sec,
        cfg.default_burst,
        cfg.default_max_per_batch,
        host_budget=host_budget,
        robots=robots,
        state_join=state_join,
    ).localCheckpoint(eager=True)  # reused by the quota join AND the debit
    quotas = refilled.select("host", "quota")

    # per-host failure backoff: an unhealthy host's quota is divided by
    # its multiplier this iteration. State rows are (host, backoff_mult,
    # snap_set) — the multiplier decays LAZILY at read (halve per
    # snapshot since snap_set, politeness.effective_backoff), so the
    # commit below writes only tripped hosts, never the full host set
    cur_snap = store.current_snapshot()
    prev_backoff = (
        store.read("host_backoff") if store.exists("host_backoff") else None
    )
    backoff_now = effective_backoff(prev_backoff, at_snap=cur_snap)
    if backoff_now is not None:
        quotas = (
            quotas.join(maybe_broadcast(backoff_now), "host", "left")
            .select(
                "host",
                F.greatest(
                    F.floor(
                        F.col("quota")
                        / F.coalesce(F.col("backoff_mult"), F.lit(1.0))
                    ).cast("int"),
                    F.lit(0),
                ).alias("quota"),
            )
        )

    # literal quota cap (r7): max over the (checkpointed, one-row-per-host)
    # refill frame — a bounded single-row aggregate, never row data. The
    # backoff division above only LOWERS quotas, so the refill max stays an
    # upper bound; passing it as a literal lets the politeness windows plan
    # WindowGroupLimit (top-cap per group) instead of full per-group sorts.
    cap_row = refilled.agg(F.max("quota")).first()
    quota_cap = int(cap_row[0]) if cap_row and cap_row[0] is not None else None

    # materialize the scheduling plan ONCE: batch feeds the fetch, both
    # state updates, and the commit write — without this the anti-join +
    # double window re-executed 3-4x per iteration.
    if cfg.compact_shuffles:
        from commoncrawl_fetcher_lite_spark.frontier.diet import (
            schedule_frontier_compact,
        )

        batch = schedule_frontier_compact(
            candidates, seen, quotas, default_quota=0, n_salt=cfg.n_salt,
            quota_cap=quota_cap,
        ).localCheckpoint(eager=True)
    else:
        batch = schedule_batch(
            candidates, quotas, default_quota=0, n_salt=cfg.n_salt,
            quota_cap=quota_cap,
        ).localCheckpoint(eager=True)

    # only hosts refilled this round get a new state row — untouched hosts'
    # rows carry via older upsert segments (their debt must not reset);
    # hosts scheduled this round get (avail - n_scheduled)
    new_state = debit_tokens(refilled, batch.select("host"))

    fetched = fetch_fn(batch) if fetch_fn is not None else batch

    # state deltas — each O(batch), never O(state):
    #   urlseen  += batch (APPEND; exact: filter_unseen guarantees the batch
    #              is disjoint from seen, and frontier rows are unique on
    #              (url_hash, url) — a 64-bit collision never evicts a
    #              distinct URL, the exactness contract of urls.py:96)
    #   frontier −= batch (MOR delete), += redirects (MOR add)
    batch_urls = batch.select("url_hash", "url")
    frontier_adds = None
    # frontier merge (§2.8): URLs discovered by the fetch join the
    # frontier as fresh candidates (deduped against seen next round; a
    # target already in the frontier resolves oldest-wins at read). Two
    # discovery channels, unioned before one hash+dedup pass:
    #   redirect  — the reference's only discovery mechanism (3xx target)
    #   links     — array<string> outlink column (extract_links over the
    #               fetched HTML), the channel that makes the loop an
    #               actual crawler; lower priority than redirects so a
    #               bounded batch prefers confirmed-moved content
    if fetch_fn is not None and (
        "redirect" in fetched.columns or "links" in fetched.columns
    ):
        from commoncrawl_fetcher_lite_spark.functions.urls import host_of

        discovered = None
        if "redirect" in fetched.columns:
            discovered = (
                fetched.where(F.col("redirect").isNotNull())
                .select(F.col("redirect").alias("url"))
                .withColumn("priority", F.lit(0.5))
            )
        if "links" in fetched.columns:
            links = (
                fetched.where(F.col("links").isNotNull())
                .select(F.explode("links").alias("url"))
                .withColumn("priority", F.lit(0.4))
            )
            discovered = (
                links if discovered is None else discovered.unionByName(links)
            )
        discovered = (
            # deterministic dedup across channels: a URL that is both a
            # redirect target and a link keeps the redirect's priority
            discovered.groupBy("url")
            .agg(F.max("priority").alias("priority"))
            .withColumn("host", host_of(F.col("url")))
            .withColumn("discovered_ts", F.lit(None).cast("timestamp"))
            .withColumn("recrawl_score", F.lit(0.0))
        )
        frontier_adds = with_url_hash(discovered).select(*frontier.columns)

    tables = {"batch": batch_urls}
    if fetch_fn is not None:
        tables["fetched"] = fetched
    carry = ["robots"] if robots is not None else []
    if store.exists("blocklist"):
        carry.append("blocklist")  # the gate persists across iterations
    if store.exists("host_rank"):
        carry.append("host_rank")  # the centrality prior persists too

    # backoff state update: only when the fetch reports per-row success
    # (fixture fetchers that return the batch unchanged leave the state
    # untouched — no silent decay on iterations that never fetched).
    # backoff_delta emits rows ONLY for hosts tripped this batch (a
    # healthy host's halving is the lazy decay's halving — no row
    # needed), and the prune predicate drops recovered rows whenever the
    # store compacts the upsert chain: the commit stays O(batch) and the
    # table stays O(currently-backed-off hosts).
    new_backoff = None
    if fetch_fn is not None and "success" in fetched.columns:
        new_backoff = backoff_delta(
            prev_backoff, fetched.select("host", "success"),
            new_snap=cur_snap + 1,
        )

    # counts come from the lineage scan commit performs anyway — no extra
    # executions of the seen/frontier plans just to fill metrics
    snap = store.commit(
        tables,
        appends={"urlseen": batch_urls},
        mor={
            "frontier": {
                "add": frontier_adds,
                "delete": batch_urls,
                "key": ["url_hash", "url"],
            }
        },
        upserts={
            "host_state": {"df": new_state, "key": ["host"]},
            **(
                {
                    "host_backoff": {
                        "df": new_backoff,
                        "key": ["host"],
                        "prune": backoff_prune_predicate(cur_snap + 1),
                    }
                }
                if new_backoff is not None
                else {}
            ),
        },
        carry_forward=carry,
        row_metrics={
            "scheduled": "batch",
            "seen_total": "urlseen",
            "frontier_left": "frontier",
        },
    )
    m = store.manifest()["snapshots"][str(snap)]["metrics"]
    return IterationResult(
        snap, m["scheduled"], m["seen_total"], m["frontier_left"]
    )


def run(
    store: SnapshotStore,
    cfg: FrontierConfig,
    iterations: int,
    **kw,
) -> list[IterationResult]:
    """Run up to `iterations` more iterations from the CURRENT snapshot —
    i.e. calling run() again after a crash continues where the manifest
    points (resume-from-checkpoint)."""
    out = []
    for _ in range(iterations):
        res = run_iteration(store, cfg, **kw)
        out.append(res)
        if res.n_scheduled == 0:
            break
    return out
