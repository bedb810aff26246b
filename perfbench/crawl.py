"""The crawl_frontier workload: snapshot-committed frontier episodes driven
through ``frontier.scheduler`` and a timed ``frontier.checkpoint`` store.

One closed-loop episode = BOOTSTRAPS x bootstrap of the seeds into a fresh
store's snapshot 0, then ITERATIONS x (run_iteration + expire_snapshots) on
the last store. Episodes repeat until the run's time is up; every episode
of a run is the same work, so byte counts do not depend on how fast the
engine is.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from harness import Tracer, dir_bytes, median, timed_store_class

# Token bucket sized so per-host quotas bind in every iteration: with no
# burst every host may take RATE*DT = 2 URLs per iteration (1 under a
# 2 s crawl-delay), so batches stay alike from the first iteration on.
RATE, BURST, DT = 1.0, 0, 2.0
# A frontier commit adds a delete and an add segment, so with
# COMPACT_EVERY = 4 the frontier compacts in iteration 2 of each episode,
# and the median iteration is one that does not compact.
COMPACT_EVERY = 4
ITERATIONS = 3
BOOTSTRAPS = 3  # bootstraps per episode; the last one's store is iterated
FAIL_MOD = 10
LINK_ONE_IN = 10


def fixture_fetch():
    """Deterministic fetch stand-in: hosts with xxhash64(host) % FAIL_MOD
    == 0 fail every fetch (driving backoff); one page in LINK_ONE_IN emits
    one outlink to its own host."""
    from pyspark.sql import functions as F

    def fetch(batch):
        success = F.pmod(F.xxhash64("host"), F.lit(FAIL_MOD)) != 0
        links = F.when(
            F.pmod(F.xxhash64("url"), F.lit(LINK_ONE_IN)) == 0,
            F.array(
                F.concat(
                    F.lit("https://"), F.col("host"), F.lit("/d/"),
                    F.pmod(F.xxhash64("url", F.lit("p")), F.lit(100_000))
                    .cast("string"),
                )
            ),
        )
        return batch.select("url", "host", success.alias("success"),
                            links.alias("links"))

    return fetch


class CrawlWorkload:
    def __init__(self, spark, data: str, work: str, tracer: Tracer):
        from commoncrawl_fetcher_lite_spark.config import FrontierConfig

        self.spark, self.work, self.tracer = spark, work, tracer
        with open(os.path.join(data, "truth.json")) as f:
            self.truth = json.load(f)
        read = spark.read.parquet
        self.seeds = read(os.path.join(data, "seeds.parquet"))
        self.robots = read(os.path.join(data, "robots.parquet"))
        self.blocklist = read(os.path.join(data, "blocklist.parquet"))
        self.cfg = FrontierConfig(
            default_tokens_per_sec=RATE, default_burst=BURST,
        )
        self.fetch = fixture_fetch()
        self.Store = timed_store_class()
        self.episodes: list[dict] = []
        self.n_episodes = 0

    # ------------------------------------------------------------- the op
    def run_episode(self, bootstraps: int = BOOTSTRAPS,
                    iterations: int = ITERATIONS) -> list[dict]:
        """One episode; returns one record per iteration (the closed
        loop's operations)."""
        from commoncrawl_fetcher_lite_spark.frontier import scheduler

        ep = self.n_episodes = self.n_episodes + 1
        keep = os.path.join(self.work, f"fetched-{ep}")
        tr = self.tracer
        tr.op += 1  # the bootstraps' own op id, apart from the iterations
        boots = []
        for b in range(bootstraps):
            root = os.path.join(self.work, f"store-{ep}-{b}")
            if b:
                shutil.rmtree(os.path.join(self.work, f"store-{ep}-{b - 1}"))
            store = self.Store(root, self.spark, tr, compact_every=COMPACT_EVERY)
            t = time.perf_counter()
            with tr.span("bootstrap"):
                scheduler.bootstrap(store, self.seeds, robots=self.robots,
                                    blocklist=self.blocklist)
            boots.append(time.perf_counter() - t)
        boot_rows = store.manifest()["snapshots"]["0"]["tables"]["frontier"]["rows"]
        iters = []
        for k in range(1, iterations + 1):
            tr.op += 1
            rows_in = (
                store.read("frontier").count() if tr.enabled else None
            )
            t = time.perf_counter()
            with tr.span("scheduler.run_iteration"):
                res = scheduler.run_iteration(
                    store, self.cfg, batch_seconds=DT, fetch_fn=self.fetch
                )
            store.expire_snapshots(keep_last=2)
            dt = time.perf_counter() - t
            # keep the fetched batch for the output checks: hard links
            # survive the GC of later iterations and cost no copy
            src = os.path.join(root, f"snap={res.snapshot}", "fetched")
            dst = os.path.join(keep, str(k))
            os.makedirs(dst)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    os.link(os.path.join(src, fn), os.path.join(dst, fn))
            commit = store.commits[-1]
            iters.append(
                {
                    "episode": ep, "k": k, "op": tr.op, "s": dt,
                    "scheduled": res.n_scheduled, "seen_total": res.n_seen_total,
                    "frontier_rows_in": rows_in, "commit": commit,
                    "gc_s": store.gc_s[-1], "fetched_dir": dst,
                }
            )
        self.episodes.append(
            {
                "id": ep, "boot_s": boots, "boot_rows": boot_rows,
                "disk_bytes": dir_bytes(root),
                "seen": iters[-1]["seen_total"],
            }
        )
        return iters

    def warmup(self) -> None:
        """Every plan an episode runs, compaction included, at full size."""
        self.run_episode(bootstraps=1, iterations=2)
        self.episodes.clear()

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: the next episode starts after the previous ends."""
        ops = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            ops += self.run_episode()
        return ops

    # ---------------------------------------------------------- metrics
    def _episodes(self, ops: list[dict]) -> list[dict]:
        ids = {o["episode"] for o in ops}
        return [e for e in self.episodes if e["id"] in ids]

    def end_to_end(self, ops: list[dict]) -> dict:
        sched = sum(o["scheduled"] for o in ops)
        it_s = sum(o["s"] for o in ops)
        return {
            "items_per_s": sched / it_s,
            "op_s_p50": median([o["s"] for o in ops]),
            "aux_job_s_p50": median(
                [b for e in self._episodes(ops) for b in e["boot_s"]]
            ),
            "write_bytes_per_item": sum(o["commit"]["bytes"] for o in ops) / sched,
        }

    def layers(self, ops: list[dict]) -> dict:
        sched = self.tracer.self_time("scheduler.run_iteration")
        eps = self._episodes(ops)
        rows_in = sum(o["frontier_rows_in"] for o in ops)
        n = sum(o["scheduled"] for o in ops)
        compacting = [o["s"] for o in ops if o["commit"]["compactions"]]
        return {
            "scheduler.schedule_s": median([sched[o["op"]] for o in ops]),
            "scheduler.frontier_rows_in": rows_in / len(ops),
            "scheduler.scheduled": n / len(ops),
            "scheduler.yield": n / rows_in,
            "checkpoint.commit_s": median([o["commit"]["s"] for o in ops]),
            "checkpoint.bytes_written": median([o["commit"]["bytes"] for o in ops]),
            "checkpoint.gc_s": median([o["gc_s"] for o in ops]),
            "checkpoint.frontier_read_amp": median(
                [o["commit"]["frontier_read_amp"] for o in ops]
            ),
            "checkpoint.compactions": sum(o["commit"]["compactions"] for o in ops)
            / len(eps),
            "checkpoint.compact_iteration_s": median(compacting),
            "checkpoint.disk_bytes": median([e["disk_bytes"] for e in eps]),
            "checkpoint.disk_bytes_per_seen_url": median(
                [e["disk_bytes"] / e["seen"] for e in eps]
            ),
            "bootstrap.urls_per_s": median(
                [e["boot_rows"] / b for e in eps for b in e["boot_s"]]
            ),
        }

    # ----------------------------------------------------------- checks
    def check(self, ops: list[dict]) -> dict[int, list[str]]:
        """op id -> failures. Checks every iteration of every episode."""
        fails: dict[int, list[str]] = defaultdict(list)
        robots = self.truth["robots_disallow"]
        delay = self.truth["crawl_delay"]
        blocked = self.truth["blocklist"]
        max_per_batch = self.cfg.default_max_per_batch

        def is_blocked(host: str) -> bool:
            return any(host == d or host.endswith("." + d) for d in blocked)

        def refill(h: str) -> float:
            """politeness.refill_tokens: crawl-delay caps the rate."""
            rate = min(RATE, 1.0 / delay[h]) if h in delay else RATE
            return min(BURST + rate * DT, tokens.get(h, BURST) + rate * DT)

        def backed_off(h: str, at_snap: int) -> float:
            """politeness.effective_backoff: halves per snapshot since set."""
            mult, since = backoff.get(h, (1.0, at_snap))
            return max(1.0, mult / 2.0 ** (at_snap - since))

        by_ep: dict[int, list[dict]] = defaultdict(list)
        for o in ops:
            by_ep[o["episode"]].append(o)
        for its in by_ep.values():
            seen: set[str] = set()
            tokens: dict[str, float] = {}
            backoff: dict[str, tuple[float, int]] = {}  # host -> (mult, snap_set)
            total = 0
            for o in sorted(its, key=lambda o: o["k"]):
                bad = fails[o["op"]]
                t = pq.read_table(o["fetched_dir"]).select(["url", "host", "success"])
                urls = t.column("url").to_pylist()
                hosts = t.column("host").to_pylist()
                succ = t.column("success").to_pylist()
                if len(urls) != o["scheduled"]:
                    bad.append(f"fetched {len(urls)} rows, manifest {o['scheduled']}")
                dup = len(urls) - len(set(urls)) + len(seen & set(urls))
                if dup:
                    bad.append(f"{dup} URLs scheduled twice")
                seen |= set(urls)
                total += o["scheduled"]
                if o["seen_total"] != total:
                    bad.append(f"seen_total {o['seen_total']} != {total}")
                for u, h in zip(urls, hosts):
                    path = u.split(h, 1)[1]
                    if any(path.startswith(p) for p in robots.get(h, ())):
                        bad.append(f"robots-disallowed URL scheduled: {u}")
                        break
                    if is_blocked(h):
                        bad.append(f"blocklisted URL scheduled: {u}")
                        break
                # per-host quota after backoff; cur_snap = k - 1. The token
                # simulation refills every known host every iteration, an
                # upper bound on the engine's (it refills candidate hosts).
                cur = o["k"] - 1
                per_host = Counter(hosts)
                for h, n in per_host.items():
                    quota = min(max_per_batch, math.floor(refill(h) + 1e-9))
                    eff = backed_off(h, cur)
                    if n > math.floor(quota / eff + 1e-9):
                        bad.append(f"host {h}: {n} scheduled over quota {quota}/{eff}")
                        break
                for h in set(tokens) | set(per_host):
                    tokens[h] = refill(h) - per_host.get(h, 0)
                failed = Counter(h for h, s in zip(hosts, succ) if not s)
                for h, n in per_host.items():
                    if failed[h] / n >= 0.5:  # politeness.backoff_delta
                        backoff[h] = (min(backed_off(h, cur) * 2, 64.0), cur + 1)
        return fails
