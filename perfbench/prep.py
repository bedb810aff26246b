"""The corpus_prep workload: one operation fetches documents out of a
CDX + WARC tree (fetch.FetchStage), then dedups and gates them
(corpus.DedupStage); CountMimes over the same index is the side job.
"""

from __future__ import annotations

import json
import os
import time

from corpus import DedupStage
from fetch import FetchStage
from harness import Tracer, dir_bytes, median


class CorpusPrepWorkload:
    def __init__(self, spark, data: str, work: str, tracer: Tracer):
        self.work, self.tracer = work, tracer
        with open(os.path.join(data, "truth.json")) as f:
            self.truth = json.load(f)
        self.lines = self.truth["size"]["docs"]  # one CDX line per document
        self.fetch = FetchStage(spark, data, tracer, self.truth["index_paths"],
                                self.lines)
        self.dedup = DedupStage(spark, tracer)
        self.n_ops = 0

    def run_op(self) -> dict:
        self.n_ops += 1
        self.tracer.op = op = self.n_ops
        out = os.path.join(self.work, f"out-{op}")
        t = time.perf_counter()
        with self.tracer.span("fetch_job"):
            counters = self.fetch.fetch(out)
        fetch_bytes = dir_bytes(out)
        res = self.dedup.run(os.path.join(out, "docs"), os.path.join(out, "gated"))
        s = time.perf_counter() - t
        t = time.perf_counter()
        mimes = self.fetch.count_mimes()
        return dict(res, op=op, s=s, mimes_s=time.perf_counter() - t, out=out,
                    counters=counters, mimes=mimes, fetch_bytes=fetch_bytes,
                    bytes=dir_bytes(out))

    def warmup(self) -> None:
        self.run_op()

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: the next operation starts after the previous ends."""
        ops = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            ops.append(self.run_op())
        return ops

    # ---------------------------------------------------------- metrics
    def end_to_end(self, ops: list[dict]) -> dict:
        return {
            "items_per_s": self.lines * len(ops) / sum(o["s"] for o in ops),
            "op_s_p50": median([o["s"] for o in ops]),
            "aux_job_s_p50": median([o["mimes_s"] for o in ops]),
            "write_bytes_per_item": median([o["bytes"] for o in ops]) / self.lines,
        }

    def layers(self, ops: list[dict]) -> dict:
        return {**self.fetch.layers(ops), **self.dedup.layers(ops)}

    def check(self, ops: list[dict]) -> dict[int, list[str]]:
        want = self.fetch.oracle()
        return {
            o["op"]: FetchStage.check(o, want)
            + DedupStage.check(o, self.truth["planted_pairs"])
            for o in ops
        }
