"""The dedup-and-gate stage of corpus_prep: shingle -> MinHash-LSH
candidates -> verify_jaccard -> dedup_clusters over the fetched docs, then
the Gopher gates (gopher_quality and repetition_signals) over the cluster
representatives, written as parquet.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from harness import Tracer, median

THRESHOLD = 0.5
# Banded MinHash (16 bands x 4 rows) finds a pair of Jaccard J with
# probability 1 - (1 - J^4)^16: 0.998 at J = 0.75. Recall is checked on the
# planted pairs at or above RECALL_J.
RECALL_J = 0.75
MIN_RECALL = 0.98


def doc_text(spans):
    """The docs table's text spans joined into one string."""
    from pyspark.sql import functions as F

    return F.array_join(
        F.transform(F.filter(spans, lambda s: s["kind"] == "text"),
                    lambda s: s["text"]),
        " ",
    )


class DedupStage:
    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer

    def run(self, docs_path: str, out: str) -> dict:
        """Dedup and gate the docs at docs_path into `out`; returns the
        verified pairs (checkpointed in every run: the output check reads
        them) and the gate step's own time."""
        from pyspark.sql import functions as F

        from commoncrawl_fetcher_lite_spark.operators.dedup import (
            dedup_clusters, minhash_lsh_candidates, shingle_frame,
            verify_jaccard,
        )
        from commoncrawl_fetcher_lite_spark.operators.text import (
            gopher_quality, repetition_signals,
        )

        tr = self.tracer
        docs = self.spark.read.parquet(docs_path).select(
            "doc_id", doc_text(F.col("spans")).alias("text"))
        with tr.span("dedup.shingle"):
            sh = shingle_frame(docs)
            if tr.enabled:
                sh = sh.localCheckpoint(eager=True)
        with tr.span("dedup.candidates"):
            cands = minhash_lsh_candidates(docs, shingles=sh)
            if tr.enabled:
                cands = cands.localCheckpoint(eager=True)
        with tr.span("dedup.verify"):
            pairs = verify_jaccard(
                cands, docs, shingles=sh, threshold=THRESHOLD
            ).localCheckpoint(eager=True)
        with tr.span("dedup.cluster"):
            clusters = dedup_clusters(pairs, docs)
            if tr.enabled:
                clusters = clusters.localCheckpoint(eager=True)
        kept = docs.join(
            clusters.where(F.col("cluster_id") == F.col("doc_id")), "doc_id"
        )
        t = time.perf_counter()
        with tr.span("text.gate"):
            gated = gopher_quality(kept).join(repetition_signals(kept), "doc_id")
            gated.select("doc_id", "gopher_pass", "rep_pass").write.parquet(out)
        res = {"gate_s": time.perf_counter() - t, "pairs": pairs.collect()}
        if tr.enabled:
            res["candidate_pairs"] = cands.count()
        return res

    # ---------------------------------------------------------- metrics
    def layers(self, ops: list[dict]) -> dict:
        tr = self.tracer
        ids = [o["op"] for o in ops]

        def med(name):
            d = tr.durations(name)
            return median([d[i] for i in ids])

        cand = median([o["candidate_pairs"] for o in ops])
        ver = median([len(o["pairs"]) for o in ops])
        gated = os.path.join(ops[0]["out"], "gated")
        return {
            "dedup.shingle_s": med("dedup.shingle"),
            "dedup.candidates_s": med("dedup.candidates"),
            "dedup.verify_s": med("dedup.verify"),
            "dedup.cluster_s": med("dedup.cluster"),
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.verify_yield": ver / cand if cand else 0.0,
            "text.gate_s": med("text.gate"),
            "text.docs_gated": sum(
                pq.read_metadata(os.path.join(gated, f)).num_rows
                for f in os.listdir(gated) if f.endswith(".parquet")
            ),
        }

    # ----------------------------------------------------------- checks
    @staticmethod
    def check(op: dict, planted: list[list[str]]) -> list[str]:
        """Every verified pair has its exact Jaccard, at or above the
        threshold; the planted pairs both fetched and at or above RECALL_J
        are found. Texts come from the op's docs table, which the Fetch
        check compares with the oracle."""
        t = pq.read_table(os.path.join(op["out"], "docs"))
        text = {
            d: " ".join(s["text"] for s in spans if s["kind"] == "text")
            for d, spans in zip(t.column("doc_id").to_pylist(),
                                t.column("spans").to_pylist())
        }
        memo: dict[str, set] = {}

        def shingles(i: str) -> set:
            if i not in memo:
                w = text[i].split()
                memo[i] = {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
            return memo[i]

        def jaccard(a: str, b: str) -> float:
            x, y = shingles(a), shingles(b)
            return len(x & y) / len(x | y) if x | y else 0.0

        bad = []
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in op["pairs"]}
        wrong = [p for p, j in got.items()
                 if abs(jaccard(*p) - j) > 1e-4 or j < THRESHOLD]
        if wrong:
            bad.append(f"{len(wrong)} verified pairs below threshold or with "
                       f"a wrong Jaccard, e.g. {wrong[0]}")
        want = [tuple(p) for p in planted
                if p[0] in text and p[1] in text and jaccard(*p) >= RECALL_J]
        if not want:
            return bad + ["no planted pair among the fetched docs"]
        recall = sum(p in got for p in want) / len(want)
        if recall < MIN_RECALL:
            bad.append(f"planted-pair recall {recall:.3f} < {MIN_RECALL}")
        return bad
