"""The Fetch stage of corpus_prep: ``plans.fetch_pipeline`` with a
status/mime selector and a maxRecords budget, writing the docs and the
truncated log as parquet, and CountMimes (``plans.mime_pipeline``) over the
same index. Checked against the pure-Python oracle in tests/oracle.py.

In the traced run the Fetch job is composed from the same public layer
calls run_fetch makes (``sources.cdx``, ``operators.selector``,
``operators.budgets``, ``sources.warc``), each forced before its span
closes, so every layer gets its own span and Spark stages.
"""

from __future__ import annotations

import gzip
import os
from collections import Counter

import pyarrow.parquet as pq

from harness import Tracer, median

SELECTOR = {
    "must": {"status": [{"match": "200"}]},
    "should": {"mime_detected": [{"match": "text/html"}]},
}
BUDGET_SHARE = 0.9  # maxRecords stops the run at 90% of the index


class FetchStage:
    def __init__(self, spark, data: str, tracer: Tracer, index_paths: list[str],
                 lines: int):
        from commoncrawl_fetcher_lite_spark.config import ExtractorConfig

        self.spark, self.tracer = spark, tracer
        self.index_paths = index_paths
        self.warcs = os.path.join(data, "warcs")
        self.cfg = ExtractorConfig(
            index_paths=tuple(index_paths),
            selector=SELECTOR,
            max_records=int(lines * BUDGET_SHARE),
            target_path_pattern="xx/xx/xxx",
        )
        self.mime_cfg = ExtractorConfig(index_paths=tuple(index_paths),
                                        selector=SELECTOR)

    def resolver(self):
        warcs = self.warcs
        return lambda f: os.path.join(warcs, os.path.basename(f))

    # ------------------------------------------------------------ the jobs
    def fetch(self, out: str) -> dict:
        """Runs the Fetch job into out/docs and out/truncated; returns the
        run counters run_fetch observes."""
        if self.tracer.enabled:
            return self._fetch_traced(out)
        from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch

        res = run_fetch(self.spark, self.cfg, path_resolver=self.resolver())
        res.docs.write.parquet(os.path.join(out, "docs"))
        res.truncated_logged.write.parquet(os.path.join(out, "truncated"))
        return dict(res.metrics["observation"].get)

    def _fetch_traced(self, out: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from commoncrawl_fetcher_lite_spark.config import effective_fetch_cap
        from commoncrawl_fetcher_lite_spark.functions.urls import normalize_mime
        from commoncrawl_fetcher_lite_spark.operators.budgets import apply_budgets
        from commoncrawl_fetcher_lite_spark.operators.selector import compile_selector
        from commoncrawl_fetcher_lite_spark.sources.cdx import (
            expand_index_paths, parse_cdx, read_cdx_lines,
        )
        from commoncrawl_fetcher_lite_spark.sources.warc import extract_payloads

        tr, cfg = self.tracer, self.cfg
        with tr.span("cdx") as cdx:
            paths = expand_index_paths(list(cfg.index_paths), cfg.max_index_files)
            lines = read_cdx_lines(self.spark, paths)
            per_file = {
                r["index_file_seq"]: r["n"]
                for r in lines.groupBy("index_file_seq").agg(
                    F.count("*").alias("n")).collect()
            }
            records = parse_cdx(lines).localCheckpoint(eager=True)
        with tr.span("select") as sel:
            budgeted = apply_budgets(
                records,
                compile_selector(cfg.selector, seed=cfg.sample_seed),
                max_records=cfg.max_records,
                per_file_lines=per_file,
            ).localCheckpoint(eager=True)
        # counts read from the checkpoints, outside the spans
        cdx.counts = {"lines": sum(per_file.values()), "records": records.count()}
        sel.counts = {"selected": budgeted.where("is_selected").count()}
        truncated = budgeted.where(F.col("is_trunc_log_branch")).select(
            "url",
            normalize_mime(F.col("mime")).alias("mime"),
            normalize_mime(F.col("mime_detected")).alias("mime_detected"),
            F.col("filename").alias("warc_file"),
            F.col("offset").alias("warc_offset"),
            F.col("length").alias("warc_length"),
            "truncated", "index_file_seq", "line_no",
        )
        would = budgeted.where(F.col("is_extract_branch")).select(
            "url", "mime", "mime_detected", "status", "digest", "length",
            "offset", "filename", "truncated", "index_file_seq", "line_no",
        )
        with tr.span("warc") as w:
            obs = Observation("fetch_counters")
            fetched = extract_payloads(
                would, self.resolver(), target_path_pattern="xx/xx/xxx",
                num_partitions=effective_fetch_cap(cfg, False),
                task_deadline_seconds=cfg.fetch_deadline_seconds,
            ).observe(
                obs,
                F.count(F.lit(1)).alias("fetchable_records"),
                F.sum(F.col("empty_payload").cast("int")).alias("empty_payload"),
                F.sum((~F.col("digest_ok") & ~F.col("empty_payload")
                       & F.col("read_error").isNull()).cast("int"))
                .alias("digest_mismatch"),
                F.sum(F.col("read_error").isNotNull().cast("int"))
                .alias("read_errors"),
            ).localCheckpoint(eager=True)
        w.counts = {"bytes_read": would.agg(F.sum("length")).first()[0] or 0}
        docs = fetched.where(
            ~F.col("empty_payload") & F.col("read_error").isNull()
        ).select(F.col("url").alias("doc_id"), "spans")
        with tr.span("sink"):
            docs.write.parquet(os.path.join(out, "docs"))
            truncated.write.parquet(os.path.join(out, "truncated"))
        return dict(obs.get)

    def count_mimes(self) -> list[dict]:
        from commoncrawl_fetcher_lite_spark.plans.mime_pipeline import run_count_mimes

        with self.tracer.span("mimes"):
            return [r.asDict() for r in
                    run_count_mimes(self.spark, self.mime_cfg).collect()]

    # ---------------------------------------------------------- metrics
    def layers(self, ops: list[dict]) -> dict:
        tr = self.tracer
        ids = [o["op"] for o in ops]

        def med(name):
            d = tr.durations(name)
            return median([d[i] for i in ids])

        def counts(name, key):
            return median([s.counts[key] for s in tr.spans
                           if s.name == name and s.op in ids])

        c = {k: median([o["counters"][k] for o in ops]) for k in ops[0]["counters"]}
        lines, records = counts("cdx", "lines"), counts("cdx", "records")
        return {
            "cdx.parse_s": med("cdx"),
            "cdx.lines": lines,
            "cdx.records": records,
            "cdx.dropped_frac": 1 - records / lines,
            "select.s": med("select"),
            "select.selectivity": counts("select", "selected") / records,
            "warc.extract_s": med("warc"),
            "warc.records": c["fetchable_records"],
            "warc.bytes_read": counts("warc", "bytes_read"),
            "warc.empty_payload": c["empty_payload"],
            "warc.digest_mismatch": c["digest_mismatch"],
            "warc.read_errors": c["read_errors"],
            "sink.write_s": med("sink"),
            "sink.bytes": median([o["fetch_bytes"] for o in ops]),
            "mimes.s": med("mimes"),
        }

    # ----------------------------------------------------------- checks
    def oracle(self) -> dict:
        """Serial replay of the same index through tests/oracle.py."""
        from tests import oracle

        files = []
        for p in self.index_paths:
            with gzip.open(p, "rt", encoding="utf-8") as f:
                files.append(f.read().split("\n")[:-1])
        res = oracle.process_stream(files, selector=SELECTOR,
                                    max_records=self.cfg.max_records)
        docs, warcs = {}, {}
        resolve = self.resolver()
        for _, _, rec in res.extract_branch:
            fn = rec["filename"]
            if fn not in warcs:
                with open(resolve(fn), "rb") as f:
                    warcs[fn] = f.read()
            doc = oracle.extract_doc(rec, warcs[fn], "xx/xx/xxx")
            if doc is not None:
                docs[rec["url"]] = tuple(doc["spans"])
        mimes: Counter = Counter()
        truncated: Counter = Counter()
        for lines in files:
            for raw in lines:
                rec = oracle.parse_record(raw) if raw.strip() else None
                if rec is None or not oracle.select(rec, SELECTOR):
                    continue
                m = oracle.normalize_mime(rec.get("mime-detected"))
                mimes[m] += 1
                truncated[m] += bool((rec.get("truncated") or "").strip())
        return {
            "docs": docs,
            "trunc": {(s, ln) for s, ln, _ in res.trunc_logged},
            "mimes": {m: (n, truncated[m]) for m, n in mimes.items()},
        }

    @staticmethod
    def check(op: dict, want: dict) -> list[str]:
        bad = []
        docs = pq.read_table(os.path.join(op["out"], "docs")).to_pylist()
        got = {
            d["doc_id"]: tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["spans"]
            )
            for d in docs
        }
        if len(got) != len(docs):
            bad.append("duplicate doc ids in the docs table")
        if set(got) != set(want["docs"]):
            bad.append(f"doc set differs: {len(got)} vs oracle {len(want['docs'])}")
        diff = [u for u in got if u in want["docs"] and got[u] != want["docs"][u]]
        if diff:
            bad.append(f"{len(diff)} docs differ in span sequence, e.g. {diff[0]}")
        t = pq.read_table(os.path.join(op["out"], "truncated"),
                          columns=["index_file_seq", "line_no"])
        trunc = set(zip(t.column("index_file_seq").to_pylist(),
                        t.column("line_no").to_pylist()))
        if trunc != want["trunc"]:
            bad.append(f"truncated log differs: {len(trunc)} vs {len(want['trunc'])}")
        got_m = {r["mime"]: (r["total"], r["truncated"]) for r in op["mimes"]}
        if got_m != want["mimes"]:
            bad.append("CountMimes totals differ from the oracle")
        return bad
