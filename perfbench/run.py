"""Entry point of the crawl, fetch and corpus-prep benchmark.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from --seed in a child process, starts a
local[3] Spark session, runs one discarded warm-up operation, then runs the
workload as a closed loop for --seconds, checks the outputs, and prints one
JSON line: the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Exits 1 when an output check fails. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_frontier", "corpus_prep")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_s_p50": "s",
    "aux_job_s_p50": "s",
    "write_bytes_per_item": "B",
    "peak_rss_mb": "MB",
}


def _generate(workload: str, seed: int, out: str) -> None:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload,
         "--seed", str(seed), "--out", out],
        check=True, cwd=ROOT,
    )


def _workload(name: str, spark, data: str, work: str, tracer):
    if name == "crawl_frontier":
        from crawl import CrawlWorkload

        return CrawlWorkload(spark, data, work, tracer)
    from prep import CorpusPrepWorkload

    return CorpusPrepWorkload(spark, data, work, tracer)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from harness import RssSampler, Tracer, start_spark, stop_spark

    import layers

    tracer = Tracer(False)
    traced_ops: list[dict] = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        data = os.path.join(work, "in")
        _generate(workload, seed, data)
        spark = start_spark(work, event_log=trace)
        try:
            wl = _workload(workload, spark, data, os.path.join(work, "run"),
                           tracer)
            # one discarded operation on the full inputs: JIT, codegen and
            # Python workers are warm before timing starts
            wl.warmup()
            shutil.rmtree(wl.work, ignore_errors=True)
            setup_s = time.perf_counter() - t0

            ops = wl.loop(seconds)
            if trace:
                tracer.enabled = True
                traced_ops = wl.loop(seconds)
                metrics = layers.collect(wl, traced_ops, ops)
            else:
                metrics = wl.end_to_end(ops)
            fails = wl.check(ops + traced_ops)
        finally:
            stop_spark(spark)
    if trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{workload}.jsonl"))
        metrics.update(layers.spark_counters(tracer, work))
    else:
        metrics.update(setup_s=setup_s, peak_rss_mb=rss.peak_kb / 1024)
    failed = sum(1 for msgs in fails.values() if msgs)
    for op, msgs in sorted(fails.items()):
        for m in msgs[:3]:
            print(f"check failed (op {op}): {m}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(ops) + len(traced_ops),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine and these modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    try:
        import commoncrawl_fetcher_lite_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found next to {HERE}: {e}",
              file=sys.stderr)
        return 2

    from layers import PER_LAYER

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if a.trace else END_TO_END
    res["metrics"] = {
        k: {"value": float(res["metrics"][k]), "unit": u} for k, u in units.items()
    }
    print(f"perfbench {a.workload}: ops_failed_frac "
          f"{res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']})", file=sys.stderr)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
