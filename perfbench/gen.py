"""Seeded input generators for the benchmark workloads.

Run as its own process so that generator memory is released before the
Spark JVM starts:

    python3 perfbench/gen.py <workload> --seed N --out DIR

Every output is a pure function of (workload, seed). Besides the
engine inputs, each generator writes ``truth.json`` with what the output
checks need (policy tables, index paths, planted pairs).
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-workload input sizes.
SIZES = {
    "crawl_frontier": {"seeds": 100_000, "hosts": 1_000},
    "corpus_prep": {"docs": 6_000},
}


def host_name(rank: int) -> str:
    return f"h{rank:05d}.g{rank % 64:02d}.test"


def _zipf_ranks(rng: np.random.Generator, n_hosts: int, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_hosts + 1)
    return rng.choice(n_hosts, size=n, p=w / w.sum())


def gen_crawl(out: str, seed: int, seeds: int, hosts: int) -> dict:
    """Seeds over Zipf-sized hosts, robots rules on a third of the hosts,
    crawl-delay on a twentieth, and a blocklist of single hosts plus one
    parent domain."""
    rng = np.random.default_rng(seed)
    ranks = _zipf_ranks(rng, hosts, seeds)
    private = rng.random(seeds) < 0.2
    # ~5% duplicate rows: bootstrap must dedupe them
    idx = np.arange(seeds)
    dup = rng.random(seeds) < 0.05
    idx[dup] = rng.integers(0, seeds, int(dup.sum()))
    ranks[dup] = ranks[idx[dup]]
    private[dup] = private[idx[dup]]
    names = [host_name(r) for r in range(hosts)]
    host_col = [names[r] for r in ranks]
    url_col = [
        f"https://{h}/{'private' if p else 'p'}/{i}"
        for h, p, i in zip(host_col, private, idx)
    ]
    prio = np.round(rng.random(seeds), 6)
    ts = 1_672_531_200_000_000 + idx.astype(np.int64) * 1_000_000
    pq.write_table(
        pa.table(
            {
                "url": url_col,
                "host": host_col,
                "priority": prio,
                "discovered_ts": pa.array(ts, pa.timestamp("us")),
                "recrawl_score": np.zeros(seeds),
            }
        ),
        os.path.join(out, "seeds.parquet"),
    )
    robots_hosts = [r for r in range(hosts) if r % 3 == 0]
    delays = {r: 2.0 for r in robots_hosts if r % 20 == 3}
    pq.write_table(
        pa.table(
            {
                "host": [names[r] for r in robots_hosts],
                "disallow_prefixes": [["/private/"] for _ in robots_hosts],
                "crawl_delay_s": pa.array(
                    [delays.get(r) for r in robots_hosts], pa.float64()
                ),
            }
        ),
        os.path.join(out, "robots.parquet"),
    )
    blocked = [names[r] for r in range(hosts) if r % 101 == 7]
    domains = blocked + ["g13.test"]
    pq.write_table(
        pa.table({"domain": domains, "category": ["spam"] * len(domains)}),
        os.path.join(out, "blocklist.parquet"),
    )
    return {
        "robots_disallow": {names[r]: ["/private/"] for r in robots_hosts},
        "crawl_delay": {names[r]: d for r, d in delays.items()},
        "blocklist": domains,
    }


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return ["".join(rng.choice(letters, k)) for k in lens]


def corpus_texts(rng: np.random.Generator, docs: int) -> tuple[list[str], list]:
    """Zipf-worded documents of 30-130 words. The last 10% are planted
    near-duplicates (4% of words substituted, Jaccard ~0.8) of every fourth
    base doc drawn at random, so a base gets 1-3 copies; the 5% before them
    are partial copies (17% substituted, Jaccard ~0.4) that LSH may pair
    but verification should reject. Returns the texts and the planted
    (near-duplicate, base) index pairs."""
    vocab = _vocab(rng, 4000)
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    p = w / w.sum()
    lens = rng.integers(30, 130, docs)
    n_dup, n_part = docs // 10, docs // 20
    n_base = docs - n_dup - n_part
    words = rng.choice(len(vocab), int(lens[:n_base].sum()), p=p)
    texts = np.split(words, np.cumsum(lens[:n_base])[:-1])
    bases = rng.integers(0, max(1, n_base // 4), n_part + n_dup) * 4
    for j, b in enumerate(bases):
        src = texts[b].copy()
        k = max(1, int(round((0.17 if j < n_part else 0.04) * len(src))))
        src[rng.choice(len(src), k, replace=False)] = rng.choice(
            len(vocab), k, p=p
        )
        texts.append(src)
    planted = [(n_base + j, int(b)) for j, b in enumerate(bases) if j >= n_part]
    return [" ".join(vocab[t] for t in ws) for ws in texts], planted


def gen_prep(out: str, seed: int, docs: int) -> dict:
    """A Common Crawl-shaped CDX + WARC tree whose text/html payloads are a
    synthetic corpus with planted near-duplicates. Index lines follow
    fixtures.generate: 200 Zipf hosts, ~2% dirty lines (unsplittable,
    trailing garbage, broken JSON, missing mime-detected, blank line),
    ~10% truncated records, 5% non-200 statuses, 2% digest mismatches and
    1% empty payloads."""
    from commoncrawl_fetcher_lite_spark.fixtures import make_warc_member, sha1_b32

    rng = np.random.default_rng(seed)
    texts, planted = corpus_texts(rng, docs)
    hosts = _zipf_ranks(rng, 200, docs)
    roll = rng.random((docs, 5))
    order = rng.permutation(docs)  # planted copies spread over the index
    n_files, n_warcs = 4, 8
    warcs = [bytearray() for _ in range(n_warcs)]
    lines: list[list[str]] = [[] for _ in range(n_files)]
    urls = [""] * docs
    os.makedirs(os.path.join(out, "warcs"), exist_ok=True)
    for pos, i in enumerate(order):
        host = f"site{hosts[i]:03d}.example.com"
        path = f"/d/{i}.html"
        url = urls[i] = f"https://{host}{path}"
        payload = b"" if roll[i, 4] < 0.01 else texts[i].encode()
        member = make_warc_member(url, "text/html", payload)
        w = pos % n_warcs
        rec = {
            "url": url,
            "mime": "text/html",
            "mime-detected": "text/html",
            "status": "404" if roll[i, 1] < 0.05 else "200",
            "digest": sha1_b32(payload) if roll[i, 3] >= 0.02 else "X" * 32,
            "length": str(len(member)),
            "offset": str(len(warcs[w])),
            "filename": f"crawl-data/CC-BENCH/warc/CC-BENCH-{w:05d}.warc.gz",
        }
        if roll[i, 2] < 0.10:
            rec["truncated"] = "length"
        warcs[w] += member
        surt = ",".join(reversed(host.split("."))) + ")" + path
        ts = "20230101120000"
        dirty = roll[i, 0]
        body = json.dumps(rec, separators=(",", ": "))
        line = f"{surt} {ts} {body}"
        if dirty < 0.004:
            line = f"{surt}{ts}{body}"
        elif dirty < 0.008:
            line += " trailing-garbage-after-json"
        elif dirty < 0.012:
            line = f"{surt} {ts} {{not valid json at all"
        elif dirty < 0.016:
            del rec["mime-detected"]
            line = f"{surt} {ts} {json.dumps(rec, separators=(',', ': '))}"
        elif dirty < 0.020:
            lines[pos % n_files].append("   ")
        lines[pos % n_files].append(line)
    index_paths = []
    for k in range(n_files):
        p = os.path.join(out, f"cdx-{k:05d}.gz")
        with gzip.open(p, "wt", encoding="utf-8") as f:
            f.write("\n".join(lines[k]) + "\n")
        index_paths.append(p)
    for k, buf in enumerate(warcs):
        with open(os.path.join(out, "warcs", f"CC-BENCH-{k:05d}.warc.gz"), "wb") as f:
            f.write(buf)
    return {
        "index_paths": index_paths,
        "planted_pairs": [sorted((urls[a], urls[b])) for a, b in planted],
    }


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    size = SIZES[workload]
    if workload == "crawl_frontier":
        truth = gen_crawl(out, seed, size["seeds"], size["hosts"])
    elif workload == "corpus_prep":
        truth = gen_prep(out, seed, size["docs"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    truth["size"] = size
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main(sys.argv[1:]))
