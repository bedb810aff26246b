#!/bin/bash
# Interleaved A/B of perfbench: a committed ref (the parent) against this
# checkout (the change), one pair of runs per seed.
#
#   ab_bench.sh <parent-ref> <workload> <seed>...
#   e.g. ab_bench.sh HEAD~1 corpus_prep 51 52 53 54 55 56 57 58 59 60
#
# The parent tree is exported with `git archive` into a temporary directory
# (under $TMPDIR, default /tmp) and removed at exit; an export leaves no
# worktree entry behind in .git if the script is killed. The order of the
# two runs alternates from seed to seed so machine drift cancels. Every
# run's result line is printed as it finishes; the summary gives, per
# metric, the median and quartiles of each side and the pairs the change
# won (direction from BENCHMARK.json). For each end-to-end metric it also
# gives the change median's relative delta against the parent median and
# flags WORSE>bound when the delta is worse than that metric's `bound` in
# BENCHMARK.json (the no-regression rule), and UNRESOLVED when the parent
# runs' quartile spread (q3-q1)/median is wider than that bound, unless
# every change run beats every parent run: such a delta cannot be told
# from run-to-run noise. TRACE=1 compares per-layer metrics.
# Results are kept in $AB_OUT (default: a file in the temporary directory,
# removed at exit).
set -euo pipefail

if [ "$#" -lt 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <seed>..." >&2
  exit 2
fi
REF="$1"; WORKLOAD="$2"; shift 2
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
TRACE="${TRACE:-0}"
SECONDS_PER_RUN="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1])).get("run_seconds", 5))' "$HERE/BENCHMARK.json")"

TMP="$(mktemp -d "${TMPDIR:-/tmp}/ab_bench.XXXXXX")"
trap 'rm -rf "$TMP"' EXIT
PARENT="$TMP/parent"
mkdir -p "$PARENT"
git -C "$HERE" archive "$REF" | tar -x -C "$PARENT"
OUT="${AB_OUT:-$TMP/results.jsonl}"
: > "$OUT"

run() {  # run <side> <tree> <seed>: appends {"side", "seed", "result"}
  local side="$1" tree="$2" seed="$3" line
  line="$(cd "$tree" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$seed" --seconds "$SECONDS_PER_RUN" --trace "$TRACE" 2>/dev/null \
    | tail -n 1)" || true
  echo "$side seed=$seed $line"
  python3 -c 'import json,sys; print(json.dumps({"side": sys.argv[1], "seed": int(sys.argv[2]), "result": json.loads(sys.argv[3]) if sys.argv[3].startswith("{") else None}))' \
    "$side" "$seed" "$line" >> "$OUT"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$PARENT" "$seed"; run change "$HERE" "$seed"
  else
    run change "$HERE" "$seed"; run parent "$PARENT" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$OUT" "$HERE/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bench = json.load(open(sys.argv[2]))
better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
runs = {}  # (side, seed) -> result
for r in rows:
    runs[(r["side"], r["seed"])] = r["result"]
seeds = sorted({s for _, s in runs})
bad = [k for k, v in runs.items() if not v or not v.get("correct")
       or v.get("failed")]
print(f"\n{len(seeds)} seeds; runs failed or incorrect: {sorted(bad) or 'none'}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


names = sorted({n for v in runs.values() if v for n in v.get("metrics", {})})
print(f"{'metric':40} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} won"
      f"  delta (end-to-end)")
for name in names:
    vals = {side: [] for side in ("parent", "change")}
    won = pairs = 0
    for seed in seeds:
        p, c = runs.get(("parent", seed)), runs.get(("change", seed))
        pv = p and p["metrics"].get(name, {}).get("value")
        cv = c and c["metrics"].get(name, {}).get("value")
        if pv is not None:
            vals["parent"].append(pv)
        if cv is not None:
            vals["change"].append(cv)
        if pv is not None and cv is not None:
            pairs += 1
            won += (cv > pv) if better.get(name) == "higher" else (cv < pv)
    if not vals["parent"] or not vals["change"]:
        continue
    cols = [
        "/".join(f"{x:.4g}" for x in quartiles(vals[side]))
        for side in ("parent", "change")
    ]
    verdict = ""
    if name in bound:
        pm, cm = statistics.median(vals["parent"]), statistics.median(vals["change"])
        delta = (cm - pm) / pm if pm else 0.0
        worse = -delta if better[name] == "higher" else delta
        verdict = f"  {delta:+.1%}" + (
            f" WORSE>bound {bound[name]:.0%}" if worse > bound[name] else ""
        )
        q1, _, q3 = quartiles(vals["parent"])
        spread = (q3 - q1) / pm if pm else 0.0
        # every change run better than every parent run
        if better[name] == "higher":
            separated = min(vals["change"]) > max(vals["parent"])
        else:
            separated = max(vals["change"]) < min(vals["parent"])
        if spread > bound[name] and not separated:
            verdict += f" UNRESOLVED spread {spread:.0%}"
    print(f"{name:40} {cols[0]:>28} {cols[1]:>28} {won}/{pairs}{verdict}")
EOF
