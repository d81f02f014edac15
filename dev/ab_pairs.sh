#!/usr/bin/env bash
# Alternating A/B pairs of the repository benchmark (perfbench).
#
#   dev/ab_pairs.sh <workload> <checkoutA> <checkoutB> <seed>...
#
# For every seed, runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds 10 --trace 0` once in each checkout, back to back,
# swapping which side goes first from one seed to the next (A first on the
# first seed). A is the parent, B the change. Per run it prints the four
# bounded end-to-end metrics and the per-op CPU medians from
# `perfbench/.cache/results/<workload>_s<seed>_t0.json`; at the end, each
# metric's median per side, the pairs B won and A's quartiles, and the same
# three figures for each op kind's per-run CPU median. A gain is worth
# claiming when B wins (nearly) every pair and the medians differ by more
# than A's interquartile range.
#
# Build the B side from `git worktree add` or a fresh `git clone`, never
# from a `cp -a` of a built checkout: sbt's incremental state in the copy
# still names the original's class directory, and rebuilding the copy
# deletes the original's compiled `graft/` classes (its next runs then fail
# with `NoClassDefFoundError: graft/GraftExtensions`).
#
# Each run's own output goes to `perfbench/.cache/ab_pairs/` inside its
# checkout; the script writes nothing outside the two checkouts.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,4p' "$0" >&2
  exit 2
fi
workload=$1 a=$(cd "$2" && pwd) b=$(cd "$3" && pwd)
shift 3

run() { # <checkout> <seed>
  local logdir="$1/perfbench/.cache/ab_pairs"
  mkdir -p "$logdir"
  if ! (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
          --seconds 10 --trace 0) >"$logdir/${workload}_s$2.log" 2>&1; then
    echo "run failed: $1 seed $2 (see $logdir/${workload}_s$2.log)" >&2
    exit 1
  fi
}

first=a
for seed in "$@"; do
  if [ $first = a ]; then run "$a" "$seed"; run "$b" "$seed"; first=b
  else run "$b" "$seed"; run "$a" "$seed"; first=a; fi
  python3 - "$workload" "$a" "$b" "$seed" <<'EOF'
import json, statistics, sys
workload, a, b, seed = sys.argv[1:]
for side, root in (("A", a), ("B", b)):
    r = json.load(open(f"{root}/perfbench/.cache/results/{workload}_s{seed}_t0.json"))
    e = r["end_to_end"]
    kinds = {}
    for name, _wall, _ok, cpu in r["ops"]:
        kinds.setdefault(name, []).append(cpu)
    # log_stream's ops are files and carry no CPU of their own
    per_op = " ".join(f"{k}={statistics.median(v):.3f}" for k, v in sorted(kinds.items()) if any(v))
    print(f"seed {seed} {side}  setup_s={e['setup_s']:.3f} op_cpu_s={e['op_cpu_s']:.4f} "
          f"peak_rss_mb={e['peak_rss_mb']:.1f} heap_live_mb={e['heap_live_mb']:.2f} "
          f"correct={r['failed'] == 0}" + (f"  op cpu medians: {per_op}" if per_op else ""), flush=True)
EOF
done

python3 - "$workload" "$a" "$b" "$@" <<'EOF'
import json, statistics, sys
workload, a, b, *seeds = sys.argv[1:]
bounded = json.load(open(f"{a}/BENCHMARK.json"))["end_to_end"]
load = lambda root, s: json.load(open(f"{root}/perfbench/.cache/results/{workload}_s{s}_t0.json"))
runs = {side: [load(root, s) for s in seeds] for side, root in (("A", a), ("B", b))}

def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3

print(f"\n{workload}, {len(seeds)} pairs (seeds {' '.join(seeds)}):")
for m in bounded:
    name, lower = m["name"], m["better"] == "lower"
    va = [r["end_to_end"][name] for r in runs["A"]]
    vb = [r["end_to_end"][name] for r in runs["B"]]
    won = sum((y < x) if lower else (y > x) for x, y in zip(va, vb))
    ma, mb = statistics.median(va), statistics.median(vb)
    q1, _, q3 = quartiles(va)
    print(f"  {name:<13} A {ma:10.4f}  B {mb:10.4f}  ({(mb - ma) / ma:+.1%})  "
          f"B better in {won} of {len(seeds)}  A quartiles [{q1:.4f}, {q3:.4f}]")
kinds = sorted({o[0] for r in runs["A"] for o in r["ops"] if o[3]})
if kinds:
    print("  per-op CPU medians (s), A -> B, over each run's median of the op:")
for k in kinds:
    # one value per run: that run's median CPU of op k (None if it has none)
    per_run = lambda side: [statistics.median(cs) if (cs := [o[3] for o in r["ops"] if o[0] == k]) else None
                            for r in runs[side]]
    va, vb = per_run("A"), per_run("B")
    pairs = [(x, y) for x, y in zip(va, vb) if x is not None and y is not None]
    if not pairs:
        continue
    xa, xb = [x for x, _ in pairs], [y for _, y in pairs]
    ma, mb = statistics.median(xa), statistics.median(xb)
    won = sum(y < x for x, y in pairs)
    q1, _, q3 = quartiles(xa)
    print(f"    {k:<14} {ma:.4f} -> {mb:.4f} ({(mb - ma) / ma if ma else 0:+.1%})  "
          f"B lower in {won} of {len(pairs)}  A quartiles [{q1:.4f}, {q3:.4f}]")
EOF
