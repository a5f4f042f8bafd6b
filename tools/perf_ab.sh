#!/usr/bin/env bash
# A/B the perfbench benchmark: a base ref against HEAD, run in alternation
# with the same seeds, in one host window.
#
#   tools/perf_ab.sh [-b BASE] [-n SEEDS] [-f FIRST_SEED] [-t TRACE]
#                    [-o OUTDIR] [WORKLOAD...]
#
#   -b  base ref (default HEAD~1)      -n  seeds per workload (default 10)
#   -f  first seed (default 1)         -t  --trace 0|1 (default 0)
#   -o  where the result lines go (default: a new directory under $TMPDIR)
#   WORKLOAD...  default: the workloads BENCHMARK.json lists
#
# Every run lasts BENCHMARK.json's `run_seconds`, the same on both sides.
# Each ref's committed files are exported with `git archive` into a fresh
# directory under ${TMPDIR:-/tmp} (removed at exit), so both sides build
# from committed source as a clean checkout would and the working tree is
# never touched. For every workload and seed the two sides run back to back,
# base first on odd pairs and head first on even ones, so slow drift in host
# load does not favour one side. Prints, per metric of the result object,
# each pair's base -> head values, the medians, the base IQR and, for the
# metrics BENCHMARK.json declares, how many pairs the head won by its
# `better` direction (ties count for neither side), plus `failed`; run with
# `-t 1 -n 1` for one traced pair of per-layer metrics. Each run's report
# (perfbench's `.bench_results/<workload>-seed<N>-trace<T>.json`, which goes
# with the exported tree) is kept in OUTDIR beside its result line, as
# `<side>-<workload>-seed<N>-trace<T>.report.json`; with `-t 1` the per-side
# medians of the extraction pass's stage split (`pipeline.scan_stage_s`,
# `pipeline.map_stage_s`, `pipeline.shuffle_bytes_per_turn`) are printed
# from those reports. Run from the repo.
#
# For each end-to-end metric BENCHMARK.json gates, one verdict line (untraced
# runs only: a traced run's result carries the per-layer metrics alone):
#   gain          the head wins at least 9/10 of at least 10 pairs, and the
#                 medians differ, head better, by more than the base IQR;
#   regressed     the head median is worse than the base median by more
#                 than the metric's `bound` (a fraction of the base median);
#   unresolved    the base IQR exceeds `bound` x base median, unless every
#                 head run beats every base run;
#   within bound  otherwise.
set -euo pipefail

base=HEAD~1 head=HEAD seeds=10 first=1 trace=0 out=""
while getopts "b:n:f:t:o:" opt; do
  case $opt in
    b) base=$OPTARG ;; n) seeds=$OPTARG ;; f) first=$OPTARG ;;
    t) trace=$OPTARG ;; o) out=$OPTARG ;;
    *) sed -n '2,39p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))

repo=$(git rev-parse --show-toplevel)
mapfile -t bench < <(python3 -c 'import json,sys
b = json.load(open(sys.argv[1])); print(b["run_seconds"])
for w in b["workloads"]: print(w["name"])' "$repo/BENCHMARK.json")
seconds=${bench[0]}
if [ $# -gt 0 ]; then workloads=("$@"); else workloads=("${bench[@]:1}"); fi

work=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
trap 'rm -rf "$work"' EXIT
out=${out:-$(mktemp -d "${TMPDIR:-/tmp}/perf_ab_results.XXXXXX")}
mkdir -p "$out"

for side in base head; do
  ref=${!side}
  mkdir "$work/$side"
  git -C "$repo" archive "$(git -C "$repo" rev-parse --verify "$ref^{commit}")" | tar -x -C "$work/$side"
  echo "[perf_ab] $side = $ref ($(git -C "$repo" rev-parse --short "$ref"))" >&2
done

run() { # side workload seed
  local f="$out/$1-$2-seed$3-trace$trace.json"
  local report="$work/$1/.bench_results/$2-seed$3-trace$trace.json"
  echo "[perf_ab] $1 $2 seed $3" >&2
  rm -f "$report"
  (cd "$work/$1" && python3 perfbench/run.py --workload "$2" --seed "$3" \
    --seconds "$seconds" --trace "$trace") | tail -n 1 > "$f" || echo '{}' > "$f"
  if [ -f "$report" ]; then cp "$report" "${f%.json}.report.json"; fi
}

for w in "${workloads[@]}"; do
  for ((k = 0; k < seeds; k++)); do
    seed=$((first + k))
    if ((k % 2 == 0)); then run base "$w" "$seed"; run head "$w" "$seed"
    else run head "$w" "$seed"; run base "$w" "$seed"; fi
  done
done

python3 - "$repo/BENCHMARK.json" "$out" "$trace" "$first" "$seeds" "${workloads[@]}" <<'EOF'
import json, statistics, sys
bench, out, trace = json.load(open(sys.argv[1])), sys.argv[2], sys.argv[3]
first, n, workloads = int(sys.argv[4]), int(sys.argv[5]), sys.argv[6:]
lead = ["setup_s", "ops_per_s", "cpu_us_per_op"]
better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}

def load(side, w, seed, suffix=""):
    try:
        with open(f"{out}/{side}-{w}-seed{seed}-trace{trace}{suffix}.json") as f:
            return json.loads(f.read() or "{}")
    except (OSError, ValueError):
        return {}

stages = ["pipeline.scan_stage_s", "pipeline.map_stage_s", "pipeline.shuffle_bytes_per_turn"]

def stage(side, w, seed, m):  # a traced run's report holds the pass's stage split
    v = load(side, w, seed, ".report").get("report", {}).get(m)
    return v if isinstance(v, (int, float)) else None

def value(r, m):  # a metric is {"value": v, "unit": u}
    v = r.get("metrics", {}).get(m)
    v = v.get("value") if isinstance(v, dict) else v
    return v if isinstance(v, (int, float)) else None

def fmt(v):
    return "-" if v is None else f"{v:.4g}"

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None

def iqr(xs):
    xs = [x for x in xs if x is not None]
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]

def wins(m, bs, hs):  # pairs the head won, of the pairs with both values
    both = [(x, y) for x, y in zip(bs, hs) if x is not None and y is not None]
    if m not in better or not both:
        return ""
    sign = 1 if better[m] == "higher" else -1
    return f", head wins {sum(sign * (y - x) > 0 for x, y in both)}/{len(both)}"

def verdict(m, bs, hs):  # the rules in the header, for one gated metric
    both = [(x, y) for x, y in zip(bs, hs) if x is not None and y is not None]
    if not both:
        return "no data"
    bs, hs = [x for x, _ in both], [y for _, y in both]
    sign = 1 if better[m] == "higher" else -1
    mb, mh, spread = median(bs), median(hs), iqr(bs) or 0.0
    won = sum(sign * (y - x) > 0 for x, y in both)
    rel = sign * (mh - mb) / mb if mb else 0.0  # > 0: the head is better
    facts = (f"head median {rel * 100:+.1f} % (+ is better), bound {bound[m] * 100:.0f} %, "
             f"base IQR/median {spread / mb * 100 if mb else 0:.1f} %, "
             f"head wins {won}/{len(both)}")
    if len(both) >= 10 and won >= 0.9 * len(both) and sign * (mh - mb) > spread:
        return f"gain ({facts})"
    if rel < -bound[m]:
        return f"regressed ({facts})"
    if mb and spread / abs(mb) > bound[m] and \
            not all(sign * (y - x) > 0 for x in bs for y in hs):
        return f"unresolved ({facts})"
    return f"within bound ({facts})"

for w in workloads:
    pairs = [(s, load("base", w, s), load("head", w, s)) for s in range(first, first + n)]
    names = sorted({m for _, b, h in pairs for r in (b, h) for m in r.get("metrics", {})},
                   key=lambda m: (m not in lead, lead.index(m) if m in lead else 0, m))
    print(f"== {w} (trace {trace}; base -> head)")
    for s, b, h in pairs:
        print(f"  seed {s}: failed {b.get('failed', '?')} -> {h.get('failed', '?')}, "
              f"correct {b.get('correct', '?')} -> {h.get('correct', '?')}")
    for m in names:
        bs = [value(b, m) for _, b, _ in pairs]
        hs = [value(h, m) for _, _, h in pairs]
        mb, mh = median(bs), median(hs)
        rel = f" ({(mh / mb - 1) * 100:+.1f} %)" if mb and mh is not None else ""
        per = "  ".join(f"{fmt(x)}->{fmt(y)}" for x, y in zip(bs, hs))
        print(f"  {m:28s} median {fmt(mb)} -> {fmt(mh)}{rel}, base IQR {fmt(iqr(bs))}"
              f"{wins(m, bs, hs)}   pairs: {per}")
    if trace == "1":
        for m in stages:
            bs = [stage("base", w, s, m) for s, _, _ in pairs]
            hs = [stage("head", w, s, m) for s, _, _ in pairs]
            mb, mh = median(bs), median(hs)
            rel = f" ({(mh / mb - 1) * 100:+.1f} %)" if mb and mh is not None else ""
            print(f"  {m:32s} median {fmt(mb)} -> {fmt(mh)}{rel} (from the run reports)")
    for m in bound if trace == "0" else []:  # a traced run reports per-layer metrics only
        bs = [value(b, m) for _, b, _ in pairs]
        hs = [value(h, m) for _, _, h in pairs]
        print(f"  verdict {m}: {verdict(m, bs, hs)}")
print(f"[perf_ab] result lines in {out}", file=sys.stderr)
EOF
