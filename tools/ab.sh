#!/bin/bash
# A/B by commit: run graft.Bench on two revisions in alternating pairs
# and judge each row by the paired rule. A row is "improved" when the
# change is faster in at least 9 of every 10 pairs AND the two medians
# differ by more than the base's interquartile range; "worse" is the
# same with the sides swapped; "unchanged" when the medians are within
# that range and neither side wins 9 of 10; "unresolved" otherwise.
# Ties count for neither side.
#
# Usage: tools/ab.sh BASE_REV CHANGE_REV ROWS [PAIRS=10] [CPUS]
#        tools/ab.sh --selftest
#   ROWS   comma-separated Bench rows (passed as SPARK_GRAFT_BENCH_ONLY)
#   PAIRS  base first in odd pairs, change first in even pairs
#   CPUS   SPARK_GRAFT_CPUS of every leg (default: the machine's cores)
# Each revision is exported once (git archive) into AB_WORK (default: a
# new temp dir) and compiled once there with sbt; every leg is then one
# `sbt runMain graft.Bench` JVM in that checkout. Other settings reach
# the legs through the environment: SPARK_GRAFT_SF_DIR (Bench's default
# scale when unset), SPARK_DRIVER_MEM, SBT_OPTS.
# Exit status: 0 when every leg ran clean, 1 when a leg failed (no
# result, or a selected row failed) or ran on a contended host, 2 on
# bad usage.
set -u

judge() { # judge LEGDIR PAIRS ROWS: print leg lines and per-row verdicts
python3 - "$@" <<'PY'
import json, math, statistics, sys

legdir, pairs, rows = sys.argv[1], int(sys.argv[2]), sys.argv[3].split(",")
bad = []

def leg(side, i):
    path = f"{legdir}/{side}_{i}.json"
    try:
        with open(path) as f:
            d = json.loads(f.readline())
    except (OSError, ValueError) as e:
        bad.append(f"{side} leg {i}: no result ({e})")
        return {}
    if d.get("contended"):
        bad.append(f"{side} leg {i}: host contended")
    q = d.get("queries", {})
    for r in rows:
        if r in d.get("failed", []) or q.get(r, -1) < 0:
            bad.append(f"{side} leg {i}: {r} failed: "
                       f"{d.get('failures', {}).get(r, 'no time')}")
    return q

legs = {(s, i): leg(s, i) for i in range(1, pairs + 1)
        for s in ("base", "change")}
for (s, i), q in sorted(legs.items(), key=lambda kv: (kv[0][1], kv[0][0])):
    print(f"leg {i:2d} {s:6s} " +
          " ".join(f"{r}={q[r]:.2f}" for r in rows if q.get(r, -1) >= 0))

def verdict(base, change):
    need = math.ceil(0.9 * len(base))
    wins = sum(c < b for b, c in zip(base, change))
    losses = sum(c > b for b, c in zip(base, change))
    q1, mb, q3 = statistics.quantiles(base, n=4)
    d = mb - statistics.median(change)
    if wins >= need and d > q3 - q1:
        v = "improved"
    elif losses >= need and -d > q3 - q1:
        v = "worse"
    elif abs(d) <= q3 - q1 and max(wins, losses) < need:
        v = "unchanged"
    else:
        v = "unresolved"
    return wins, losses, v

def summary(xs):
    q1, m, q3 = statistics.quantiles(xs, n=4)
    return f"{m:7.2f} [{q1:.2f},{q3:.2f}]"

print(f"{'row':32s} {'base median [q1,q3]':>22s} "
      f"{'change median [q1,q3]':>22s} wins losses verdict")
for r in rows:
    ok = [i for i in range(1, pairs + 1)
          if legs[("base", i)].get(r, -1) >= 0
          and legs[("change", i)].get(r, -1) >= 0]
    if len(ok) < pairs or pairs < 2:
        print(f"{r:32s} {'':>22s} {'':>22s} {'':>4s} {'':>6s} failed")
        continue
    b = [legs[("base", i)][r] for i in ok]
    c = [legs[("change", i)][r] for i in ok]
    wins, losses, v = verdict(b, c)
    print(f"{r:32s} {summary(b):>22s} {summary(c):>22s} "
          f"{wins:4d} {losses:6d} {v}")
for m in bad:
    print(f"ERROR {m}", file=sys.stderr)
sys.exit(1 if bad else 0)
PY
}

selftest() { # fixed leg data: one row per verdict, then a failed leg
  local d out rc=0; d=$(mktemp -d)
  python3 - "$d" <<'PY'
import json, sys
d = sys.argv[1]
base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
change = {
    "q_improved":   [b - 1.5 for b in base],
    "q_worse":      [b + 1.5 for b in base],
    "q_unchanged":  [b + (0.05 if i % 2 else -0.05) for i, b in enumerate(base)],
    "q_unresolved": [b - 1.5 if i < 7 else b + 0.5 for i, b in enumerate(base)],
}
def write(side, i, q, failed=()):
    with open(f"{d}/{side}_{i}.json", "w") as f:
        f.write(json.dumps({"metric": "total", "queries": q,
                            "failed": list(failed), "contended": False}) + "\n")
for i in range(10):
    write("base", i + 1, {r: base[i] for r in change})
    write("change", i + 1, {r: v[i] for r, v in change.items()})
PY
  out=$(judge "$d" 10 q_improved,q_worse,q_unchanged,q_unresolved 2>&1) \
    || { echo "$out"; echo "selftest FAILED: clean legs exited non-zero"; rc=1; }
  for r in improved worse unchanged unresolved; do
    grep -Eq "^q_$r .* $r\$" <<<"$out" \
      || { echo "$out"; echo "selftest FAILED: q_$r is not $r"; rc=1; }
  done
  # a leg whose row threw: Bench reports -1 and names it in "failed"
  python3 - "$d" <<'PY'
import json, sys
p = f"{sys.argv[1]}/change_4.json"
d = json.loads(open(p).readline())
d["queries"]["q_worse"] = -1.0
d["failed"] = ["q_worse"]
d["failures"] = {"q_worse": "java.lang.ArithmeticException: boom"}
open(p, "w").write(json.dumps(d) + "\n")
PY
  if out=$(judge "$d" 10 q_improved,q_worse 2>&1); then
    echo "$out"; echo "selftest FAILED: a failed leg exited zero"; rc=1
  fi
  grep -q "^ERROR change leg 4: q_worse failed: .*boom" <<<"$out" \
    && grep -Eq "^q_worse .* failed$" <<<"$out" \
    || { echo "$out"; echo "selftest FAILED: failed leg not reported"; rc=1; }
  rm -rf "$d"
  [ "$rc" = 0 ] && echo "selftest ok"
  return "$rc"
}

if [ "${1:-}" = "--selftest" ]; then selftest; exit $?; fi
if [ $# -lt 3 ]; then sed -n '10,14p' "$0" >&2; exit 2; fi
BASE=$1; CHANGE=$2; ROWS=$3; PAIRS=${4:-10}; CPUS=${5:-$(nproc)}
REPO=$(cd "$(dirname "$0")/.." && pwd)
WORK=${AB_WORK:-$(mktemp -d -t graft-ab.XXXXXX)}
mkdir -p "$WORK/legs"

for side in base change; do
  rev=$BASE; [ "$side" = change ] && rev=$CHANGE
  sha=$(git -C "$REPO" rev-parse --verify "$rev^{commit}") \
    || { echo "ab: unknown revision $rev" >&2; exit 2; }
  echo "[ab] $side = $rev ($sha): export and compile in $WORK/$side" >&2
  rm -rf "${WORK:?}/$side"; mkdir -p "$WORK/$side"
  git -C "$REPO" archive "$sha" | tar -x -C "$WORK/$side"
  (cd "$WORK/$side" && sbt -batch compile) > "$WORK/$side.build.log" 2>&1 \
    || { echo "ab: $side build failed, see $WORK/$side.build.log" >&2; exit 1; }
done

run_leg() { # run_leg SIDE PAIR
  local log="$WORK/legs/$1_$2"
  echo "[ab] pair $2 $1: $(date -u +%H:%M:%S)" >&2
  (cd "$WORK/$1" && SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_ONLY=$ROWS \
    SPARK_GRAFT_BENCH_PROGRESS="$log.progress.jsonl" \
    sbt -batch 'runMain graft.Bench') > "$log.stdout" 2> "$log.stderr"
  grep -F '"metric"' "$log.stdout" | head -1 > "$log.json"
}
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) = 1 ]; then run_leg base "$i"; run_leg change "$i"
  else run_leg change "$i"; run_leg base "$i"; fi
done
echo "[ab] legs and logs in $WORK/legs" >&2
judge "$WORK/legs" "$PAIRS" "$ROWS"
