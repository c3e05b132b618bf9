#!/bin/bash
# Direct-JVM bench wrapper (same flags as build.sbt's run fork) so a
# bench can run while sbt holds the build lock.
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
# Classpath is derived from this script's own location so a checkout or
# worktree benches ITSELF, not /root/repo (a hard-coded path once made an
# A/B run bench the wrong tree).
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"

# --ab <ref>: STRUCTURAL same-box A/B — check out <ref> in a throwaway
# worktree, compile it, bench it, then bench the current tree
# back-to-back, and write the {prev, shipped} totals + loadavg into
# BENCH_AB.json at the repo root. graft.Bench embeds that file into its
# own JSON line (the "ab" key), so the round's bench artifact carries
# its own control instead of depending on a cross-session total
# comparison that box noise confounds.
if [ "$1" = "--ab" ]; then
  REF="$2"; shift 2
  set -e
  REF_SHA=$(git -C "$REPO_ROOT" rev-parse --short "$REF")
  AB_DIR=$(mktemp -d /tmp/graft_ab_XXXXXX)
  rmdir "$AB_DIR"
  git -C "$REPO_ROOT" worktree add --detach "$AB_DIR" "$REF" 1>&2
  trap 'git -C "$REPO_ROOT" worktree remove --force "$AB_DIR" 1>&2 || true' EXIT
  echo "[ab] compiling $REF_SHA in $AB_DIR" 1>&2
  # copyResources is NOT part of sbt compile: without it the classes
  # dir lacks META-INF/services/...DataSourceRegister and every
  # graft-topiclog DSv2 entry fails with DATA_SOURCE_NOT_FOUND (the
  # main tree never sees this because runMain/test copy resources
  # there) — found when the first --ab prev arm failed its 6
  # streaming-lifecycle entries deterministically
  (cd "$AB_DIR" && sbt -batch 'Compile/compile' 'Compile/copyResources' 1>&2)
  # let the compile's load decay before the FIRST arm: whichever arm
  # runs first otherwise absorbs the residual (observed: the same tree
  # at 258 s first-after-compile vs 170 s solo quiet) — bounded wait
  for i in $(seq 1 16); do
    L=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$L" 'BEGIN{exit !(l < 0.7)}' && break
    echo "[ab] post-compile loadavg $L — cooling ($i/16)" 1>&2
    sleep 30
  done
  # A-B-A ARMS (r20 — the r19 round proved arm-ORDER bias exceeds the
  # tree delta: the same pair flipped sign with orientation). Three
  # recorded passes — shipped, prev, shipped — give every entry TWO
  # (shipped, prev) pairings with the prev arm time-centered between
  # them, so linear box drift cancels per-entry when the two shipped
  # readings are averaged, and the two pairings' delta totals expose
  # any residual order bias as a sign-stability check instead of a
  # hidden confound. A loadavg-gated cooldown runs between arms (the
  # consecutive-full-bench degradation is real — 599 s recorded for a
  # 170 s tree on the 4th back-to-back pass — cooling bounds it; the
  # pairing structure cancels what remains).
  cooldown() {
    for i in $(seq 1 8); do
      L=$(cut -d' ' -f1 /proc/loadavg)
      awk -v l="$L" 'BEGIN{exit !(l < 0.7)}' && break
      echo "[ab] loadavg $L — cooling ($i/8)" 1>&2
      sleep 15
    done
  }
  LOAD0=$(cut -d' ' -f1 /proc/loadavg)
  echo "[ab] arm 1/3: shipped (HEAD), loadavg $LOAD0" 1>&2
  SHIP1_LINE=$("$REPO_ROOT/tools/bench.sh" "$@" | head -1)
  cooldown
  LOAD1=$(cut -d' ' -f1 /proc/loadavg)
  echo "[ab] arm 2/3: prev ($REF_SHA), loadavg $LOAD1" 1>&2
  PREV_LINE=$("$AB_DIR/tools/bench.sh" "$@" | head -1)
  cooldown
  LOAD2=$(cut -d' ' -f1 /proc/loadavg)
  echo "[ab] arm 3/3: shipped (HEAD), loadavg $LOAD2" 1>&2
  SHIP2_LINE=$("$REPO_ROOT/tools/bench.sh" "$@" | head -1)
  LOAD3=$(cut -d' ' -f1 /proc/loadavg)
  SHIP_SHA=$(git -C "$REPO_ROOT" rev-parse --short HEAD)
  python3 - "$REF_SHA" "$LOAD0" "$LOAD1" "$LOAD2" "$LOAD3" "$REPO_ROOT" \
      "$PREV_LINE" "$SHIP1_LINE" "$SHIP2_LINE" "$SHIP_SHA" <<'PYEOF' 1>&2
import json, sys, time
ref, l0, l1, l2, l3, root, prev_line, s1_line, s2_line, ship_sha = sys.argv[1:11]
prev = json.loads(prev_line)
s1, s2 = json.loads(s1_line), json.loads(s2_line)
common = sorted(set(prev["queries"]) & set(s1["queries"]) & set(s2["queries"]))
# per-entry drift-cancelled delta: prev - mean(shipped1, shipped2);
# positive = shipped is faster than prev on that entry
deltas = {q: round(prev["queries"][q]
               - (s1["queries"][q] + s2["queries"][q]) / 2.0, 3)
          for q in common}
pair1 = sum(prev["queries"][q] - s1["queries"][q] for q in common)
pair2 = sum(prev["queries"][q] - s2["queries"][q] for q in common)
rec = {"ref": ref, "shipped_sha": ship_sha,
       "prev_total": prev["value"],
       "shipped_total": round((s1["value"] + s2["value"]) / 2.0, 3),
       "shipped_totals": [s1["value"], s2["value"]],
       "delta_total": round(sum(deltas.values()), 3),
       "delta_total_pair1": round(pair1, 3),
       "delta_total_pair2": round(pair2, 3),
       "sign_stable": (pair1 > 0) == (pair2 > 0),
       "prev_n": len(prev["queries"]), "shipped_n": len(s1["queries"]),
       "common_n": len(common),
       "prev_failed": prev.get("failed", []),
       "shipped_failed": sorted(set(s1.get("failed", []))
                                | set(s2.get("failed", []))),
       "top_regressions": dict(sorted(deltas.items(),
                                      key=lambda kv: kv[1])[:8]),
       "top_improvements": dict(sorted(deltas.items(),
                                       key=lambda kv: -kv[1])[:8]),
       "order": "A-B-A (shipped, prev, shipped): prev time-centered, "
                "linear drift cancels per-entry; sign_stable compares "
                "the two pairings' totals",
       "loadavg": [float(l0), float(l1), float(l2), float(l3)],
       "sf": s1.get("sf", ""), "recorded_unix": int(time.time())}
with open(f"{root}/BENCH_AB.json", "w") as f:
    f.write(json.dumps(rec) + "\n")
print("[ab] wrote BENCH_AB.json:",
      json.dumps({k: rec[k] for k in ("prev_total", "shipped_total",
        "delta_total", "delta_total_pair1", "delta_total_pair2",
        "sign_stable")}))
PYEOF
  echo "$PREV_LINE"
  echo "$SHIP1_LINE"
  echo "$SHIP2_LINE"
  exit 0
fi

# anchor the per-query artifact at THIS tree's root (an A/B prev arm
# must not overwrite the shipped tree's record), keyed by core count (an
# 8-core run must not overwrite the 32-core record)
export GRAFT_BENCH_QUERIES_FILE="${GRAFT_BENCH_QUERIES_FILE:-$REPO_ROOT/BENCH_QUERIES_c${SPARK_GRAFT_CPUS:-32}.json}"
exec java $FLAGS $EXTRA_JAVA_OPTS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$REPO_ROOT/target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench "$@"
