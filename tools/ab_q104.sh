#!/bin/bash
# q104 Fixpoint A/B (VERDICT r14 #2): r13 code (pre stride-aware
# checkpointRound, commit 69e5066) vs current main, interleaved
# A B A B A B so host drift cancels. Each run = one fresh JVM of
# Bench's min-of->=3-samples protocol on q104 only.
# On trees with the small-graph driver side (Fixpoint.onDriver), q104
# runs the distributed Fixpoint/unroll path only on pair lists larger
# than Fixpoint.DRIVER_MAX_PAIRS; every shipped sf (sf0.1: 490 pairs,
# sf1: ~286k) is below it, so there the B side measures the driver
# kernel, not the distributed loop.
# Usage: tools/ab_q104.sh <r13-tree> <main-tree> <out-prefix> [sfdir]
set -e
A="$1"; B="$2"; PREFIX="$3"; SFDIR="${4:-/root/testdata/sf0.1}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() { # $1 = tree, $2 = tag
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_BENCH_ONLY=q104_pagerank \
  SPARK_GRAFT_BENCH_TAG="$2" SPARK_GRAFT_REPO=/root/repo \
  SPARK_GRAFT_CPUS=32 java $OPENS -Xmx8g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1/target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    >/dev/null 2>&1
}
for i in 1 2 3; do
  echo "=== pair $i/3 loadavg=$(cut -d' ' -f1 /proc/loadavg) ===" >&2
  run "$A" "$(basename "$PREFIX" | sed -E 's/^bench_only_sf[0-9.]+_//')_A${i}"
  run "$B" "$(basename "$PREFIX" | sed -E 's/^bench_only_sf[0-9.]+_//')_B${i}"
done
python3 - "$PREFIX" <<'EOF'
import json, sys
prefix = sys.argv[1]
def mins(side):
    return [json.load(open(f"{prefix}_{side}{i}.json"))["queries_min"]
            ["q104_pagerank"] for i in (1, 2, 3)]
a, b = mins("A"), mins("B")
out = {"protocol": "interleaved A/B, 3 fresh JVMs per side, each Bench "
       "min-of->=3 samples; A = r13 Fixpoint (69e5066), B = current main",
       "A_r13_per_jvm": a, "B_main_per_jvm": b,
       "A_r13_min": min(a), "B_main_min": min(b)}
json.dump(out, open(f"{prefix}.json", "w"), indent=1)
print(json.dumps(out, indent=1))
EOF
