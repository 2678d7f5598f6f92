#!/bin/bash
# One scale-curve point with PER-LANE JVM ISOLATION: each lane runs in
# its own fresh JVM (its own warm pass + SPARK_GRAFT_BENCH_PASSES timed
# passes via run_bench.sh), and the per-lane detailed records are merged
# into a single curve record. Rationale (round 13): in a shared session
# the 30x point inflated e_rand_proj — a pure narrow map — from ~7 s to
# 49 s purely because it ran after d_wminhash_md5; dead blocks and
# shuffle files from finished lanes linger until ContextCleaner's
# periodic GC (default 30 min) fires, so late lanes inherit the heap and
# tmpfs-scratch residue of earlier ones. A scaling gate must measure the
# lane's plan, not the harness's allocation history; isolation pins that
# convention, and the record says so ("isolation":"jvm_per_lane").
# Cross-round curve comparisons are only valid between records whose
# passes/per_query_stat/isolation fields all match. Each lane's "stage"
# entry (jobs, task time, shuffle bytes, heaviest stage) is carried over
# next to its time, so a curve point shows where a lane's bytes grew.
#
# Usage: SPARK_GRAFT_SF_DIR=... [SPARK_GRAFT_BENCH_PASSES=2] \
#        tools/run_curve.sh OUT.json lane1,lane2,...
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:?usage: run_curve.sh OUT.json lane1,lane2,...}"
LANES="${2:?usage: run_curve.sh OUT.json lane1,lane2,...}"
TMPD=$(mktemp -d /tmp/curve_lanes.XXXXXX)
LOAD_START=$(cut -d' ' -f1-3 /proc/loadavg | tr ' ' ',')
for lane in ${LANES//,/ }; do
  rm -rf /dev/shm/graft_bench_scratch "${SPARK_GRAFT_SCRATCH:-}" 2>/dev/null || true
  echo "[curve] $lane @ ${SPARK_GRAFT_SF_DIR} load=$(cut -d' ' -f1-3 /proc/loadavg)" >&2
  # A lane failure (e.g. an OOM-killed JVM) must not abort the whole
  # point: record it loudly and move on — the gate's
  # skipped_underscoped output surfaces lanes missing a point.
  SPARK_GRAFT_BENCH_ONLY="$lane" tools/run_bench.sh "$TMPD/$lane.json" ||
    echo "[curve] LANE FAILED (exit $?): $lane @ ${SPARK_GRAFT_SF_DIR}" >&2
done
LOAD_END=$(cut -d' ' -f1-3 /proc/loadavg | tr ' ' ',')
python3 - "$OUT" "$TMPD" "$LOAD_START" "$LOAD_END" <<'EOF'
import json, sys, glob
out, tmpd, ls, le = sys.argv[1:5]
queries, stage, passes = {}, {}, None
for f in sorted(glob.glob(tmpd + "/*.json")):
    for line in open(f):
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(d, dict) and "queries" in d:
            queries.update(d["queries"])
            stage.update(d.get("stage", {}))
            passes = d.get("passes", passes)
            sf = d.get("sf")
            break
rec = {"metric": "total", "value": sum(queries.values()), "unit": "sec",
       "passes": passes, "per_query_stat": "min_of_passes",
       "isolation": "jvm_per_lane", "queries": queries, "stage": stage, "sf": sf,
       "loadavg_start": ls, "loadavg_end": le}
with open(out, "w") as fh:
    fh.write(json.dumps(rec) + "\n")
print(json.dumps({k: round(v, 2) for k, v in
                  sorted(queries.items(), key=lambda x: -x[1])}))
EOF
rm -rf "$TMPD"
