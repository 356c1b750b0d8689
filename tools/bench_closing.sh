#!/usr/bin/env bash
# Closing-run bench capture (VERDICT r14 What's-wrong #1 / Next #2).
#
# BENCH_CLOSING_r14.json lost its payload because the capture was a
# shell redirect of sbt stdout — the last line was sbt's "[success]"
# banner, not the bench JSON, and nothing checked. This script makes
# the capture a guarded pipeline:
#
#   1. run graft.Bench with the detail file pointed at a temp path
#      (the detail file carries FULL per-query fidelity; the stdout
#      line is fit-to-2000-chars and may drop queries);
#   2. assemble the closing artifact from the DETAIL file — the same
#      machine-readable shape BENCH_CLOSING_r13.json carried: totals,
#      split, calib, contended list, failed list, and a FLAT
#      full-name per-query min map;
#   3. GUARD: refuse to write (exit 1, artifact absent — a missing
#      file is a louder failure than a wrong one) unless
#      total_batch_s, total_stream_gate_s, the failed-query list and a
#      non-empty queries map parse out of the detail payload (failed
#      queries carry no time and are absent from the queries map).
#
# Usage: tools/bench_closing.sh <round> [sfdir] [n_reps]
set -euo pipefail
cd "$(dirname "$0")/.."
round="${1:?usage: bench_closing.sh <round> [sfdir] [n_reps]}"
sfdir="${2:-/root/testdata/sf0.1}"
reps="${3:-3}"
out="BENCH_CLOSING_r${round}.json"
detail="$(mktemp /tmp/bench_closing_detail.XXXXXX.json)"
trap 'rm -f "$detail"' EXIT

SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_BENCH_N="$reps" \
  SPARK_GRAFT_BENCH_DETAIL="$detail" \
  sbt -batch "runMain graft.Bench" 1>&2

python3 - "$detail" "$out" "$reps" <<'EOF'
import json, sys
detail_path, out_path, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
with open(detail_path) as f:
    d = json.load(f)
# the guard: a closing artifact without its payload is the r14 defect
for key in ("total_batch_s", "total_stream_gate_s", "queries", "calib",
            "failed_queries"):
    assert key in d, f"closing capture missing {key!r} — refusing to write {out_path}"
assert isinstance(d["queries"], dict) and d["queries"], "empty per-query map"
assert isinstance(d["failed_queries"], list), "failed_queries is not a list"
for q, rec in d["queries"].items():
    assert "min" in rec, f"query {q} missing min"
closing = {
    "metric": "total",
    "value": d["value"],
    "unit": "sec",
    "total_batch_s": d["total_batch_s"],
    "total_stream_gate_s": d["total_stream_gate_s"],
    "calib": d["calib"]["best"] if isinstance(d["calib"], dict) else d["calib"],
    "n": reps,
    "n_queries": len(d["queries"]),
    "contended_queries": d.get("contended_queries", []),
    "n_failed": len(d["failed_queries"]),
    "failed_queries": d["failed_queries"],
    "sf": d.get("sf"),
    "queries": {q: rec["min"]
                for q, rec in sorted(d["queries"].items(),
                                     key=lambda kv: -kv[1]["min"])},
    "med": {q: rec["med"] for q, rec in d["queries"].items()
            if rec["min"] > 0 and rec["med"] / rec["min"] > 1.2},
}
with open(out_path, "w") as f:
    json.dump(closing, f)
print(f"[bench_closing] wrote {out_path}: total={closing['value']}s "
      f"batch={closing['total_batch_s']}s stream={closing['total_stream_gate_s']}s "
      f"n_queries={closing['n_queries']} contended={closing['contended_queries']} "
      f"failed={closing['failed_queries']}",
      file=sys.stderr)
EOF
