#!/usr/bin/env python3
"""Second-decade scale evidence (r15 verdict task 1): bench the heaviest
kernels at sf1.0 AND sf10 in one idle session — per-kernel isolated JVMs,
min of 3 in-JVM timed runs each — and write BENCH_sf10.json with decade
ratios. One decade (sf0.1→sf1.0) is a data point; two is the trend line:
sf10 is where a hidden O(n^2) or driver bottleneck in the LSH/ANN
families would first show.

Usage: python3 scripts/decade2_bench.py <sf1_dir> <sf10_dir> [out_json] [kernels_csv]
  kernels_csv (optional) restricts the run to a named subset — the r17
  open-vocabulary arm re-measures just the document-driven kernels on
  GenData's `open` corpus without re-paying the full 12-kernel session.
Bench numbers are only valid on an IDLE machine. Requires compiled
classes (runs outside the sbt lock via scripts/graft_java.sh).
"""
import json
import os
import subprocess
import sys
import tempfile

KERNELS = [
    "d02_dedup_minhash", "d06_dedup_clusters", "d15_containment",
    "d16_lsh_curve", "t24_ccnet_buckets", "t25_dsir", "a13_ivfpq_recall",
    "a15_ann_persist", "a16_index_update", "s17_sql_delete", "g05_kcore",
    "e20_stickiness",
]

sf1_dir = sys.argv[1]
sf10_dir = sys.argv[2]
out = sys.argv[3] if len(sys.argv) > 3 else "BENCH_sf10.json"
if len(sys.argv) > 4:
    KERNELS = sys.argv[4].split(",")
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
java = os.path.join(repo, "scripts", "graft_java.sh")


def bench_one(kernel, sf_dir, runs=3):
    """One isolated Bench JVM for one kernel; warmup + `runs` timed runs.
    The sf10 arm uses runs=1: at multi-minute kernel scale the decade
    RATIO is the signal and run-to-run spread is immaterial next to it,
    while 3 runs would triple a multi-hour session."""
    fd, spread_path = tempfile.mkstemp(suffix="_d2.json")
    os.close(fd)
    try:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_BENCH_ONLY=kernel, SPARK_GRAFT_CPUS="32",
                   SPARK_GRAFT_BENCH_RUNS=str(runs),
                   SPARK_GRAFT_SPREAD_OUT=spread_path, GRAFT_XMX="32g")
        p = subprocess.run([java, "graft.Bench"], env=env,
                           capture_output=True, text=True)
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            sys.exit(f"[d2] bench JVM failed for {kernel} @ {sf_dir}")
        dump = json.load(open(spread_path))
        if kernel in dump.get("failed", {}):
            sys.exit(f"[d2] {kernel} failed @ {sf_dir}: {dump['failed'][kernel]}")
        runs = dump["spread"][kernel]
        return runs
    finally:
        if os.path.exists(spread_path):
            os.unlink(spread_path)


entries = {}
for k in KERNELS:
    r1 = bench_one(k, sf1_dir)
    print(f"[d2] {k}: sf1={min(r1):.2f}s ...", flush=True)
    r10 = bench_one(k, sf10_dir, runs=1)
    entries[k] = {
        "sf1_runs_s": r1, "sf1_min_s": min(r1),
        "sf10_runs_s": r10, "sf10_min_s": min(r10),
        "scale_ratio_10x_data": round(min(r10) / min(r1), 2),
    }
    print(f"[d2] {k}: sf1={min(r1):.2f}s sf10={min(r10):.2f}s "
          f"ratio={entries[k]['scale_ratio_10x_data']}", flush=True)

artifact = {
    "protocol": "per-kernel ISOLATED JVMs (fresh graft.Bench via "
                "scripts/graft_java.sh, SPARK_GRAFT_BENCH_ONLY, idle "
                "machine, local[32]); sf1 arm: min of 3 in-JVM timed runs "
                "after warmup (comparable to BENCH_sf1.json); sf10 arm: "
                "warmup + 1 timed run (multi-minute kernels — the decade "
                "ratio is the signal, run spread is immaterial at that "
                "magnitude); sf1 and sf10 measured in the SAME session on the "
                "same host so the decade ratio is host-noise-free; data = "
                "GenData (deterministic xxhash64 draws, driver-shaped "
                "distributions; sf10 = 60M lineitem / 15M orders / 10M "
                "events / 500k documents / 200k embeddings)",
    "sf1_dir": sf1_dir, "sf10_dir": sf10_dir,
    "entries": entries,
    "totals": {
        "sf1_s": round(sum(v["sf1_min_s"] for v in entries.values()), 2),
        "sf10_s": round(sum(v["sf10_min_s"] for v in entries.values()), 2),
    },
}
artifact["totals"]["scale_ratio_10x_data"] = round(
    artifact["totals"]["sf10_s"] / artifact["totals"]["sf1_s"], 2)
with open(os.path.join(repo, out), "w") as f:
    json.dump(artifact, f, indent=1, sort_keys=True)
print(f"[d2] wrote {out}: {artifact['totals']}")
