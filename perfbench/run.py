#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured JVM.

    python3 perfbench/run.py --workload tpch_jdbc --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates
the base inputs once per checkout, cuts the seed's inputs, runs the
workload in one JVM, checks every output against the DuckDB oracle, and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. Everything it writes goes under .bench_build/ in the
checkout; each run leaves report.json, summary.json (host fingerprint,
checks, all metrics) and, when traced, spans.jsonl in its run directory.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
WORK = ROOT / ".bench_build"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

XMX = "4g"
# curation_sf1's seeded slice of the sf1 corpus (50k docs, 20k vectors)
CORPUS_DOCS, CORPUS_VECS = 50000, 20000
SLICE_DOCS, SLICE_VECS = 2000, 800


def jvm_timeout(seconds):
    """Set-up and a pass that is never cut take up to about 60 s; the
    window and the work after it grow with --seconds."""
    return 150 + 2 * seconds


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_cmd(main, args, run_dir):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [build.java(), *opens, f"-Xmx{XMX}", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", build.classpath(), main, *args]


def run_java(main, args, run_dir, timeout):
    """Run one JVM in its own process group; on timeout the whole group is
    killed and waited for. Output goes to run_dir/jvm.log."""
    run_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    with open(run_dir / "jvm.log", "ab") as out:
        p = subprocess.Popen(jvm_cmd(main, args, run_dir), cwd=run_dir, env=env,
                             stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{main} exceeded {timeout} s; see {run_dir / 'jvm.log'}")
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"{main} exited with {code}:\n{tail}")


def file_digest(*paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(Path(p).read_bytes())
    return h.hexdigest()[:16]


def base_data():
    """sf0.1 warehouse and sf1 corpus from graft's generator, once per
    checkout (keyed by the generator's source)."""
    key = file_digest(ROOT / "src/main/scala/graft/tools/GenData.scala",
                      BENCH / "src/graftbench/Prepare.scala")
    data = WORK / "data"
    stamp = data / "base.stamp"
    if not (stamp.exists() and stamp.read_text() == key):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.time()
        log("generating sf0.1 and the sf1 corpus")
        run_java("graftbench.Prepare", [str(data), str(cpus())], WORK / "prepare", timeout=600)
        stamp.write_text(key)
        log(f"inputs generated in {time.time() - t0:.1f} s")
    return data, key


def corpus_slice(data, key, start_doc, start_vec, docs, vecs, out):
    """A contiguous window of the sf1 corpus: near-duplicates sit a few ids
    apart, so a window keeps the corpus's duplicate structure."""
    stamp = out / "slice.stamp"
    want = f"{key}:{start_doc}:{start_vec}:{docs}:{vecs}"
    if stamp.exists() and stamp.read_text() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    con = oracle.duckdb.connect()
    for table, col, lo, n in (("documents", "doc_id", start_doc, docs),
                              ("embeddings", "vec_id", start_vec, vecs)):
        con.execute(f"""COPY (SELECT * FROM read_parquet('{data}/sf1/{table}.parquet/*.parquet')
            WHERE {col} >= {lo} AND {col} < {lo + n} ORDER BY {col})
            TO '{out}/{table}.parquet' (FORMAT PARQUET)""")
    con.close()
    stamp.write_text(want)


def inputs(workload, seed, data, key):
    """(data dir, data identity) for this workload and seed."""
    if workload != "curation_sf1":
        return data / "sf0.1", f"sf0.1:{key}"
    rng = random.Random(seed)
    d0 = rng.randrange(0, CORPUS_DOCS - SLICE_DOCS + 1)
    v0 = rng.randrange(0, CORPUS_VECS - SLICE_VECS + 1)
    seed_dir = WORK / "inputs" / f"curation-seed{seed}"
    corpus_slice(data, key, d0, v0, SLICE_DOCS, SLICE_VECS, seed_dir)
    return seed_dir, f"slice:{key}:{d0}:{v0}:{SLICE_DOCS}:{SLICE_VECS}"


def check(report, expected, run_dir):
    """Every timed operation's output against the oracle. An operation's
    `output` is its own written result (curation_sf1) or the kept copy of
    the result it returned, one per distinct digest (tpch_jdbc). Returns
    per-op failures (op id -> reason) and each output's check result."""
    failures = {}
    checked = {}
    for op in report["ops"]:
        if not op["ok"]:
            failures[op["id"]] = op["error"] or "failed"
            continue
        out = op["output"]
        if out not in checked:
            try:
                got = oracle.summary(oracle.read_output(run_dir / out))
                checked[out] = oracle.mismatch(got, expected[op["name"]]) or "ok"
            except Exception as e:  # unreadable output is a failed operation
                checked[out] = f"output unreadable: {e}"
        if checked[out] != "ok":
            failures[op["id"]] = checked[out]
    return failures, checked


def end_to_end(report, failures):
    good = [op for op in report["ops"] if op["id"] not in failures]
    # each distinct operation's latency is the median of its executions,
    # and stmt_p50_ms the median over operations: one slow execution
    # moves it less
    by_name = {}
    for op in good:
        by_name.setdefault(op["name"], []).append(op["latency_ms"])
    lat = [statistics.median(v) for v in by_name.values()] or [0.0]
    return {
        "setup_s": report["setup_s"],
        "stmt_p50_ms": statistics.median(lat),
        "ops_per_s": len(good) / report["window_s"],
    }


def host(stamp):
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "source_stamp": stamp, "xmx": XMX, "python": sys.version.split()[0]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    stamp = build.build()
    data, key = base_data()
    data_dir, data_id = inputs(a.workload, a.seed, data, key)
    run_dir = WORK / "runs" / a.workload / f"seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    t0 = time.time()
    run_java("graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(data_dir),
        "--out", str(run_dir), "--cpus", str(cpus())],
        run_dir, timeout=jvm_timeout(a.seconds))
    log(f"{a.workload} JVM ran {time.time() - t0:.1f} s")
    report = json.loads((run_dir / "report.json").read_text())
    expected = oracle.expected(data_dir, data_id, report["oracle_sql"],
                               WORK / "expected" / a.workload / f"{data_id.replace(':', '_')}.json")
    failures, checked = check(report, expected, run_dir)
    warm = report["warm_failures"]
    attempted = len(report["ops"]) + len(warm)
    failed = len(failures) + len(warm)
    e2e = end_to_end(report, failures)
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "host": {**report["host"], **host(stamp)},
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "warm_failures": warm, "failures": {str(k): v for k, v in failures.items()},
        "checked": checked, "end_to_end": e2e,
        "layers": report["layers"], "self_s": report.get("self_s", {}),
    }
    if a.trace:
        untraced = WORK / "runs" / a.workload / f"seed{a.seed}-trace0" / "summary.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            summary["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
            log("tracing overhead vs the untraced run: " + json.dumps(summary["tracing_overhead"]))
        else:
            log("no untraced run of this workload and seed yet; tracing overhead not reported")
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1))
    for f in sorted(failures.items())[:10]:
        log(f"failed op {f[0]}: {f[1]}")
    source = report["layers"] if a.trace else e2e
    if a.trace:
        # an operator entry this workload does not run spent no time
        for m in SPEC["per_layer"]:
            if m["name"].startswith("op.") and m["name"].count(".") == 2:
                source.setdefault(m["name"], 0.0)
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
                    for m in SPEC["per_layer" if a.trace else "end_to_end"]},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
