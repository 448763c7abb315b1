#!/usr/bin/env python3
"""End-to-end benchmark of the query engine, with a traced layer split.

Usage:
  python3 perfbench/run.py --workload interactive|pipeline --seed N
                           --seconds S --trace 0|1

Each run builds the program from source if needed (perfbench/build.py),
starts one fresh JVM with local[nproc] and one client thread, and runs a
closed loop with no think time:

  set-up   JVM start, session up, one untimed warm pass over the rows
  timed    passes over the rows until --seconds have passed (at least
           three); each row is construct (SparkEntry.queries) plus a full
           materialization through the noop sink
  check    every row's result written to parquet and compared with its
           DuckDB oracle by tools/parity.py (untimed)

rows/<workload>.txt names the workload's rows; the seed picks their order
(and, in the JVM, a new order for every timed pass).

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (from spans and counters of a traced pass;
see README.md). Raw records, spans included, are kept under
.bench_build/runs/.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

CORPUS = os.path.join(HERE, "corpus", "sf0.01")
HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# rows/<workload>.txt names the rows; "release" is what happens to the
# memoized artifacts between passes
WORKLOADS = {
    # families a b c d e f g u; artifacts stay resident
    "interactive": {"release": "none"},
    # families h and i; Q.releaseSession before every pass, so each pass
    # builds its shared artifacts once and then serves their consumers
    "pipeline": {"release": "pass"},
}
JVM_TIMEOUT = 140
CHECK_TIMEOUT = 30
# printed with the metrics but kept out of the final line (see end_to_end)
BESIDE = {"cpu_s": "s", "query_p50_s": "s", "query_tail_s": "s", "retained_mb": "MB",
          "failed_share": "ratio"}


def read_rows(workload):
    with open(os.path.join(HERE, "rows", workload + ".txt")) as fh:
        return [ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")]


def run_jvm(cp, run_dir, rows, seconds, trace, release, seed):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(run_dir, "results"), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    rows_file = os.path.join(run_dir, "rows.txt")
    with open(rows_file, "w") as fh:
        fh.write("\n".join(rows) + "\n")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench", CORPUS, rows_file, run_dir,
            str(seconds), str(trace), release, str(seed)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT} s (log {run_dir}/jvm.log)")
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")
    with open(os.path.join(run_dir, "measure.json")) as fh:
        return json.load(fh)


def oracle_check(run_dir, rows):
    """Runs tools/parity.py on the written results: the repository's own
    DuckDB-oracle gate (column names, pandas dtype kinds, no complex
    cells, row count, every value exactly). Returns {row: "PASS" | why it
    failed}; a row parity.py says nothing about has no verdict."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "parity.py"), CORPUS,
         os.path.join(run_dir, "results")] + sorted(set(rows)),
        cwd=ROOT, capture_output=True, text=True, timeout=CHECK_TIMEOUT)
    with open(os.path.join(run_dir, "parity.log"), "w") as fh:
        fh.write(proc.stdout + proc.stderr)
    out, last = {}, None
    for ln in proc.stdout.splitlines():
        if ln.startswith("PASS "):
            last = None
            out[ln.split()[1]] = "PASS"
        elif ln.startswith("FAIL "):
            last, why = ln[5:].split(": ", 1)
            out[last] = why
        elif ln.startswith("  ") and last:  # the differing rows of a FAIL
            out[last] += "; " + ln.strip()
    if not out and proc.returncode != 0:
        raise SystemExit(f"perfbench: parity.py failed: {proc.stderr[-2000:]}")
    return out


def tail(xs):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples)."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, 0)
    return s[i], 100.0 * i / n if n else 0.0, n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(m):
    untraced = [p for p in m["passes"] if not p["traced"]]
    lat = [r["construct_s"] + r["action_s"] for p in untraced for r in p["rows"]
           if "error" not in r]
    t, pct, n = tail(lat)
    # The final line carries setup_s and wall_s. The rest are printed beside
    # them (BESIDE): a run has 20-30 row samples, so the tail percentile sits
    # near the median; in the pipeline workload the median moves with which
    # row happens to build a shared artifact; the retained heap moves with
    # ContextCleaner timing and the process CPU time with JIT compilation.
    # Run to run, each spread wider than a regression bound could absorb.
    metrics = {
        "setup_s": (m["setup_s"], "s"),
        # mean, not median: it averages over the JIT warm-up the passes
        # still go through (see README.md)
        "wall_s": (statistics.mean([p["wall_s"] for p in untraced]), "s"),
    }
    notes = {"cpu_s": med([p["cpu_s"] for p in untraced]), "query_p50_s": med(lat),
             "query_tail_s": t, "query_tail_percentile": pct, "query_tail_samples": n,
             "retained_mb": m["retained_mb"], "passes": len(untraced)}
    return metrics, notes


def per_layer(m):
    traced = [p for p in m["passes"] if p["traced"]]
    spans = {s["id"]: s for s in m["spans"]}
    cores = m["host"]["nproc"]
    layers = m["layers"]

    def pass_sum(f):
        return med([sum(f(r) for r in p["rows"] if "error" not in r) for p in traced])

    def span_sum(key, field):
        return pass_sum(lambda r: spans[r[key]].get(field, 0) if key in r else 0)

    construct = pass_sum(lambda r: r["construct_s"])
    total = pass_sum(lambda r: r["construct_s"] + r["action_s"])
    plan_s = pass_sum(lambda r: sum(r.get(k + "_s", 0.0)
                                    for k in ("analysis", "optimization", "planning")))
    exec_s = pass_sum(lambda r: r["action_s"]) - plan_s
    task_s = span_sum("execute_span", "task_ms") / 1e3
    reading = [r for p in traced for r in p["rows"] if r.get("artifact_scans", 0) > 0]
    reused = [r for r in reading if r.get("created", 0) == 0]
    tables = layers["io_tables"]
    releases = [p["release_s"] for p in traced if p["release_s"] is not None]
    releases.append(layers["release_s"])
    mb = 1048576.0
    # Passes still speed up with JIT warm-up, so each traced pass is set
    # against the mean of the untraced passes on either side of it.
    ps = m["passes"]
    overhead = [ps[i]["wall_s"] - (ps[i - 1]["wall_s"] + ps[i + 1]["wall_s"]) / 2
                for i in range(1, len(ps) - 1) if ps[i]["traced"]]
    metrics = {
        "io.table_ms": (med([t["ms"] for t in tables]), "ms"),
        "io.table_jobs": (sum(t["jobs"] for t in tables) / len(tables), "count"),
        "io.views_ms": (layers["io_views_ms"], "ms"),
        "ops.construct_s": (construct, "s"),
        "ops.construct_jobs": (span_sum("construct_span", "jobs"), "count"),
        "ops.construct_share": (construct / total if total else 0.0, "ratio"),
        "plan.analysis_s": (pass_sum(lambda r: r.get("construct_analysis_s", 0.0)
                                     + r.get("analysis_s", 0.0)), "s"),
        "plan.optimization_s": (pass_sum(lambda r: r.get("optimization_s", 0.0)), "s"),
        "plan.planning_s": (pass_sum(lambda r: r.get("planning_s", 0.0)), "s"),
        "plan.exchanges": (pass_sum(lambda r: r.get("exchanges", 0)), "count"),
        "plan.file_scans": (pass_sum(lambda r: r.get("file_scans", 0)), "count"),
        "plan.broadcasts": (pass_sum(lambda r: r.get("broadcasts", 0)), "count"),
        "exec.s": (exec_s, "s"),
        "exec.task_s": (task_s, "s"),
        "exec.cpu_s": (span_sum("execute_span", "cpu_ns") / 1e9, "s"),
        "exec.busy_share": (task_s / (exec_s * cores) if exec_s > 0 else 0.0, "ratio"),
        "exec.jobs": (span_sum("execute_span", "jobs"), "count"),
        "exec.tasks": (span_sum("execute_span", "tasks"), "count"),
        "exec.gc_s": (span_sum("execute_span", "gc_ms") / 1e3, "s"),
        "exec.shuffle_write_mb": (span_sum("execute_span", "shuffle_write_b") / mb, "MB"),
        "exec.input_mb": (span_sum("execute_span", "input_b") / mb, "MB"),
        "exec.spill_mb": (span_sum("execute_span", "spill_b") / mb, "MB"),
        "artifacts.release_s": (med(releases), "s"),
        "artifacts.created": (med([p["census"]["created"] for p in traced]), "count"),
        "artifacts.persistent_rdds": (traced[-1]["census"]["persistent_rdds"], "count"),
        "artifacts.storage_mb": (traced[-1]["census"]["storage_mb"], "MB"),
        "artifacts.reading_rows": (len(reading) / len(traced), "count"),
        "artifacts.reuse_ratio": (len(reused) / len(reading) if reading else 0.0, "ratio"),
        "codegen.setup_compiles": (m["setup_codegen_compiles"], "count"),
        "codegen.setup_compile_s": (m["setup_codegen_compile_s"], "s"),
        "codegen.compiles": (med([p["codegen_compiles"] for p in traced]), "count"),
        "codegen.compile_s": (med([p["codegen_compile_s"] for p in traced]), "s"),
        "jvm.gc_s": (med([p["gc_s"] for p in traced]), "s"),
        "jvm.retained_mb": (m["retained_mb"], "MB"),
        "trace.overhead_s": (med(overhead), "s"),
    }
    notes = {"traced_passes": len(traced),
             "persistent_rdds_by_pass": [p["census"]["persistent_rdds"] for p in m["passes"]],
             "storage_mb_by_pass": [round(p["census"]["storage_mb"], 3) for p in m["passes"]]}
    return metrics, notes


def run_workload(args, workload, cp):
    cfg = WORKLOADS[workload]
    rows = read_rows(workload)
    random.Random(args.seed).shuffle(rows)
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    m = run_jvm(cp, run_dir, rows, args.seconds, args.trace, cfg["release"], args.seed)
    verdict = oracle_check(run_dir, rows)
    shutil.rmtree(os.path.join(run_dir, "results"), ignore_errors=True)
    failed = {}
    for n in rows:
        if n in m["errors"]:
            failed[n] = m["errors"][n]
        elif verdict.get(n, "FAIL no oracle verdict") != "PASS":
            failed[n] = verdict.get(n, "FAIL no oracle verdict")
    attempted = len(set(rows))
    if args.trace:
        metrics, notes = per_layer(m)
    else:
        metrics, notes = end_to_end(m)
    notes["failed_share"] = len(failed) / attempted
    notes["host"] = m["host"]
    notes["rows"] = rows
    for n, why in sorted(failed.items()):
        print(f"[{workload}] FAILED {n}: {why}")
    shown = dict(metrics)
    shown.update({k: (notes.pop(k), u) for k, u in BESIDE.items() if k in notes})
    for k, (v, u) in shown.items():
        print(f"[{workload}] {k:<28} {v:>14.6f} {u}")
    print(f"[{workload}] " + json.dumps(notes, sort_keys=True))
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({"metrics": metrics, "notes": notes, "failed": failed}, fh, indent=1)
    return {"correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "parity.py"), CORPUS):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: {os.path.relpath(need, ROOT)} is missing; "
                             "run from a full checkout of the repository")
    t0 = time.time()
    cp = build.build()
    build_s = time.time() - t0
    if build_s > 1:
        print(f"[build] {build_s:.1f} s")
    out = run_workload(args, args.workload, cp)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
