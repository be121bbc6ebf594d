#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <grid_refresh|llm_data>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
from source (once per source state), generates the workload's inputs from
the seed, runs one JVM that sets up, warms and measures the workload for
the given seconds, checks the outputs against DuckDB recomputations, and
prints one JSON line last on stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics from a traced run (spans are
kept under .perfbench_out/). See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(ROOT, ".perfbench_build")
DEADLINE_S = 175.0
# workload -> (operation whose median is op_p50_ms, operation whose wall
# items_per_s divides by; None = the whole timed region)
WORKLOADS = {"grid_refresh": ("refresh", None), "llm_data": ("sweep", "job")}
# Every per-layer metric and its unit. A workload that bypasses a layer
# reports it as 0 (no calls, no work).
PER_LAYER = {
    "pipeline.cursor_ms": "ms", "pipeline.transform_ms": "ms", "pipeline.transform_jobs": "count",
    "tx.commit_ms": "ms", "tx.commit_jobs": "count", "tx.delete_ms": "ms", "tx.maintain_ms": "ms",
    "tx.write_amp": "ratio", "tx.space_amp": "ratio", "tx.read_files": "count",
    "mv.follow_ms": "ms", "mv.follow_jobs": "count",
    "cache.hit_ratio": "ratio", "cache.reload_ms": "ms",
    "dashboard.exec_ms": "ms", "dashboard.jobs": "count",
    "textdedup.exact_ms": "ms", "textdedup.lsh_ms": "ms", "textdedup.prefix_ms": "ms",
    "textdedup.cc_ms": "ms", "textdedup.cc_rounds": "count", "textdedup.cc_jobs": "count",
    "textdedup.lsh_recall": "ratio", "quality.funnel_ms": "ms",
    "dials.q152_ms": "ms",
    "dials.scans": "count", "dials.exchanges": "count", "dials.reused_exchanges": "count",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_gap_ms": "ms", "spark.task_cpu_ms": "ms", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.core_util": "ratio",
    "tracing.overhead_pct": "%",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties"),
             os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def start_child(cmd, cwd, env, stdout=sys.stderr):
    """Start a child in its own process group, its errors on our stderr."""
    return subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)


def stop_child(p):
    """Kill a child's process group, if the child still runs, and reap it."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def wait_child(p, timeout):
    """Wait for a child; on any exit path but its own the group is killed and reaped."""
    try:
        return p.wait(timeout=timeout)
    finally:
        stop_child(p)


def build(deadline):
    """Compile once per source state; returns the harness's runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
                and os.path.exists(cp_file)):
            return open(cp_file).read()
        log("building the program and the harness (sbt compile)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        sbt_log = os.path.join(BUILD_DIR, "sbt.log")
        with open(sbt_log, "w") as out:
            rc = wait_child(start_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                         "export Runtime/fullClasspath"], HARNESS, env, out),
                            max(1.0, deadline - time.time()))
        lines = open(sbt_log).read().splitlines()
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        if rc != 0:
            fail(f"build failed (sbt exit {rc})")
        # `export` prints the classpath as a bare line after the log lines
        classpath = next((l.strip() for l in reversed(lines) if l.strip() and not l.startswith("[")), "")
        if not classpath:
            fail("sbt printed no classpath")
        with open(cp_file, "w") as f:
            f.write(classpath)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classpath


def tail_at(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it: (value, pct, n)."""
    s = sorted(xs)
    if len(s) <= beyond:
        return None, None, len(s)
    i = len(s) - beyond - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} is missing)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    classpath = build(t_start + 700.0)
    deadline = min(time.time() + DEADLINE_S, t_start + 890.0)

    sys.path.insert(0, HERE)
    import gen
    import oracle

    run_dir = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("input", "out", "work", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        cpus = len(os.sched_getaffinity(0))
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={dirs['tmp']}", "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", dirs["input"], "--out", dirs["out"],
            "--work", dirs["work"], "--cpus", str(cpus)]
        env = dict(os.environ, GRAFT_SCRATCH_DIR=dirs["work"], SPARK_LOCAL_DIRS=dirs["work"])
        # the session starts while the inputs are generated; the harness
        # waits for inputs.json, which the generator writes last
        t_launch = time.time()
        jvm = start_child(cmd, ROOT, env)
        try:
            sizes = gen.generate(a.workload, a.seed, dirs["input"])
            rc = wait_child(jvm, max(1.0, deadline - 20.0 - time.time()))
        except subprocess.TimeoutExpired:
            fail("the run did not finish in time", 3)
        finally:
            stop_child(jvm)
        if rc != 0:
            fail(f"harness exited with {rc}", 3)
        res = json.load(open(os.path.join(dirs["out"], "result.json")))

        t_jvm = time.time() - t_launch
        c0 = time.time()
        checks = oracle.check(a.workload, dirs["input"], dirs["out"], dirs["tmp"], res)
        t_check = time.time() - c0
        check_failed = 0
        for name, ok, detail, weight in checks:
            log(f"check {name}: {'PASS' if ok else 'FAIL'} {detail}")
            if not ok:
                check_failed += weight
        for e in res["errors"]:
            log(f"operation failed: {e}")
        attempted = max(1, res["attempted"])
        failed = min(attempted, res["failed"] + check_failed)

        op_kind, per_kind = WORKLOADS[a.workload]
        op = res["samples"].get(op_kind, [])
        per_wall = sum(res["samples"].get(per_kind, [])) / 1000.0 if per_kind else res["timed_s"]
        setup_s = (res["ready_ms"] / 1000.0 - t_launch
                   + statistics.median(res["prepare_ms"]) / 1000.0 + res["warm_ms"] / 1000.0)
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(op) if op else None, "ms"),
            "items_per_s": (res["items"] / per_wall if per_wall > 0 else None, "1/s"),
            "live_heap_mb": (res["live_heap_mb"], "MB"),
        }
        # the same figures under the names the workloads' users know them by
        summary = {"workload": a.workload, "seed": a.seed, "inputs": sizes, "cycles": res["cycles"],
                   "phase_s": {"jvm": t_jvm, "prepare": sum(res["prepare_ms"]) / 1000, "warm": res["warm_ms"] / 1000,
                               "timed": res["timed_s"], "export": res["export_ms"] / 1000, "check": t_check},
                   "canary": res["canary"], "ops_failed_ratio": failed / attempted}
        if a.workload == "grid_refresh":
            reads = res["samples"].get("read", [])
            tail, pct, n = tail_at(op)
            summary.update(refresh_p50_s=op and statistics.median(op) / 1000, refresh_tail_s=tail and tail / 1000,
                           refresh_tail_pct=pct, refresh_samples=n,
                           dashboard_p50_ms=statistics.median(reads) if reads else None)
            tail, pct, n = tail_at(reads)
            summary.update(dashboard_tail_ms=tail, dashboard_tail_pct=pct, dashboard_samples=n,
                           ingest_rows_per_s=end_to_end["items_per_s"][0])
        else:
            summary.update(dedup_docs_per_s=end_to_end["items_per_s"][0],
                           dials_s=op and statistics.median(op) / 1000, cycles_measured=len(op))
        summary["live_heap_mb"] = res["live_heap_mb"]
        summary["setup_s"] = setup_s
        log("summary " + json.dumps(summary))

        keep = os.path.join(ROOT, ".perfbench_out", f"{a.workload}-{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.json"):
            if os.path.exists(os.path.join(dirs["out"], f)):
                shutil.copy(os.path.join(dirs["out"], f), keep)
        with open(os.path.join(keep, "summary.json"), "w") as f:
            json.dump(summary, f)

        if a.trace:
            layer = res["per_layer"]
            metrics = {k: {"value": layer.get(k) if layer.get(k) is not None else 0.0, "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        missing = [k for k, m in metrics.items() if m["value"] is None]
        if missing:
            fail(f"no value for {missing}", 4)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
