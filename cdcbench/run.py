#!/usr/bin/env python3
"""End-to-end CDC benchmark: one run of one workload.

    python3 cdcbench/run.py --workload {backfill,trickle} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the engine and
cdcbench.Main from source with sbt (offline); later runs reuse the build while no
source file changed. A run generates its input from the seed, drives both
pipelines and the SQL rounds in one JVM (cdcbench.Main), checks every
answer against the generator's model, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
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
sys.path.insert(0, HERE)
import workload as wl  # noqa: E402

RUN_LIMIT_S = 170
HEAP = "2g"
SBT_VERSION = "1.10.0"
# Module openings Spark needs on JDK 17 outside spark-submit (the root
# build passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SHAPES = ("point", "status", "items", "history", "travel")
PER_LAYER = {
    "streaming.ingest_batch_ms": "ms", "streaming.ingest_planning_ms": "ms",
    "streaming.ingest_offsets_ms": "ms", "streaming.ingest_log_ms": "ms",
    "streaming.merge_batch_ms": "ms", "streaming.merge_log_ms": "ms",
    "streaming.scd2_files": "count", "streaming.table_versions": "count",
    "streaming.table_written_mb": "MB",
    "envelope.cpu_s": "s", "envelope.run_s": "s", "envelope.shuffle_write_mb": "MB",
    "envelope.records_in": "count",
    "buffering.cpu_s": "s", "buffering.run_s": "s", "buffering.state_update_ms": "ms",
    "buffering.state_commit_ms": "ms", "buffering.tasks_per_batch": "count",
    "buffering.state_mb": "MB", "buffering.state_rows_updated": "count",
    "buffering.rows_emitted": "count",
    "scd.cpu_s": "s", "scd.run_s": "s", "scd.shuffle_mb": "MB", "scd.spill_mb": "MB",
    "scd.rows_written": "count", "scd.driver_ms": "ms", "scd.write_amplification": "ratio",
    "tables.sql_rewrite_ms": "ms", "tables.sql_exec_ms": "ms", "tables.files_scanned": "count",
    "tables.point_p50_s": "s", "tables.status_p50_s": "s", "tables.items_p50_s": "s",
    "tables.history_p50_s": "s", "tables.travel_p50_s": "s",
    "streaming.ingest_batches_per_drop": "count",
    "jvm.gc_s": "s", "spark.task_gc_s": "s", "spark.jobs_per_batch": "count",
    "trace.wall_covered": "ratio",
}


def die(msg):
    sys.stderr.write("cdcbench: %s\n" % msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, base):
    """Compile the engine and cdcbench.Main with sbt once per source state; returns the
    runtime classpath."""
    os.makedirs(base, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(base, "classpath.txt"), os.path.join(base, "stamp.txt")
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, "-Dsbt.repository.config=" + repos)
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(base, "build.log")
        with open(log_path, "w") as log:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.version=" + SBT_VERSION,
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
            log.write(p.stdout)
        lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and l.count(":") > 3]
        if p.returncode != 0 or not lines:
            sys.stderr.write(open(log_path).read()[-4000:])
            die("build failed (log: %s)" % log_path)
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1].strip()


# -------------------------------------------------------------------- run

def run_jvm(classpath, run_dir, spec_path, result_path, deadline):
    # -Xms = -Xmx with the heap touched at start: the JVM pays for the
    # heap's first page faults during setup, not in the timed phase.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "cdcbench.Main", spec_path, result_path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "JVM timed out", log_path
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path) as log:
        sys.stderr.writelines(l for l in log if l.startswith("cdcbench:"))
    if not os.path.exists(result_path):
        return None, "JVM exited %d without a result" % p.returncode, log_path
    with open(result_path) as f:
        return json.load(f), None, log_path


def evaluate(w, res, trace):
    """Compare what the program did and answered with the model; returns
    (correct, attempted, failed, problems). An operation fails when it
    raised, left no result or its result differs from the model's."""
    problems = []
    attempted = failed = 0
    boundaries = res.get("boundaries", {})
    for i, d in enumerate(w.drops):
        attempted += 1
        if str(i) not in boundaries:
            failed += 1
    by_key = {(s["round"], s["shape"]): s for s in res.get("sql", [])}
    for r, rnd in enumerate(w.rounds):
        for q in rnd["queries"]:
            attempted += 1
            got = by_key.get((r, q["shape"]))
            if got is None or "error" in got:
                failed += 1
                if got is not None:
                    problems.append("round %d %s failed: %s" % (r, q["shape"], got["error"]))
            elif got["rows"] != q["expect"]:
                failed += 1
                problems.append("round %d %s: got %s expected %s" % (
                    r, q["shape"], got["rows"][:5], q["expect"][:5]))
    exp_rows = list(w.model.values())
    checks = {
        "rows": len(exp_rows),
        "distinct_ids": len(exp_rows),
        "digest": wl.digest(exp_rows),
        "phantom_rows": 0,
        "order_stream_rows": w.stream_rows,
    }
    got = res.get("checks", {})
    for k, v in checks.items():
        attempted += 1
        if k not in got:
            failed += 1
        elif got[k] != v:
            failed += 1
            problems.append("check %s: got %s expected %s" % (k, got[k], v))
    if trace:
        attempted += 1
        emitted = res.get("layers", {}).get("buffering.rows_emitted")
        expect = sum(d["stream_rows"] for d in w.drops if d["phase"] == "timed")
        if emitted is None:
            failed += 1
        elif int(emitted) != expect:
            failed += 1
            problems.append("buffering.rows_emitted %s, model %d" % (emitted, expect))
    # A drop landed without a trigger gap may be split over two ingest
    # batches, so its latency would not measure what the others do.
    gaps = res.get("trigger_gap_timeouts", 0)
    if gaps:
        failed += gaps
        problems.append("%d drops landed without a trigger gap" % gaps)
    if "error" in res:
        problems.append("run error: " + res["error"].splitlines()[0])
    return not problems, attempted, failed, problems


def timed_samples(w, res):
    """Timed drops, their visible events, and the timed SQL executions."""
    timed = {i for i, d in enumerate(w.drops) if d["phase"] == "timed"}
    drops = [d for d in res["drops"] if d["drop"] in timed]
    events = sum(w.drops[d["drop"]]["visible_events"] for d in drops)
    timed_rounds = {r for r, rnd in enumerate(w.rounds) if rnd["phase"] == "timed"}
    sql = [s for s in res["sql"] if s["round"] in timed_rounds and "error" not in s]
    return timed, drops, events, timed_rounds, sql


def end_to_end(w, res, gen_s):
    _, drops, events, _, sql = timed_samples(w, res)
    return {
        "setup_s": (gen_s + res["setup_s"], "s"),
        "events_per_s": (events / sum(d["latency_s"] for d in drops), "1/s"),
        "visible_p50_s": (statistics.median(d["latency_s"] for d in drops), "s"),
        "query_p50_s": (statistics.median(s["rewrite_s"] + s["exec_s"] for s in sql), "s"),
        "disk_mb": (sum(res["disk_bytes"].values()) / 1e6, "MB"),
        "rss_peak_mb": (res["rss_peak_kb"] * 1024 / 1e6, "MB"),
        "cpu_us_per_event": (sum(d["cpu_s"] for d in drops) / events * 1e6, "us"),
    }


def per_layer(w, res):
    timed, _, _, timed_rounds, sql = timed_samples(w, res)
    layers = dict(res["layers"])
    changed = sum(w.changes[i]["insert"] + w.changes[i]["update"] for i in timed)
    layers["scd.write_amplification"] = layers["scd.rows_written"] / changed
    layers["tables.sql_rewrite_ms"] = statistics.median(s["rewrite_s"] for s in sql) * 1000
    layers["tables.sql_exec_ms"] = statistics.median(s["exec_s"] for s in sql) * 1000
    layers["tables.files_scanned"] = sum(s["files"] for s in sql) / len(timed_rounds)
    for shape in SHAPES:
        layers["tables.%s_p50_s" % shape] = statistics.median(
            s["rewrite_s"] + s["exec_s"] for s in sql if s["shape"] == shape)
    layers["jvm.gc_s"] = res["gc_s"]
    return {k: (layers[k], unit) for k, unit in PER_LAYER.items()}


def as_json(m):
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("backfill", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("no engine sources under %s/src/main/scala; run from the root of a checkout" % root)
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "cdcbench")
    classpath = build(root, base)

    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(base, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        for d in ("tmp", "local", "warehouse", "ckpt/ingest", "ckpt/merge") + tuple(
                "src/" + s for s in wl.STREAMS):
            os.makedirs(os.path.join(run_dir, d))
        t0 = time.perf_counter()
        w = wl.Workload(a.workload, a.seed, a.seconds)
        staged = w.write(os.path.join(run_dir, "stage"))
        gen_s = time.perf_counter() - t0
        dirs = {s: os.path.join(run_dir, "src", s) for s in wl.STREAMS}
        dirs.update(order_stream=os.path.join(run_dir, "order_stream"),
                    orders_current=os.path.join(run_dir, "orders_current"),
                    ckpt_ingest=os.path.join(run_dir, "ckpt", "ingest"),
                    ckpt_merge=os.path.join(run_dir, "ckpt", "merge"))
        spec = {"workload": a.workload, "trace": bool(a.trace), "dirs": dirs, "drops": staged,
                "rounds": [{"after": r["after"], "phase": r["phase"],
                            "queries": [{"shape": q["shape"], "sql": q["sql"]} for q in r["queries"]]}
                           for r in w.rounds],
                "phantoms": w.phantoms}
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        res, err, log_path = run_jvm(classpath, run_dir, spec_path, os.path.join(run_dir, "result.json"),
                                     deadline)
        if res is None:
            sys.stderr.write(open(log_path).read()[-6000:])
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            die(err)
        correct, attempted, failed, problems = evaluate(w, res, a.trace)
        for p in problems[:20]:
            sys.stderr.write("cdcbench: MISMATCH %s\n" % p)
        if "error" in res:
            sys.stderr.write(res["error"][-4000:] + "\n")
        m = {}
        if "error" not in res:
            m = as_json(per_layer(w, res) if a.trace else end_to_end(w, res, gen_s))
            if a.trace:
                # The traced run's end-to-end figures, against an untraced
                # run of the same seed, give the tracing overhead.
                sys.stderr.write("cdcbench: end-to-end under tracing %s\n" % json.dumps(
                    {k: v for k, (v, _) in end_to_end(w, res, gen_s).items()}))
        sys.stderr.write("cdcbench: setup %.2fs (generation %.2fs), timed %.2fs (CPU steal %.1f%%), "
                         "visible %s s, disk %s MB\n" % (
            gen_s + res.get("setup_s", 0.0), gen_s, res.get("timed_wall_s", 0.0),
            100 * res.get("steal_share", 0.0),
            [d["latency_s"] for d in res.get("drops", [])],
            {k: round(v / 1e6, 2) for k, v in res.get("disk_bytes", {}).items()}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": m}))
        sys.exit(0 if "error" not in res else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
