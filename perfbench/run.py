#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload finance_jobs --seed 1 --seconds 5 --trace 0

Run from the root of the repository. It builds the program and the harness
from the working tree with the installed sbt (offline) unless the build of
these exact sources is cached in `.bench_build/`, generates the workload's
inputs from the seed, runs the workload in one JVM, checks the outputs,
prints every metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` runs with the
benchmark's Spark listeners installed and reports the per-layer metrics
plus the traced values of the end-to-end ones (the tracing overhead is
their difference from untraced runs). A failed build, a crashed run or a
failed check exits non-zero with the cause on stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("finance_jobs", "api_mix")
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # ... or 900 s when it builds
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# end-to-end metrics: name -> unit. An op is a request on api_mix and a
# whole orchestrator cycle on finance_jobs.
END_TO_END = {
    "setup_s": "s",
    "retrain_s": "s",
    "ok_ratio": "ratio",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_s_per_op": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


class Failure(Exception):
    """A named cause that ends the run with a non-zero exit."""


def fail(msg):
    raise Failure(msg)


def source_digest(root):
    """Hash of every file the build reads, so a cached build is reused only
    for the sources it was made from."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/*.sbt", "project/*.properties", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/*.properties",
                    "perfbench/src/main/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pattern), recursive=True) if os.path.isfile(f)]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile program + harness with sbt unless these sources were built
    before; returns (runtime classpath, whether it built now)."""
    cache = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(cache, exist_ok=True)
    digest = source_digest(root)
    cp_file = os.path.join(cache, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), False
    if shutil.which("sbt") is None:
        fail("build failed: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"), "-Xmx2g",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))
    log_path = os.path.join(cache, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_DEADLINE_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build failed: sbt did not finish in {BUILD_DEADLINE_S} s (log: {log_path})")
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed: sbt exited {proc.returncode} (log: {log_path})")
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not lines:
        fail(f"build failed: sbt printed no classpath (log: {log_path})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), True


def run_jvm(root, classpath, workload, run_dir, seconds, trace, nproc, seed, deadline):
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # traced runs keep whole call stacks, so a job's call site reaches the
    # program frame that started it
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", *JDK_OPENS, "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
           *(["-Dspark.callstack.depth=200"] if trace else []),
           "-cp", classpath, "perfbench.Main", workload, run_dir, str(seconds),
           "1" if trace else "0", str(nproc), str(seed)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run failed: the workload did not finish in time (log: {log_path})")
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = [ln for ln in f.read().splitlines() if "Exception" in ln or "Error" in ln][:3]
        fail(f"run failed: the JVM exited {proc.returncode}: {' | '.join(tail)} (log: {log_path})")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def read_user_categories(path):
    """id -> {field: value as text}, read with DuckDB, not with the program."""
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT transaction_id, master_category, notes, validated "
        f"FROM read_parquet('{path}/*.parquet')").fetchall()
    return {tid: {"master_category": m, "notes": n,
                  "validated": None if v is None else str(v).lower()}
            for tid, m, n, v in rows}


def evaluate(res, book, run_dir):
    """Metrics and check failures of one finished run."""
    problems = []
    all_ops = res["api_ops"]
    ops = [o for o in all_ops if not o["warm"]]   # the warm-up block is checked, not timed
    all_cycles = res["cycles"]
    cycles = [c for c in all_cycles if not c["warm"]]  # the warm-up day is checked, not timed
    acks = [tuple(a) for a in res["acks"]]
    failed_ops = [o for o in all_ops if not o["ok"]]
    problems += [f"{o['route']}: {o['err']}" for o in failed_ops[:5]]

    # set-up's state counts as one op: 1_dagster_init
    init = {"pull": 0, "ingest_rows": book["served_rows"][0], "validated": 0, "state": res["init_state"]}
    validated_ids, bad_init = [], checks.cycle_failures(book, init, [])
    problems += bad_init
    cycle_bad = 0
    for c in all_cycles:
        validated_ids = validated_ids + book["validate_ids"][c["pull"]]
        bad = checks.cycle_failures(book, c, validated_ids)
        problems += bad
        cycle_bad += 1 if bad else 0

    unseen = checks.unseen_writes(acks, read_user_categories(
        os.path.join(run_dir, "warehouse", "user_categories"))) if acks else []
    problems += [f"write to {t}.{f} acknowledged as {w!r}, stored {g!r}" for t, f, w, g in unseen[:5]]

    # a cycle is three public calls; a failed check fails all three
    attempted = len(all_ops) + 3 * len(all_cycles) + 1
    failed = len(failed_ops) + 3 * cycle_bad + len(unseen) + (1 if bad_init else 0)
    n_ops = len(ops) or len(cycles)
    m, counts = {}, {"ops_per_s": n_ops, "op_p50_ms": n_ops, "cpu_s_per_op": n_ops}
    m["setup_s"] = res["setup_s"]
    m["retrain_s"] = res["retrain_s"]
    m["ok_ratio"] = 1.0 - failed / attempted
    # days exclude the checks that run between them
    day_walls = [c["ingest_predict_s"] + c["validate_s"] for c in cycles]
    m["ops_per_s"] = n_ops / (res["measured_s"] if ops else sum(day_walls))
    if ops:
        try:
            m["op_p50_ms"], _ = stats.percentile([o["ms"] for o in ops], 0.5)
        except ValueError as e:
            problems.append(f"op_p50_ms: {e}")
            m["op_p50_ms"] = stats.median([o["ms"] for o in ops])
    else:
        m["op_p50_ms"] = 1000 * stats.median(day_walls)
    m["cpu_s_per_op"] = (res["measured_cpu_s"] if ops else sum(c["cpu_s"] for c in cycles)) / n_ops
    m["stored_bytes_per_input_byte"] = res["warehouse_bytes"] / (book["input_bytes"] + res["served_bytes"])
    m["peak_rss_mb"] = res["env"]["peak_rss_mb"]
    return m, counts, attempted, failed, problems


def per_layer(res, e2e):
    layers = dict(res["layers"])
    cycles = [c for c in res["cycles"] if not c["warm"]]

    def cyc(f):
        return stats.median([f(c) for c in cycles]) if cycles else 0.0

    def med(kind):
        xs = [o["ms"] for o in res["api_ops"] if o["kind"] == kind and not o["warm"]]
        return stats.median(xs) if xs else 0.0
    layers["ingest.rows"] = cyc(lambda c: c["ingest_rows"])
    layers["ingest.transport_calls"] = cyc(lambda c: c["transport_calls"])
    layers["jobs.ingest_predict_ms"] = cyc(lambda c: 1000 * c["ingest_predict_s"])
    layers["jobs.validate_ms"] = cyc(lambda c: 1000 * c["validate_s"])
    layers["ml.train_rows"] = res["init_state"]["train_rows"]
    layers["ml.f1_macro"] = res["init_state"]["f1_macro"]
    layers["api.read_p50_ms"] = med("read")
    layers["api.write_p50_ms"] = med("write")
    layers["jvm.cpu_s"] = res["env"]["jvm_cpu_s"]
    for k, v in e2e.items():
        layers["traced." + k] = v
    return layers


# per-layer metrics: name -> unit; what each should move is in README.md
PER_LAYER = {
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_wait_ms": "ms",
    "exec.gc_ms": "ms", "exec.aqe_replans": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_memory_mb": "MB",
    "io.input_bytes": "bytes", "io.input_records": "count", "io.input_bytes_per_request": "bytes",
    "ingest.ms": "ms", "ingest.rows": "count", "ingest.tasks": "count",
    "ingest.transport_calls": "count",
    "jobs.ingest_predict_ms": "ms", "jobs.validate_ms": "ms",
    "jobs.write_actions_ms": "ms", "jobs.spark_jobs_per_cycle": "count",
    "jobs.bytes_written_per_cycle": "bytes", "jobs.files_written_per_cycle": "count",
    "jobs.driver_gap_ms": "ms",
    "ml.train_ms": "ms", "ml.predict_ms": "ms", "ml.train_rows": "count", "ml.f1_macro": "ratio",
    "api.read_p50_ms": "ms", "api.write_p50_ms": "ms",
    "api.actions_per_request": "count", "api.jobs_per_request": "count",
    "api.spark_ms_per_request": "ms", "api.outside_spark_ms_per_request": "ms",
    "api.write_bytes_per_edit": "bytes",
    "jvm.cpu_s": "s",
    **{"traced." + k: u for k, u in END_TO_END.items()},
}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no program sources here: run from the repository root (build.sbt, src/main/scala)")
    classpath, built_now = build(root)
    # a run that builds first may take the build's time as well
    deadline = t0 + (BUILD_DEADLINE_S + 50 if built_now else DEADLINE_S)

    nproc = len(os.sched_getaffinity(0))
    run_root = os.path.join(root, ".bench_run")
    run_dir = os.path.join(run_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    book = gen.write(args.seed, args.workload, run_dir)
    res = run_jvm(root, classpath, args.workload, run_dir, args.seconds, args.trace == 1, nproc,
                  args.seed, deadline)
    e2e, counts, attempted, failed, problems = evaluate(res, book, run_dir)

    for name, unit in END_TO_END.items():
        n = f"  (n={counts[name]})" if name in counts else ""
        print(f"{name:36s} {e2e[name]:14.4f} {unit}{n}")
    env = res["env"]
    print(f"env: nproc={env['nproc']} jdk={env['jdk']} load_avg_1m={env['load_avg_1m']:.2f} "
          f"core_probe_s={env['core_probe_s']:.4f} cycles={len(res['cycles'])} requests={len(res['api_ops'])}")
    print("spans: " + " ".join(f"{s['name']}={(s['end_ms'] - s['start_ms']) / 1000:.2f}s" for s in res["spans"]))
    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace == 1:
        layers = per_layer(res, e2e)
        for name, unit in PER_LAYER.items():
            print(f"{name:36s} {layers[name]:14.4f} {unit}")
        with open(os.path.join(run_root, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "layers": layers}, f)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if not problems:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if problems:
        sys.exit(1)


if __name__ == "__main__":
    try:
        main()
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
