#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_daily, table_lifecycle, corpus_operators (see
perfbench/README.md). The first run in a checkout builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Everything a run writes stays under .bench_build/ in
the checkout.

Prints every metric by name with its unit, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Exits
non-zero when an output is wrong or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

WORKLOADS = ("etl_daily", "table_lifecycle", "corpus_operators")

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "stored_bytes_per_row": "B/row",
    "ok_ops": "share",
    "retained_heap_mb": "MiB",
}

# Wall-clock timings of the timed passes: printed by every run, not gated
# (host CPU steal moves them by more than any allowed bound between runs).
WALL = {
    "wall_s": "s",
    "batch_p50_s": "s",
    "records_per_s": "1/s",
}

ROWS = ("q147_mor_delete", "q153_cdc_source", "x44_minhash_unbounded", "q126_evicting_join")

PER_LAYER = {
    "driver.gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "plans.actions": "count",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "fs.bytes_read": "B",
    "fs.bytes_written": "B",
    "streaming.get_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "spark.job_s": "s",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.core_busy": "share",
    "spark.single_task_stage_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "ingest.parse_s": "s",
    "ingest.records": "count",
    "ingest.payload_bytes": "B",
    "ingest.parse_stages": "count",
    "ingest.parse_tasks": "count",
    "operators.dedup_append_s": "s",
    "operators.snapshot_append_s": "s",
    "operators.snapshot_read_s": "s",
    "sources.parquet_read_s": "s",
    "operators.accept_ratio": "share",
    "operators.parquet_files": "count",
    "operators.snapshot_files": "count",
    "operators.snapshot_versions": "count",
    "spark.checkpoint_blocks": "count",
    "spark.checkpoint_bytes": "B",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.probe_s": "s",
    "ops.count": "count",
    "ops.tail_s": "s",
    "ops.tail_percentile": "%",
}
for _row in ROWS:
    PER_LAYER[f"queries.{_row}_s"] = "s"
    PER_LAYER[f"queries.{_row}_jobs"] = "count"
    PER_LAYER[f"queries.{_row}_gap_s"] = "s"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def remaining(started):
    return DEADLINE_S - (time.monotonic() - started)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def source_files():
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles engine + harness when the sources changed; returns the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK_ROOT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built = json.load(fh)
        if built.get("digest") == digest:
            return built["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state goes under .bench_build too; the sbt launcher and the
    # dependency cache of the toolchain are only read
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(ROOT, '.bench_build', 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(WORK_ROOT, "build.log")
    with open(log_path, "w") as log:
        try:
            rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "export Runtime/fullClasspath"], 850,
                                cwd=BENCH_DIR, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def oracle_failures(dump, started):
    """Compares each dumped row with DuckDB on its oracle SQL; returns the
    rows that did not match."""
    try:
        rc, out = run_bounded([sys.executable, "-B", os.path.join(ROOT, "tools", "oracle_check.py"),
                               dump["data"], dump["out"]], remaining(started),
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        return [f"{r}: oracle compare timed out" for r in dump["rows"]]
    ok = set(re.findall(r"^\[ OK \] (\S+):", out, re.M))
    bad = [l for l in out.splitlines() if l.startswith("[FAIL]")]
    # a row whose dump failed is already counted by the run itself
    written = {r for r in dump["rows"] if os.path.isdir(os.path.join(dump["out"], r))}
    missing = [f"{r}: no oracle verdict" for r in sorted(written - ok)
               if not any(l.startswith(f"[FAIL] {r}:") for l in bad)]
    return bad + missing


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(ROOT, "tools", "oracle_check.py")):
        if not os.path.exists(need):
            fail(f"engine sources not found ({os.path.relpath(need, ROOT)}); "
                 "run from the root of a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set (the build compiles against its jars)")

    os.makedirs(WORK_ROOT, exist_ok=True)
    classpath = build()
    started = time.monotonic()  # the build has its own allowance

    work = os.path.join(WORK_ROOT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(WORK_ROOT, f"record-{args.workload}-{args.trace}.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            args.workload, str(args.seed), repr(args.seconds), str(args.trace),
            work, record_path])
    log_path = os.path.join(WORK_ROOT, f"run-{args.workload}.log")
    with open(log_path, "w") as log:
        try:
            rc, _ = run_bounded(cmd, remaining(started) - 15, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit; see {log_path}")
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); see {log_path}")
    with open(record_path) as fh:
        record = json.load(fh)

    errors = list(record["errors"])
    if record.get("oracle_dump"):
        errors += oracle_failures(record["oracle_dump"], started)
    attempted = record["attempted"]
    failed = len(errors)
    shutil.rmtree(work, ignore_errors=True)

    values = dict(record["metrics"], ok_ops=1.0 - failed / attempted)
    if args.trace:
        metrics = {k: {"value": record["layers"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    for e in errors:
        print(f"FAILED {e}")
    tail = record["tail"]
    print(f"workload {args.workload} seed {args.seed} cores {record['cores']} "
          f"passes {len(record['passes'])} ops {tail['samples']}")
    print(f"batch_tail_s {tail['seconds']} s: " +
          (f"p{tail['percentile']} of {tail['samples']} operations" if tail["percentile"] is not None
           else f"the slowest of {tail['samples']} operations (no percentile has ten beyond it)"))
    print(f"failed_ops {failed / attempted:.4f} share ({failed} of {attempted})")
    for k, u in WALL.items():
        print(f"{k} {values[k]} {u}")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
