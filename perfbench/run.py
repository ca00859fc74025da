#!/usr/bin/env python3
"""Benchmark of the graft engine, one workload per call.

Usage (from the repository root):

    python3 perfbench/run.py --workload traffic|corpus \
        --seed N --seconds S --trace 0|1

It builds the engine and the benchmark's own Scala code in `perfbench/`
from the sources of the checkout it sits in (only when they changed since
the last build), runs the workload in one JVM with SPARK_GRAFT_CPUS set to
the usable core count, checks the results (in the JVM, and for the corpus
queries of a traced `corpus` run against their DuckDB oracle SQL), and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .perfbench/traces/. The exit code is 0
only when every check passed and no operation failed.

Everything it writes stays under .perfbench/ in the checkout (and the
build's own target/ directories); each run's scratch directory is
removed when the run ends.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ("traffic", "corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed-size heap under the parallel collector. Fixed, so the full
# collection that measures retained heap never shrinks it and later
# timings do not pay for growing it back. Parallel, because Spark already
# runs one task thread per core: a concurrent collector's background
# threads compete with them (on 4 cores the refresh median read 2.0 s
# with this collector and 2.5-3.2 s with G1, same seed).
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's
# own list, see build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt; return the runtime
    classpath."""
    out = STATE / "build"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file, stamp_file = out / "classpath.txt", out / "stamp"
        if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
            return cp_file.read_text()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log("building the engine and the benchmark with sbt")
        with open(out / "build.log", "w") as blog:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=blog,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
            blog.write(proc.stdout)
        lines = [l.strip() for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
        if proc.returncode != 0 or not lines:
            log(f"build failed (exit {proc.returncode}); see {out / 'build.log'}")
            sys.exit(3)
        cp_file.write_text(lines[-1])
        stamp_file.write_text(stamp)
        return lines[-1]


def oracle_check(result):
    """Compare each written result with its oracle SQL under DuckDB, the
    way the repository's oracle compare does: same columns, same row
    count, and equal values in the same row order."""
    import duckdb
    con = duckdb.connect()
    tables = result["oracle_tables"]
    for t in glob.glob(f"{tables}/*.parquet"):
        name = Path(t).stem
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    checks = []
    for entry in result["oracle"]:
        name = f"oracle.{entry['query']}"
        try:
            files = sorted(glob.glob(f"{entry['path']}/*.parquet"))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_df()
            exp = con.execute(entry["sql"]).fetch_df()
            gcols, ecols = sorted(got.columns), sorted(exp.columns)
            if gcols != ecols:
                checks.append((name, False, f"columns {gcols} vs oracle {ecols}"))
            elif len(got) != len(exp):
                checks.append((name, False, f"{len(got)} rows vs oracle {len(exp)}"))
            else:
                same = got[gcols].reset_index(drop=True).equals(exp[ecols].reset_index(drop=True))
                checks.append((name, same, "" if same else "values or row order differ"))
        except Exception as e:  # a failed compare is a failed check
            checks.append((name, False, f"{type(e).__name__}: {e}"))
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        log(f"no engine sources next to {HERE}; nothing to benchmark")
        sys.exit(2)

    # A terminated run still stops its JVM and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    started = time.monotonic()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_dir = STATE / "runs" / run_id
    (run_dir / "tmp").mkdir(parents=True)
    for d in ("logs", "traces", "last"):
        (STATE / d).mkdir(exist_ok=True)
    trace_out = STATE / "traces" / f"{run_id}.json"
    jvm_log = STATE / "logs" / f"{run_id}.log"
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--dir", str(run_dir), "--out", str(run_dir / "result.json"),
              "--trace-out", str(trace_out)])
    proc = None
    try:
        with open(jvm_log, "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                code = proc.wait(timeout=max(30, RUN_TIMEOUT_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                log(f"run timed out; log: {jvm_log}")
                sys.exit(4)
        result_file = run_dir / "result.json"
        if code != 0 or not result_file.is_file():
            log(f"JVM exited {code} without a result; log: {jvm_log}")
            sys.stderr.write(jvm_log.read_text()[-4000:])
            sys.exit(5)
        result = json.loads(result_file.read_text())
        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        jvm_s = time.monotonic() - started
        if result["oracle"]:
            checks += oracle_check(result)
        log(f"JVM run {jvm_s:.1f} s, checks done at {time.monotonic() - started:.1f} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, op in sorted(result["operations"].items()):
        log(f"op {name}: n={op['count']} median={op['median_s']:.4f} total={op['total_s']:.3f} "
            f"samples={' '.join(f'{x:.3f}' for x in op['samples_s'])}")
    for name, ok, detail in checks:
        if not ok:
            log(f"check failed: {name}: {detail}")
    correct = bool(checks) and all(ok for _, ok, _ in checks) and result["failed"] == 0
    if result["failed"]:
        log(f"failed operations: {result['errors']}")

    if args.trace == 0:
        (STATE / "last" / f"{args.workload}.json").write_text(json.dumps(result["metrics"]))
    elif trace_out.is_file():
        report_overhead(args.workload, result, trace_out)

    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    sys.exit(0 if correct else 1)


def report_overhead(workload, result, trace_out):
    """Tracing overhead: each end-to-end metric of this traced run minus
    the same metric of the last untraced run of the workload."""
    last = STATE / "last" / f"{workload}.json"
    traced = result["other_metrics"]
    trace = json.loads(trace_out.read_text())
    trace["end_to_end_traced"] = traced
    if last.is_file():
        untraced = json.loads(last.read_text())
        overhead = {m: traced[m]["value"] - v["value"]
                    for m, v in untraced.items() if m in traced}
        trace["tracing_overhead"] = overhead
        log("tracing overhead (traced - untraced): " +
            ", ".join(f"{m} {d:+.4f}" for m, d in sorted(overhead.items())))
    trace["self_s_by_name"] = self_times(trace["spans"])
    trace_out.write_text(json.dumps(trace))


def self_times(spans):
    """Median self time per span name."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s["self_s"])
    return {n: statistics.median(v) for n, v in sorted(by.items())}


if __name__ == "__main__":
    main()
