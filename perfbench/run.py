#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of the checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), runs the workload
in one JVM with Spark in local[nproc], checks its outputs, and prints two
JSON lines on stdout: the full record of the run (every metric with its unit
and sample count, seed, cpus, loadavg, input sizes) and, last, the summary
`{"correct", "attempted", "failed", "metrics"}`. The full record is also
written under `.bench_build/results/`; perfbench/compare.py reads those
files. Exits 1 when a correctness check failed, 2 when the run could not
produce a result.

`--selftest` instead runs the checkers against deliberately corrupted
answers and exits 0 only if every one of them is rejected.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_stream", "analytics_suite")
FIXTURES = Path("perfbench/fixtures/sf0.001")
RESULTS = build.BUILD_DIR / "results"
JVM_DEADLINE_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these; the list matches
# build.sbt's jdk17AddOpens (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def jvm_command(classes, run_dir, args):
    jars = build.spark_jars()
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed, pre-touched heap keeps peak RSS from following the garbage
    # collector's sizing choices; heap use itself is the jvm.heap_peak_mb layer.
    return (["java", *opts, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.language=en", "-Duser.country=US",
             "-cp", f"{classes}{os.pathsep}{jars}/*",
             "perfbench.Main", *args])


def run_jvm(cmd, deadline_s):
    """Run the JVM in its own process group; kill the group on timeout and
    wait until it has ended."""
    # Few malloc arenas keep the JVM's native footprint, and so peak RSS,
    # from varying with how many threads happened to allocate at once.
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"workload did not finish within {deadline_s} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def summary(record, trace):
    wanted = "per_layer" if trace else "end_to_end"
    spec = json.loads(Path("BENCHMARK.json").read_text())
    names = [m["name"] for m in spec[wanted]]
    missing = [n for n in names if n not in record["metrics"]]
    if missing:
        fail(f"workload did not report {missing}")
    return {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": record["metrics"][n]["value"],
                        "unit": record["metrics"][n]["unit"]} for n in names},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not Path("BENCHMARK.json").exists():
        fail("BENCHMARK.json not found: run from the root of the checkout")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))
    if not FIXTURES.is_dir():
        fail(f"{FIXTURES} is missing")

    run_dir = build.BUILD_DIR / "run" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    out = run_dir / "record.json"
    try:
        if a.selftest:
            rc = run_jvm(jvm_command(classes, run_dir, ["--selftest", "1", "--dir", str(run_dir)]),
                         JVM_DEADLINE_S)
            import oracle
            ok = rc == 0 and oracle.selftest(FIXTURES, run_dir / "oracle_selftest")
            print(json.dumps({"selftest": "ok" if ok else "failed"}))
            sys.exit(0 if ok else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", str(run_dir), "--fixtures", str(FIXTURES),
                "--out", str(out), "--deadline", str(JVM_DEADLINE_S - 10)]
        rc = run_jvm(jvm_command(classes, run_dir, args), JVM_DEADLINE_S)
        if rc != 0 or not out.exists():
            fail(f"workload exited with code {rc} and no result")
        record = json.loads(out.read_text())
        if a.workload == "analytics_suite":
            import oracle
            bad = oracle.check(FIXTURES, run_dir / "suite_out")
            record["failed"] += len(bad)
            if bad:
                record["correct"] = False
                record.setdefault("errors", []).extend(bad[:10])
        RESULTS.mkdir(parents=True, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
        (RESULTS / f"{name}.json").write_text(json.dumps(record, indent=1))
        spans = run_dir / "spans.jsonl"
        if spans.exists():
            shutil.move(str(spans), RESULTS / f"{name}.spans.jsonl")
        for e in record.get("errors", [])[:10]:
            print(f"perfbench: error: {e}", file=sys.stderr)
        print(json.dumps(record))
        print(json.dumps(summary(record, a.trace)), flush=True)
        sys.exit(0 if record["correct"] else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
