#!/usr/bin/env python3
"""Seeded benchmark of the stock ETL engine.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Compiles the engine (``src/main/scala``)
and the benchmark (``perfbench/src``) into ``.bench_build/perfbench``
when either changed, runs one JVM for the workload, checks every
operation's output, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see perfbench/README.md). The line
before it is the run's record: the same metrics plus context that is
not gated (tail percentile, failure ratio, host probe, Spark conf).
Exits 1 when a check fails or the run breaks, 2 on a usage error.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = ("daily_etl", "analyst_queries", "graph_small", "graph_large")
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 165
# A fixed heap: with the default initial size G1 resized the young
# generation differently in every JVM, and batch times followed it.
HEAP = "3g"
# What SparkSession needs opened on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory (SPARK_HOME, else the
    directory of spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found under {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def build(jars):
    """Compiles engine and benchmark with the Scala compiler that ships
    in the Spark distribution; skipped when the sources are unchanged."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(classes), f"@{argfile}"]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, jars, run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + opens
            + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main"] + args)


def run_jvm(cmd, log, timeout):
    """Runs the JVM in its own process group and waits for it; on
    timeout the whole group is killed and reaped."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="print a SHA-256 of the generated inputs and exit")
    a = ap.parse_args()

    jars = spark_jars()
    BUILD.mkdir(parents=True, exist_ok=True)
    classes = build(jars)
    run_dir = BUILD / "runs" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed)]
    if a.digest:
        out = subprocess.run(java_cmd(classes, jars, run_dir, args + ["--digest", "1"]),
                             stdout=subprocess.PIPE, text=True, check=True)
        print(out.stdout.strip())
        return
    log = run_dir / "jvm.log"
    args += ["--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(run_dir)]
    rc = run_jvm(java_cmd(classes, jars, run_dir, args), log, RUN_TIMEOUT_S)
    result = run_dir / "result.json"
    if rc != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'} without a result")
    record = json.loads(result.read_text())
    for d in ("work", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(run_dir / d, ignore_errors=True)

    if a.trace:
        values = metrics.per_layer(record)
        write_trace(record, run_dir / "trace.jsonl")
    else:
        values, context = metrics.end_to_end(record)
    ops = record["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and any(not o["warmup"] for o in ops)
    out = {"correct": correct, "attempted": len(ops), "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    full = dict(out, workload=a.workload, seed=a.seed, trace=a.trace, cores=record["cores"],
                conf=record["conf"], host_probe_s=record["host_probe_s"],
                host_factor=record["host_probe_s"] / record["host_probe_reference_s"],
                errors=[o["error"] for o in ops if o["error"]][:5])
    if not a.trace:
        full["context"] = context
    print(json.dumps({"record": full}))
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


def write_trace(record, path):
    """Spans (with self time) and jobs as JSON lines, for inspection."""
    selfs = metrics.self_times(record["spans"])
    with open(path, "w") as f:
        for s in record["spans"]:
            f.write(json.dumps(dict(s, kind="span", self_ns=selfs[s["id"]])) + "\n")
        for j in record["jobs"]:
            f.write(json.dumps(dict(j, kind="job")) + "\n")


if __name__ == "__main__":
    main()
