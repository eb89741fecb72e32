#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from source, run one
workload, and print its result as the last line of standard output.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Workloads: serve and curate (see perfbench/WORKLOADS.md). With
``--trace 0`` the result carries the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The harness's full report (every
end-to-end metric of the workload by its own name, the run context and, when
traced, the per-layer metrics and spans) is written under
``.bench_build/results/``.

The Scala sources of ``src/main/scala`` and ``perfbench/src`` are compiled
with the Scala compiler shipped among the Spark jars into
``.bench_build/classes-<source hash>``; a later run with the same sources
reuses that build. The Spark jar directory is ``$SPARK_HOME/jars`` when
SPARK_HOME is set, else the ``unmanagedBase`` the sbt build names.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
# a run must end within 180 s once the build exists
HARNESS_TIMEOUT_S = 170.0
WORKLOADS = ("serve", "curate")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.is_file():
            fail("no SPARK_HOME and no build.sbt to find the Spark jars")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            fail("build.sbt names no unmanagedBase jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("spark-sql_*.jar")):
        fail(f"no Spark jars in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("src/main/scala not found: run from a checkout of the repository")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return files, h.hexdigest()


def build(jars):
    files, digest = sources()
    out = BUILD / f"classes-{digest[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / "_OK").exists():
            return out, digest
        tmp = BUILD / f"classes-tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = BUILD / f"sources-{os.getpid()}.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(tmp), f"@{argfile}"]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        argfile.unlink()
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compile failed (exit {r.returncode})")
        (tmp / "_OK").write_text(f"{time.time() - t0:.1f}\n")
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out, digest


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git repository
    (git may not look above the checkout for one)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)

    work = BUILD / f"work-{os.getpid()}"
    out = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + opens + [
        "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes}:{jars}/*",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work / "run"), "--out", str(out)])
    env = dict(os.environ, PERFBENCH_COMMIT=git_commit(),
               PERFBENCH_SOURCE_SHA256=digest)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("harness exceeded its time limit")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")

    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        fail("harness printed no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    result["metrics"] = declared_metrics(result["metrics"], a.trace)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


def declared_metrics(got, trace):
    """The result's metrics in BENCHMARK.json order. Per-layer metrics of a
    layer the workload does not exercise are reported as 0; an undeclared
    metric, a unit mismatch or a missing end-to-end metric is an error."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in declared}
    extra = set(got) - names
    if extra:
        fail(f"harness reported undeclared metrics {sorted(extra)}")
    out = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} missing")
            v = {"value": 0, "unit": m["unit"]}
        if v["unit"] != m["unit"]:
            fail(f"{m['name']}: unit {v['unit']} != declared {m['unit']}")
        out[m["name"]] = v
    return out


if __name__ == "__main__":
    main()
