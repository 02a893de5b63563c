#!/usr/bin/env python3
"""graft's benchmark: two workloads measured end to end and per layer.

    python3 perfbench/run.py --workload <pipeline|warehouse_stream>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record     # rewrite perfbench/expected.tsv

Run from the root of the repository. The first run builds the engine and
the benchmark runner from source with sbt (perfbench/build.sbt, output in
perfbench/target) against the Spark jars of $SPARK_HOME, or of the
spark-submit on PATH; later runs reuse the build while the sources are
unchanged. The runner works in one JVM at local[nproc/2], with the JVM
heap sized from MemTotal as the repository's test command sizes it. All
files a run writes stay under .perfbench/ in the repository.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`, each with the unit
BENCHMARK.json gives it. The line before it stamps the run (local[N],
nproc, heap, git sha, seed, host steal and CPU pressure). A traced run
also writes its spans to .perfbench/spans/<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["pipeline", "warehouse_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the JVM flags the root build passes to forked runs (build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def tree_hash():
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(spark_home):
    """Compile unless the last build was of the same sources."""
    want = tree_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return want
    if os.path.exists(STAMP):
        os.remove(STAMP)
    # sbt's own temporary files go under .perfbench/ too
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Djava.io.tmpdir=" + tmp, "compile"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                           env=dict(os.environ, SPARK_HOME=spark_home))
    except (OSError, subprocess.TimeoutExpired) as e:
        die("build failed: %s" % e)
    if r.returncode != 0:
        die("build failed (sbt exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(want)
    return want


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def heap_size():
    """MemTotal / 2, clamped to 2..8 GiB: the heap the test command uses."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def spark_home():
    """$SPARK_HOME, or the installation of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    if not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark jars: set SPARK_HOME")
    return home


def metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Queries.scala")):
        die("no engine sources next to the benchmark (run from a repository checkout)")
    if not a.record:
        units = metric_table()[a.trace]

    home = spark_home()
    tree = build(home)
    name = "record" if a.record else a.workload
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    # the JVM, and with it local[N], sees half the CPUs: the rest is left to
    # the JIT compiler and GC threads and to the host's other tenants, whose
    # contention otherwise shows as run-to-run noise
    cmd = (["java", "-Xmx" + heap_size(), "-XX:ActiveProcessorCount=%d" % max(1, nproc // 2),
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
            "graft.perfbench.PerfBench",
            "--data", os.path.join(HERE, "data"), "--work", work, "--bench", HERE,
            "--sha", git_sha() or "tree-" + tree[:16], "--seed", str(a.seed),
            "--nproc", str(nproc)])
    if a.record:
        cmd += ["--record"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--spans", os.path.join(WORK, "spans", "%s-%d.jsonl" % (a.workload, a.seed))]
    # setup_s runs from here, the launch of the JVM
    cmd += ["--launched-us", str(time.time_ns() // 1000)]
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_TIMEOUT_S if not a.record else None)
    except subprocess.TimeoutExpired:
        die("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        die("benchmark JVM exit %d" % r.returncode)
    if a.record:
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    if set(result["metrics"]) != set(units):
        die("metrics %s differ from BENCHMARK.json %s"
            % (sorted(result["metrics"]), sorted(units)))
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    for l in lines[:-1]:
        print(l)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
