"""Benchmark of the graft k-means CLI (``graft.KMeansMain``).

    python3 kmbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The runner compiles the checkout's
program sources together with the harness (kmbench/harness, sbt), makes
the workload's inputs from the seed, runs the harness JVM, checks every
output, and prints one JSON object as its last line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Workloads, metrics and the reasons for each are in kmbench/README.md.
"""

import argparse
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORK = os.path.join(ROOT, ".bench_build", "kmbench")
ITERATIONS = 10
# Set-up samples per run: the measuring JVM and SETUPS - 1 JVMs that only
# build the session. More would not fit the run budget of the slower
# workload (about 80 s a run).
SETUPS = 2
# The harness JVMs of one run must end within this many seconds of the
# run's start (after the build), leaving time to check and report
# inside the 180 s a run may take.
JVM_BUDGET_S = 165
BUILD_BUDGET_S = 840
# A fixed, pre-touched heap: G1 grows an elastic heap at timing-dependent
# moments, which made the peak RSS of identical runs differ by a quarter.
# With the heap fixed, rss_peak_mb moves with what the JVM holds beyond
# it (code cache, metaspace, threads, direct buffers); heap pressure
# shows as GC time instead.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]

WORKLOADS = {
    # The reference's script_4 job: EP2 (seeded random init), 1M points.
    # BASELINE.md: the reference took 12 152.6 ms on it at p=4.
    # `init_seed` is the program's -seed; see gen.CENTER_SEED.
    "cli_ref_1m_k8": {"n": 1_000_000, "k": 8, "init_file": False,
                      "init_seed": 11, "baseline_s": 12.1526},
    # EP1 with 128 centroids drawn from the data.
    "cli_manyk_100k_k128": {"n": 100_000, "k": 128, "init_file": True},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s",
                    "point_iters_per_s": "1/s", "rss_peak_mb": "MB"}


def log(msg):
    print("kmbench: " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def spark_home():
    """The Spark installation ($SPARK_HOME) whose jars the program builds
    and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation at SPARK_HOME=%r" % home)
    return home


def source_digest():
    """Digest of everything the build compiles."""
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (SRC, os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, x) for x in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the sources are unchanged
    since the last build in this checkout."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(WORK, "build.log")
    code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       HARNESS, log_path, time.time() + BUILD_BUDGET_S, env)
    if code != 0:
        fail("build exited with %s, see %s" % (code, log_path))
    with open(stamp, "w") as f:
        f.write(digest)


def run_process(cmd, cwd, log_path, deadline, env=None):
    """Run ``cmd`` with its output in ``log_path``; kill its whole process
    group at ``deadline`` (a ``time.time()`` value). Returns the exit code,
    or a message when it was killed."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "killed at its deadline"


def harness(args, workdir, name, deadline):
    """Run one harness JVM (``args`` after its result path), killing it at
    ``deadline`` (a ``time.time()`` value); return its result. Its output
    goes to ``<name>.log`` in ``workdir``."""
    result = os.path.join(workdir, name + ".json")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    cmd = (["java"] + JVM_HEAP + ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "kmbench.Harness", args[0], result] + args[1:])
    log_path = os.path.join(workdir, name + ".log")
    code = run_process(cmd, workdir, log_path, deadline)
    if code != 0 or not os.path.exists(result):
        fail("harness %s exited with %s, see %s" % (args[0], code, log_path))
    with open(result) as f:
        return json.load(f)


def run(workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    n, k = spec["n"], spec["k"]
    workdir = os.path.join(WORK, "%s-%d-%d" % (workload, seed, trace))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)

    t = time.time()
    deadline = t + JVM_BUDGET_S
    points = os.path.join(workdir, "points.csv")
    cli = ["-points", points, "-iterations", str(ITERATIONS),
           "-custconvergence", "false"]
    if spec["init_file"]:
        init = os.path.join(workdir, "centroids.csv")
        gen.generate(seed, n, points, k, init)
        cli += ["-centroids", init]
    else:
        init = os.path.join(workdir, "init")
        gen.generate(seed, n, points)
        cli += ["-numcentroids", str(k), "-seed", str(spec["init_seed"]),
                "-centroids", init]
    for sink in ("pointsout", "centroidsout", "objfunout"):
        cli += ["-" + sink, os.path.join(workdir, sink)]

    log("generated inputs in %.1f s" % (time.time() - t))
    local = os.path.join(workdir, "spark-local")
    # Set-up samples come from JVMs of their own; a traced run reports none.
    setups = [harness(["setup", local], workdir, "setup%d" % i, deadline)["setup_s"]
              for i in range(0 if trace else SETUPS - 1)]
    trace_path = os.path.join(workdir, "trace.jsonl") if trace else "-"
    res = harness(["cli", trace_path, str(seconds), local] + cli, workdir, "cli",
                  deadline)
    setups.append(res["setup_s"])
    calls = res["calls"]

    # Every call runs the same fit on the same inputs; the sinks hold the
    # last call's outputs, which are checked in full.
    t = time.time()
    try:
        fails, alive = check.check(points, init, spec["init_file"], workdir,
                                   ITERATIONS, calls[-1]["supersteps"])
    except Exception as e:  # unreadable or missing sink
        fails, alive = ["output unreadable: %r" % e], [k] * ITERATIONS
    failed = sum(1 for c in calls[:-1] if c["supersteps"] != ITERATIONS
                 or c["k_final"] != calls[-1]["k_final"]) + (1 if fails else 0)
    for msg in fails:
        print("check failed: " + msg, file=sys.stderr)
    log("checked outputs in %.1f s" % (time.time() - t))
    if not fails:  # keep the logs, results and trace; drop the data
        os.remove(points)
        for d in ("pointsout", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(workdir, d), ignore_errors=True)

    if trace:
        events = layers.load(trace_path)
        sources = layers.Sources([SRC])
        per_call = [layers.call_metrics(events, c, sources, n, alive) for c in calls]
        metrics = {name: statistics.median(m[name] for m in per_call)
                   for name in per_call[0]}
        units = layer_units()
        out = {name: {"value": v, "unit": units[name]} for name, v in metrics.items()}
        with open(os.path.join(workdir, "functions.json"), "w") as f:
            json.dump(layers.functions(events, sources), f, indent=1)
    else:
        run_s = statistics.median(c["run_s"] for c in calls)
        steps = statistics.median(c["supersteps"] for c in calls)
        values = {"setup_s": statistics.median(setups),
                  "run_s": run_s,
                  "point_iters_per_s": n * steps / run_s,
                  "rss_peak_mb": res["rss_peak_mb"]}
        out = {name: {"value": v, "unit": END_TO_END_UNITS[name]}
               for name, v in values.items()}
        if "baseline_s" in spec:
            print("run_s / BASELINE (%.4f s) = %.3f" % (spec["baseline_s"],
                                                       run_s / spec["baseline_s"]))
    return {"correct": not fails and failed == 0, "attempted": len(calls),
            "failed": failed, "metrics": out}


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(SRC):
        fail("no program sources at %s: run from the root of a checkout" % SRC)
    spark_home()
    t = time.time()
    build()
    log("build ready in %.1f s" % (time.time() - t))
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
