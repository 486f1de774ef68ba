#!/usr/bin/env python3
"""Layered benchmark of graft.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record
    python3 perfbench/run.py --profile

Builds graft together with the harness under perfbench/src (sbt, once per
source state), then runs one workload in a fresh JVM started directly with
java, on local[nproc] with spark.sql.shuffle.partitions=nproc. One client
issues one op at a time. The seed sets the order of every pass and the slice
of the workload's members swept through the output check. With --trace 0 the
last stdout line carries the end-to-end metrics of BENCHMARK.json; with
--trace 1 it carries the per-layer metrics, and the span tree is written to
perfbench/.out/. Earlier lines carry the provenance stamp and the run detail.

The inputs are the sf0.01 fixture tables under perfbench/data (a copy of the
repository's sf0.01 test fixture). Expected row counts and digests are in
perfbench/expected; --record rewrites them from this tree's outputs, which
must first pass tools/compare.py against DuckDB at sf0.01. --profile times
every declared query (one cold run, then the median of PROFILE_PASSES warm
runs) and rewrites perfbench/expected/sf0.01.times.tsv, the measurement the
workload cores in Workloads.scala are chosen from.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.tsv")
TIMES = os.path.join(HERE, "expected", "sf0.01.times.tsv")
PROFILE_PASSES = 5
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
OUT = os.path.join(HERE, ".out")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# set-up is timed in the run's own JVM and in this many set-up-only JVMs
EXTRA_SETUPS = 2
DEADLINE_S = 170
BUILD_DEADLINE_S = 840
HEAP = "3g"
# a fixed young generation and no adaptive resizing keep peak RSS repeatable
YOUNG = "768m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def source_digest():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest, deadline):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "wb") as lf:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        code = wait(p, deadline)
    if code != 0:
        tail(log)
        fail(f"build failed (exit {code}), log in {log}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def wait(p, deadline):
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return "timeout"


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-n:]))
    except OSError:
        pass


def jvm(mode, run_dir, cpus, deadline, extra, expected=EXPECTED):
    out = os.path.join(run_dir, f"{mode}-{time.monotonic_ns()}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "graft.bench.Main",
            "--mode", mode, "--cpus", str(cpus), "--run-dir", run_dir,
            "--data", DATA, "--expected", expected, "--out", out] + extra
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "ab") as lf:
        spawn = time.time_ns()
        p = subprocess.Popen(cmd + ["--spawn-ns", str(spawn)], cwd=run_dir,
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        code = wait(p, deadline)
    if code != 0 or not os.path.exists(out):
        tail(log)
        fail(f"{mode} JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def record(run_dir, cpus, deadline):
    rows = jvm("record", run_dir, cpus, deadline, [])["expected"]
    with open(EXPECTED, "w") as f:
        f.write("# Expected output of every declared query on perfbench/data/sf0.01:\n"
                "# name, row count of toRdd.count(), order-insensitive content digest\n"
                "# (Check.digest). Recorded from a tree whose outputs at this scale\n"
                "# passed tools/compare.py against DuckDB.\n")
        for r in rows:
            f.write(f"{r['name']}\t{r['rows']}\t{r['digest']}\n")
    print(f"perfbench: wrote {len(rows)} expected values to {os.path.relpath(EXPECTED, ROOT)}")


def profile(run_dir, cpus, deadline):
    rows = jvm("profile", run_dir, cpus, deadline, ["--passes", str(PROFILE_PASSES)])["times"]
    with open(TIMES, "w") as f:
        f.write(f"# Time of every declared query on perfbench/data/sf0.01, {cpus} cores,\n"
                f"# in one JVM: name, first (cold) run ms, median of {PROFILE_PASSES} warm runs ms.\n")
        for r in rows:
            f.write(f"{r['name']}\t{r['cold_ms']:.1f}\t{r['warm_ms']:.1f}\n")
    print(f"perfbench: wrote {len(rows)} query times to {os.path.relpath(TIMES, ROOT)}")
    warm = {r["name"]: r["warm_ms"] for r in rows}
    for name, (prefixes, k) in CORES.items():
        print(f"perfbench: {name} core: {' '.join(core_of(warm, prefixes, k))}")


# workload -> (query name prefixes, core size); Workloads.scala holds the picks
CORES = {"cell_storage": ("abcdefghik", 8), "llm_curation": ("j", 5)}


def read_times(path=TIMES):
    with open(path) as f:
        return {p[0]: float(p[2]) for p in (l.rstrip("\n").split("\t") for l in f
                                            if not l.startswith("#"))}


def core_of(warm, prefixes, k):
    """The rank-stratified core: the member at rank floor((i + 1/2) * n / k)
    of the members sorted by warm time, then name."""
    members = sorted((q for q in warm if q[0] in prefixes), key=lambda q: (warm[q], q))
    n = len(members)
    return [members[int((i + 0.5) * n / k)] for i in range(k)]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="expected row counts and digests (the self-test plants a wrong one)")
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected file from this tree's outputs")
    ap.add_argument("--profile", action="store_true",
                    help="rewrite the per-query time file from this tree")
    args = ap.parse_args()
    start = time.monotonic()
    maintenance = args.record or args.profile
    if not maintenance and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(SRC):
        fail(f"graft sources not found at {os.path.relpath(SRC, os.getcwd())}")
    if not os.path.isdir(SPARK_JARS):
        fail("SPARK_HOME must name a Spark installation")
    for need in (DATA, args.expected, os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, os.getcwd())}")
    spec = declared()
    if not maintenance and args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    build(digest, start + BUILD_DEADLINE_S)

    cpus = len(os.sched_getaffinity(0))
    deadline = time.monotonic() + DEADLINE_S
    run_dir = os.path.join(OUT, f"run-{args.workload or 'maintenance'}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.record:
            record(run_dir, cpus, deadline + BUILD_DEADLINE_S)
            return
        if args.profile:
            profile(run_dir, cpus, deadline + 3 * BUILD_DEADLINE_S)
            return
        setups = []
        if not args.trace:
            for _ in range(EXTRA_SETUPS):
                setups.append(jvm("setup", run_dir, cpus, deadline, [])["setup_s"])
        res = jvm("run", run_dir, cpus, deadline,
                  ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)],
                  expected=os.path.abspath(args.expected))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["end_to_end"]
    setups.append(e2e["setup_s"]["value"])
    e2e["setup_s"]["value"] = statistics.median(setups)
    metrics = res["per_layer"] if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")

    jv = res["provenance"]
    provenance = {
        "nproc": cpus, "kernel": platform.release(), "java": jv["java"],
        "spark": jv["spark"], "heap_max_mb": jv["heap_max_mb"], "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(), "source_sha256": digest,
        "ops": res["detail"]["ops"], "sweep": res["detail"]["sweep"],
        "setup_samples_s": setups,
    }
    print("perfbench provenance " + json.dumps(provenance))
    print("perfbench detail " + json.dumps(res["detail"]))
    if args.trace:
        trace = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace, "w") as f:
            json.dump({"provenance": provenance, "spans": res["spans"]}, f)
        print(f"perfbench trace {os.path.relpath(trace, ROOT)}")
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
