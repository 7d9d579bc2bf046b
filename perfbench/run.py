#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload rag|ann|operators --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark drivers from source on first use
(sbt, into $CARGO_TARGET_DIR or .bench_build/), runs one workload in a
fresh JVM with at most nproc (and at most 4) Spark task threads, checks
the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} with every end-to-end metric
of BENCHMARK.json (--trace 0) or every per-layer metric (--trace 1).
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

START = time.time()
DEADLINE_S = 175          # a run ends within 180 s ...
BUILD_DEADLINE_S = 880    # ... or 900 s when it has to build first
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    out = []
    for base in ("src/main/scala", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(root, "perfbench/build.sbt")]


def build(root, build_dir):
    """sbt build of engine + drivers, skipped when the sources are those of
    the last build; returns the runtime classpath and whether it built."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(build_dir, exist_ok=True)
    for f in os.listdir(build_dir):
        if f.endswith(".jsa"):  # class archives of the previous build
            os.remove(os.path.join(build_dir, f))
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "-batch", "export Runtime/fullClasspath"],
                             cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                             stderr=out, text=True, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_DEADLINE_S - DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"build exceeded its time budget; see {log}")
        out.write(stdout)
    lines = [ln for ln in stdout.splitlines()
             if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip(), True


def run_jvm(classpath, built, args, work, result, log, build_dir):
    # Class-data sharing: the first run of a workload after a build dumps
    # the classes it loaded into an archive, and later runs map them
    # instead of loading them from the jars again (SparkSession start-up
    # fell from ~8 s to ~3.5 s on a 4-vCPU VM).
    archive = os.path.join(build_dir, f"cds-{args.workload}.jsa")
    dumping = not os.path.exists(archive)
    cds = (f"-XX:ArchiveClassesAtExit={archive}.tmp" if dumping
           else f"-XX:SharedArchiveFile={archive}")
    cmd = (["java", cds, "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", result, "--t0", str(int(time.time() * 1000))])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    budget = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - START)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded its time budget; see {log}", 3)
    with open(log) as fh:
        failures = [ln.rstrip() for ln in fh if ln.startswith("[perfbench] FAILED")]
    for ln in failures[:10]:
        print(ln)
    if code != 0 or not os.path.exists(result):
        die(f"JVM exited {code}; see {log}", 4)
    if dumping and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["rag", "ann", "operators"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        die("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

    classpath, built = build(root, build_dir)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "work", tag)
    result_file = os.path.join(build_dir, "results", tag + ".json")
    log = os.path.join(build_dir, "logs", tag + ".log")
    for d in (work, os.path.dirname(result_file), os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    try:
        res = run_jvm(classpath, built, args, work, result_file, log, build_dir)
        if args.workload == "operators":
            sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
            import oracle
            oracle.check(res, os.path.join(work, "opsdata"), os.path.join(work, "outputs"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = e2e_metrics(res)
    figures = {k: (v[0], v[1]) for k, v in res["figures"].items()}
    print_summary(args, res, metrics, figures)
    if args.trace == 0:
        wanted = spec["end_to_end"]
        values = metrics
    else:
        wanted = spec["per_layer"]
        # a layer the workload never enters reads 0
        values = {m["name"]: figures.get(m["name"], (0.0, m["unit"])) for m in wanted}
    out = {}
    for m in wanted:
        if m["name"] not in values:
            die(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": values[m["name"]][0], "unit": m["unit"]}
    # a wrong output or a crash is a failed operation: the run is correct
    # only when none failed
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}, separators=(",", ":")))


def e2e_metrics(res):
    """Round -1 holds set-up operations; round 0 is the warm-up round when
    a run has more than one. `op_ms` weighs every operation kind alike:
    the geometric mean of the kinds' median latencies, so a change to any
    one path moves it, and by the same share whichever path it is."""
    first = 1 if len(res["round_ms"]) > 1 else 0
    kinds = {}
    for kind, ms, rnd in res["ops"]:
        if rnd >= first:
            kinds.setdefault(kind, []).append(ms)
    return {
        "setup_s": (res["setup_s"], "s"),
        "round_s": (statistics.median(res["round_ms"][first:]) / 1000, "s"),
        "op_ms": (statistics.geometric_mean([statistics.median(v) for v in kinds.values()]), "ms"),
    }


def print_summary(args, res, metrics, figures):
    kinds = {}
    for kind, ms, _ in res["ops"]:
        kinds.setdefault(kind, []).append(ms)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['cores']} rounds={len(res['round_ms'])} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"wall={time.time() - START:.1f}s")
    print("ops: " + ", ".join(f"{k} n={len(v)} p50={statistics.median(v):.1f}ms"
                             for k, v in kinds.items()))
    for name, (v, unit) in list(metrics.items()) + list(figures.items()):
        print(f"  {name} = {v:.6g} {unit}")


if __name__ == "__main__":
    main()
