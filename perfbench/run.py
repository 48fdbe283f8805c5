#!/usr/bin/env python3
"""Benchmark runner: extraction turns on both faces and the curation mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the classpath under
$CARGO_TARGET_DIR (default `.bench_build`); later runs reuse it while the
sources are unchanged. Each run then starts one JVM with `build.sbt`'s
`run` options (pre-touched heap of the size tier-1 uses, ParallelGC, the
JDK add-opens list) on `local[nproc]`,
generates the extraction inputs from the seed (the curation mix reads the
fixed tables under `perfbench/tables`), warms up, measures for
`--seconds` (at least a few whole passes), and checks every output.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). The lines before it repeat why the
workload exists and list every measured value with its unit. The exit code
is 0 when every output was correct, 1 when some output was wrong (the
result line is still printed), and 2 when the run could not be made.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# workloads with why each exists, and the (name, unit) of the end-to-end
# metrics (printed with --trace 0) and the per-layer metrics (printed with
# --trace 1; a layer a workload does not run reads 0 there)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
WORKLOADS = {w["name"]: w["why"] for w in _SPEC["workloads"]}
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]

# each workload's headline under its own name, printed above the result
# line; heap_live_mb (heap after a full GC at the end of the run) is printed
# with them but is a per-layer metric, as it does not repeat within a tenth
# from run to run on the curation mix
HEADLINE = {
    "extract_exchange": [("turns_per_s", "turns/s"), ("turn_fail_frac", "ratio"),
                         ("heap_live_mb", "MB")],
    "extract_prebucketed": [("turns_per_s", "turns/s"), ("turn_fail_frac", "ratio"),
                            ("heap_live_mb", "MB")],
    "curation_mix": [("mix_s", "s"), ("mix_geomean_s", "s"), ("query_fail_frac", "ratio"),
                     ("heap_live_mb", "MB")],
}

# the curation mix's input: copies of the repository's seed-42 scale-0.01
# test tables, kept read-only in the benchmark's own directory
CURATION_TABLES = os.path.join(HERE, "tables")
# the host diagnostics printed with them: the median wall time of a timed
# pass before the gauge scaling, the gauge's median time, and the stolen
# share of the machine's CPU ticks over the run
HOST = [("pass_wall_s", "s"), ("host.gauge_s", "s"), ("host.steal_frac", "ratio")]

# the JVM's share of the 180 s a run may take (900 s when it builds), the
# rest left for the oracle check
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 700

JDK_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stamp():
    """Hash of every source and build file the classpath depends on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(bdir):
    """Compile program and benchmark; return the runtime classpath and
    whether it had to be built."""
    s = stamp()
    cache = os.path.join(bdir, "classpath.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == s:
            return lines[1], False
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        out = fh.read().splitlines()
    cps = [l for l in out if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        die(f"build failed (log: {log})")
    with open(cache, "w") as fh:
        fh.write(s + "\n" + cps[-1] + "\n")
    return cps[-1], True


def heap_size():
    """The tier-1 heap formula: half of the machine's memory
    (MemTotal), 2 to 8 GiB."""
    g = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 30)
    return f"{min(8, max(2, g))}g"


# SparkEntry.scratchDir: the program writes the index and shard tables of
# some curation queries here when /dev/shm is writable, whatever the JVM's
# temporary directory; the run removes what it added
PROGRAM_SCRATCH = "/dev/shm/graft-scratch"


def scratch_entries():
    try:
        return set(os.listdir(PROGRAM_SCRATCH))
    except OSError:
        return None


def remove_new_scratch(before):
    after = scratch_entries()
    if after is None:
        return
    if before is None:
        shutil.rmtree(PROGRAM_SCRATCH, ignore_errors=True)
        return
    for name in after - before:
        shutil.rmtree(os.path.join(PROGRAM_SCRATCH, name), ignore_errors=True)


def cpu_ticks():
    """(stolen, all) CPU clock ticks of the machine so far, from the first
    line of /proc/stat; stolen ticks are time the hypervisor gave to other
    guests while this machine's processors wanted to run. Zeros where
    /proc/stat cannot be read."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def run_jvm(cp, args, work, tables, report, deadline):
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    heap = heap_size()
    cmd = [java, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-Xss1m"]
    for p in JDK_ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--tables", tables, "--out", report,
            "--cores", str(cores)]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override the session's spark.local.dir
    log = os.path.join(work, "jvm.log")
    scratch = scratch_entries()
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die(f"the benchmark JVM did not finish in time (log: {log})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            remove_new_scratch(scratch)
    if rc != 0 or not os.path.isfile(report):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"the benchmark JVM failed with code {rc} (log: {log})")
    return cores, heap


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    # a terminated runner still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources next to the benchmark (src/main/scala/graft); "
            "run from the root of a full checkout")

    bdir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(bdir, exist_ok=True)
    cp, built = build(bdir)

    deadline = time.time() + RUN_LIMIT_S + (BUILD_LIMIT_S - (time.time() - start) if built else 0)
    work = os.path.join(bdir, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")

    # set-up starts here: inputs, JVM start, heap pre-touch, session, warm-up
    setup_t0 = time.time()
    ticks0 = cpu_ticks()
    cores, heap = run_jvm(cp, args, work, CURATION_TABLES, report_path, deadline)
    ticks1 = cpu_ticks()
    with open(report_path) as fh:
        rep = json.load(fh)
    m = rep["metrics"]
    m["setup_s"] = rep["first_pass_epoch_ms"] / 1e3 - setup_t0
    # a diagnostic of the host, not a correction: the times stay wall times
    all_ticks = ticks1[1] - ticks0[1]
    m["host.steal_frac"] = (ticks1[0] - ticks0[0]) / all_ticks if all_ticks > 0 else 0.0

    problems = []
    if rep["wrong"]:
        problems.append(f"{rep['wrong']} wrong outputs, e.g. {rep['notes'].get('wrong_example')}")
    if args.workload == "curation_mix":
        import oracle
        names = rep["notes"]["order"].split(",")
        bad = oracle.check(work, CURATION_TABLES, os.path.join(bdir, "oracle"), names)
        if bad:
            problems.append(f"{len(bad)} of {len(names)} queries differ from their DuckDB oracle: "
                            + ", ".join(bad[:10]))
    correct = not problems

    print(f"workload: {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{cores}]  heap {heap}  wall {time.time() - start:.1f} s")
    print(f"why: {WORKLOADS[args.workload]}")
    print("passes timed: " + rep["notes"].get("passes", "?") +
          " (each value is the median over them)")
    for note in ("warm_passes", "pass_times"):
        if note in rep["notes"]:
            print(f"{note.replace('_', ' ')} (s): {rep['notes'][note]}")
    for p in problems:
        print(f"WRONG: {p}")
    for name, unit in HEADLINE[args.workload] + HOST + END_TO_END:
        print(f"  {name:<28} {m[name]:>16.6g} {unit}")
    names = END_TO_END if args.trace == 0 else PER_LAYER
    if args.trace:
        print("per-layer:")
        for name, unit in PER_LAYER:
            print(f"  {name:<28} {m.get(name, 0.0):>16.6g} {unit}")
    result = {
        "correct": correct,
        "attempted": int(rep["attempted"]),
        "failed": int(rep["failed"]),
        "metrics": {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
