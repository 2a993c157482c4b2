#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload rollup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (perfbench/build.sbt) and generates
the input tables; later runs reuse both. Everything it writes goes
under `.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["rollup", "ingest"]
DATA_SEED = 42           # the tables are fixed; --seed permutes the entry order
SF = 0.01
DEADLINE_S = 165         # a run must end within 180 s, not counting a build
BUILD_TIMEOUT_S = 600
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(root):
    found = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties"):
        found += glob.glob(os.path.join(root, pattern), recursive=True)
    return found


def wait_or_kill(proc, timeout, what):
    """Wait for `proc` (started in its own session) and return its
    stdout; past `timeout` seconds kill its whole process group."""
    try:
        return proc.communicate(timeout=max(1.0, timeout))[0] or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"{what} exceeded its time limit")


def spark_jars():
    """The jars directory of the local Spark distribution: SPARK_HOME's,
    else that of the first `spark-submit` on the PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark distribution found: set SPARK_HOME")


def build(root, work):
    """Compile engine + harness once per source fingerprint; return the classpath."""
    stamp = fingerprint(sources(root))
    cp_file = os.path.join(work, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    with open(os.path.join(work, "build.log"), "w") as logf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=logf, text=True, stdin=subprocess.DEVNULL, start_new_session=True)
        stdout = wait_or_kill(proc, BUILD_TIMEOUT_S, "the build")
    lines = [ln for ln in stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("build failed; see .bench_build/build.log")
    for stale in glob.glob(os.path.join(work, "classpath-*.txt")) + \
            glob.glob(os.path.join(work, "classes-*.jsa")):
        os.remove(stale)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def run_jvm(classpath, class_archive, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # The first run in a checkout records the classes it loads into a
    # class-data archive; later runs map it instead of re-reading jars.
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(class_archive)
           else "-XX:ArchiveClassesAtExit=") + class_archive
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath, "graftbench.PerfBench"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_GRAFT_STREAM_TMP=tmp, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        wait_or_kill(proc, deadline - time.monotonic(), "the benchmark JVM")
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def oracle_check(raw, data_dir, run_dir, verified_file):
    """Entry -> None if its set-up result matches the DuckDB oracle, else
    why not. Results checked before (same entry, rows, digest and oracle
    SQL on the same tables) are listed in `verified_file`."""
    con = oracle.connect(data_dir)
    errors = {}
    for e, v in raw["verified"].items():
        if not v["written_matches"]:
            errors[e] = "the result written for the check differs from the recorded one"
        elif v["needs_check"]:
            errors[e] = oracle.check(con, v["sql"], os.path.join(run_dir, "verify", e))
            if errors[e] is None:
                with open(verified_file, "a") as f:
                    f.write(v["key"] + "\n")
        else:
            errors[e] = None
    return errors


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def result_line(correct, attempted, failed, metrics):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources (src/main/scala/graft) here; "
                         "run from the root of a full checkout")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    if load_start > cores:
        log(f"WARNING: run starts at load {load_start:.2f} above {cores} cores")

    classpath, src_stamp = build(root, work)
    gen_stamp = fingerprint([gen_data.__file__])
    data_dir = gen_data.write(
        os.path.join(work, "data", f"sf{SF}-seed{DATA_SEED}-{gen_stamp}"), DATA_SEED, SF)
    verified_file = os.path.join(data_dir, "verified.txt")
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_jvm = time.monotonic()
        deadline = t_jvm + DEADLINE_S
        raw = run_jvm(classpath, os.path.join(work, f"classes-{src_stamp}.jsa"),
                      [a.workload, a.seed, a.seconds, a.trace, data_dir, run_dir, cores,
                       verified_file], run_dir, deadline)
        t_oracle = time.monotonic()
        oracle_errors = oracle_check(raw, data_dir, run_dir, verified_file)
        harness = {"prepare_s": t_jvm - t_start, "jvm_s": t_oracle - t_jvm,
                   "oracle_s": time.monotonic() - t_oracle}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed_entries = {e for e, err in oracle_errors.items() if err}
    for e in sorted(failed_entries):
        log(f"ORACLE MISMATCH {e}: {oracle_errors[e]}")

    e2e, counts = stats.end_to_end(raw, failed_entries)
    provenance = dict(raw["provenance"], nproc=os.cpu_count(), load_start=load_start,
                      load_end=os.getloadavg()[0], overloaded_start=load_start > cores,
                      sf=SF, data_fingerprint=fingerprint(
                          glob.glob(os.path.join(data_dir, "*.parquet"))),
                      source_fingerprint=src_stamp, git_commit=git_commit(root))
    report = {"provenance": provenance, "counts": counts,
              "oracle": {e: err or "ok" for e, err in oracle_errors.items()},
              "setup": raw["setup"], "passes": raw["passes"], "harness": harness,
              "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    if a.trace:
        layers, entries, overhead = stats.per_layer(raw, cores)
        report.update(per_layer=layers, entries=entries, trace_overhead=overhead)
        for e, d in sorted(entries.items()):
            if not d["coverage_ok"]:
                lo, hi = d["coverage_band"]
                log(f"WARNING: {e} coverage {d['coverage']:.3f} outside "
                    f"[{lo:.3f}, {hi:.3f}] ({d['samples']['traced']} traced samples)")
        metrics = {k: (v, stats.unit(k)) for k, v in layers.items()}
    else:
        metrics = e2e
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"report": report}, sort_keys=True))
    print(result_line(counts["failed"] == 0 and not failed_entries,
                      counts["attempted"], counts["failed"], metrics))


if __name__ == "__main__":
    main()
