#!/usr/bin/env python3
"""Medallion benchmark for graft: one command per workload run.

    python3 perfbench/run.py --workload <trickle|operators> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine together with the
harness in perfbench/ (sbt, offline) on first use, starts one JVM for the
run, checks every output, and prints each metric with its unit; the last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The full result (run identity, per-call failure counts, the workload's own
named figures) is kept in perfbench/target/results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
RUN_LIMIT_S = 170  # the whole run, build excluded

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "/target" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory the engine's own build compiles against
    (its unmanagedBase), or $SPARK_HOME/jars if that build names none."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jars: the engine's build.sbt names none and SPARK_HOME is unset")


def build(digest):
    """Compile engine + harness once per source digest; returns the classpath."""
    os.makedirs(TARGET, exist_ok=True)
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = os.path.join(TARGET, "build.stamp")
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp) and \
                open(stamp).read() == digest:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["PERFBENCH_SPARK_JARS"] = spark_jars()
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        opts += " -XX:-UsePerfData"
        env["SBT_OPTS"] = opts.strip()
        log("building engine and harness (sbt, offline)")
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "writeClasspath"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            raise SystemExit(f"build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"build done in {time.time() - t0:.0f} s")
        return open(cp_file).read().strip()


def heap_mb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2048, min(4096, kb // 1024 // 4))
    except (OSError, StopIteration):
        return 3072


def run_jvm(cp, args, cores, heap, run_dir, result, deadline):
    cmd = ["java", f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--run-dir", run_dir, "--result", result]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"benchmark JVM failed: {rc}")


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Lake.scala")):
        raise SystemExit("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a graft checkout")

    digest = source_digest()
    cp = build(digest)
    t_run = time.time()
    cores = len(os.sched_getaffinity(0))
    heap = heap_mb()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(TARGET, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_file = os.path.join(run_dir, "result.json")
    try:
        run_jvm(cp, args, cores, heap, run_dir, result_file, t_run + RUN_LIMIT_S)
        t_jvm = time.time()
        with open(result_file) as f:
            res = json.load(f)
        if args.workload == "operators":
            sys.dont_write_bytecode = True
            sys.path.insert(0, BENCH)
            import oracle
            bad = oracle.check(os.path.join(run_dir, "data"),
                               os.path.join(run_dir, "ops_out"))
            res["oracle_mismatches"] = bad
            if bad:
                res["correct"] = False
                res["failed"] += len(bad)
                for b in bad:
                    log(f"operator output differs from the DuckDB oracle: {b}")
        res["identity"].update({
            "nproc": cores, "heap_mb": heap, "git_head": git_head(),
            "source_digest": digest, "seed": args.seed})
        res["wall_s"] = time.time() - t_start
        res["jvm_s"] = t_jvm - t_run
        res["check_s"] = time.time() - t_jvm
        os.makedirs(os.path.join(TARGET, "results"), exist_ok=True)
        with open(os.path.join(TARGET, "results", f"{tag}.json"), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(TARGET, "results", f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} missing from the run result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<42} {v:>16.6g} {m['unit']}")
    for k, v in sorted(res.get("detail", {}).items()):
        print(f"  {args.workload}.{k:<36} {v if v is not None else float('nan'):>16.6g}")
    for note in res.get("notes", []):
        log(note)
    for name, c in sorted(res.get("calls", {}).items()):
        if c["failed"]:
            log(f"FAILED OPERATIONS: {c['failed']} of {c['attempted']} {name} calls")
    if not res["correct"]:
        log("WRONG OUTPUT: the run's outputs differ from the expected state (see above)")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
