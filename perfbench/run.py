#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Compiles the engine (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler shipped in Spark's jars, caching classes by source hash
under the build directory ($CARGO_TARGET_DIR, else .bench_build). Then runs
one JVM at local[4] and prints its JSON result as the last line of stdout.
Host context and the full report of every run are appended to
<build>/perfbench/runs.jsonl; traced runs also write
<build>/perfbench/traces/<workload>-seed<seed>.json (spans, self time,
per-module attribution and the tracing overhead).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ["build", "query_local", "query_dist", "refresh"]
HEAP = "-Xmx3g"
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
OUT = os.path.join(BUILD, "perfbench")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_tree(files, out, classpath, key):
    """scalac `files` into `out` unless `out` already holds this `key`."""
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = out + ".args"
    with open(args, "w") as fh:
        fh.write("\n".join(["-d", out, "-nowarn", "-classpath",
                            os.pathsep.join(classpath)] + files))
    log(f"compiling {len(files)} files into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    jars = [j for j in classpath if j.endswith(".jar")]
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
                        f"-Djava.io.tmpdir={out}", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + args],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(3)
    with open(stamp, "w") as fh:
        fh.write(key)
    log(f"compiled in {time.time() - t0:.1f}s")
    return True


def build():
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(BENCH, "src"))
    if not main_src or not bench_src:
        log("engine or benchmark sources missing")
        raise SystemExit(2)
    jars = spark_jars()
    main_key = tree_hash(main_src)
    main_out = os.path.join(OUT, "classes", "main")
    bench_out = os.path.join(OUT, "classes", "bench")
    built = compile_tree(main_src, main_out, jars, main_key)
    built |= compile_tree(bench_src, bench_out, [main_out] + jars,
                          tree_hash(bench_src, main_key))
    return [main_out, bench_out] + jars, main_key, built


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("GIT_COMMIT", "unknown")


def last_untraced(workload):
    """Most recent untraced record of `workload` in this build dir."""
    found = None
    path = os.path.join(OUT, "runs.jsonl")
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                rep = rec.get("report", {})
                if rep.get("workload") == workload and not rep.get("trace"):
                    found = rep
    return found


def overhead(traced, untraced):
    """Traced minus untraced end-to-end values, as a share of untraced."""
    if untraced is None:
        return {"against": None}
    out = {"against_seed": untraced["seed"]}
    for k, v in traced["end_to_end"].items():
        base = untraced["end_to_end"].get(k, {}).get("value")
        if base:
            out[k] = (v["value"] - base) / base
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    started = time.time()
    classpath, src_hash, built = build()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started)

    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    report = os.path.join(work, "report.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{a.workload}-{a.seed}.log")
    host = {"nproc": os.cpu_count(), "loadavg_before": os.getloadavg(),
            "heap": HEAP, "git_commit": git_commit(), "src_hash": src_hash}

    cmd = (["java", HEAP, "-XX:-UsePerfData", "-Xss16m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--report", report])
    try:
        with open(log_path, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True, cwd=work)
            try:
                stdout, _ = proc.communicate(timeout=max(10, limit))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                log(f"timed out; log in {log_path}")
                raise SystemExit(4)
        host["loadavg_after"] = os.getloadavg()
        lines = [ln for ln in stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines or not os.path.exists(report):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            log(f"run failed (exit {proc.returncode}); log in {log_path}")
            raise SystemExit(1)
        result = json.loads(lines[-1])
        with open(report) as fh:
            rep = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    trace_out = rep.pop("trace_out", {})
    if a.trace == "1":
        trace_out["overhead"] = overhead(rep, last_untraced(a.workload))
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        path = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump(trace_out, fh)
        log(f"trace written to {os.path.relpath(path, ROOT)}; "
            f"overhead {json.dumps(trace_out['overhead'])}")
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"host": host, "report": rep}) + "\n")
    log("host " + json.dumps(host))
    log(f"error_rate {rep['error_rate']} ({rep['failed']}/{rep['attempted']})")
    for k, v in rep["end_to_end"].items() if a.trace == "0" else rep["per_layer"].items():
        log(f"{k:36s} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
