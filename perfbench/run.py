#!/usr/bin/env python3
"""Benchmark launcher: builds the library and the benchmark from source,
runs one workload in a fresh JVM and relays its one-line JSON result.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 24 --trace 0

The library (src/main) and the benchmark (perfbench/src) are compiled with
the Scala compiler that ships in the Spark distribution's jars directory
($SPARK_HOME/jars, default /opt/spark/jars), into $CARGO_TARGET_DIR
(default .bench_build) under the checkout. A content stamp skips the build
when nothing changed. Every run gets its own scratch root under .bench_work
that is deleted when the run ends; the traced run's span sidecar is written
to .bench_out. Metric names and units come from BENCHMARK.json. See
perfbench/README.md for workloads and metrics.
"""
import argparse
import fcntl
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
WORKLOADS = ("cdc_backlog", "llm_curate")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(d, ext):
    out = []
    for base, dirs, files in os.walk(d):
        dirs.sort()
        out += [os.path.join(base, f) for f in sorted(files) if f.endswith(ext)]
    return out


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"[perfbench] compile failed ({len(files)} files into {out})")


def build(build_dir, jars):
    """Compile src/main and perfbench/src unless the stamp says they are current."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    main_files = sources(main_src, ".scala")
    bench_files = sources(bench_src, ".scala")
    res_files = sources(res_dir, "") if os.path.isdir(res_dir) else []
    want = stamp(main_files + res_files + bench_files)
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "STAMP")
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return
        t0 = time.time()
        for d in ("classes", "bench"):
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
        classes = os.path.join(build_dir, "classes")
        bench = os.path.join(build_dir, "bench")
        os.makedirs(classes)
        os.makedirs(bench)
        scalac(jars, jars, classes, main_files)
        for f in res_files:
            dst = os.path.join(classes, os.path.relpath(f, res_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        scalac(jars, classes + os.pathsep + jars, bench, bench_files)
        with open(stamp_file, "w") as f:
            f.write(want)
        log(f"built {len(main_files)} library + {len(bench_files)} benchmark sources "
            f"in {time.time() - t0:.1f}s")


def metric_specs(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("[perfbench] no src/main/scala next to perfbench/: not a checkout of the library")
    metric_specs(a.trace)  # fail before building if BENCHMARK.json is unreadable
    if not os.path.isdir(jars_dir):
        raise SystemExit(f"[perfbench] Spark jars not found at {jars_dir} (set SPARK_HOME)")
    jars = os.path.join(jars_dir, "*")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    build(os.path.abspath(build_dir), jars)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in ("tmp", "local", "stream"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_STREAM_WORKDIR": os.path.join(work, "stream"),
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    classpath = os.pathsep.join([os.path.join(build_dir, "bench"), os.path.join(build_dir, "classes"), jars])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        f"-Dperfbench.digests={os.path.join(HERE, 'digests.tsv')}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out_dir,
        "--cores", str(cores), "--launch-ms", str(int(time.time() * 1000)),
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        deadline = t_start + RUN_TIMEOUT_S
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S}s; killing the JVM")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] benchmark JVM exited with {proc.returncode}")
    raw = json.loads(lines[-1])
    result = {k: raw[k] for k in ("correct", "attempted", "failed")}
    result["metrics"] = {}
    # BENCHMARK.json names the metrics and units; a traced run reports 0 for
    # a layer the workload never enters, an untraced one must measure all.
    specs = metric_specs(a.trace)
    unknown = set(raw["values"]) - {m["name"] for m in specs}
    if unknown:
        raise SystemExit(f"[perfbench] measured metrics missing from BENCHMARK.json: {sorted(unknown)}")
    for m in specs:
        v = raw["values"].get(m["name"])
        if v is None and not a.trace:
            raise SystemExit(f"[perfbench] {a.workload} did not measure {m['name']}")
        result["metrics"][m["name"]] = {"value": v or 0, "unit": m["unit"]}
        if not a.trace:
            log(f"{a.workload} {m['name']} = {v:.4f} {m['unit']}")
    print(json.dumps(result))
    if not result["correct"]:
        log("OUTPUT CHECK FAILED: see the [check] lines above")


if __name__ == "__main__":
    main()
