#!/usr/bin/env python3
"""Host-true benchmark of the graft engine: one run of one workload.

    python3 hostbench/run.py --workload tile_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (into the build's own target directories) and caches the
classpath under .bench_build/; later runs reuse it while the sources are
unchanged. Each run then starts one JVM (hostbench.Main) with the thread
count and heap taken from this host, keeps every scratch file under
.bench_scratch/ (removed at exit) and appends a host record to
.bench_out/runs.jsonl. The last line of stdout is the result JSON.

--smoke 1 uses tiny inputs and one pass; --inject-failure 1 makes one pass
fail on purpose. Both exist for the benchmark's own tests.
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
WORKLOADS = ("tile_pipeline", "dem_edit_flow")
RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"hostbench: {msg}", file=sys.stderr)
    sys.exit(2)


def meminfo():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024  # MB
    return out


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """Host-wide CPU ticks from /proc/stat: (steal, total)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def source_digest():
    """Digest of everything the build compiles, to decide on a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt once per source digest; return the runtime classpath."""
    cache = os.path.join(ROOT, ".bench_build")
    stamp = os.path.join(cache, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    log_path = os.path.join(cache, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_LIMIT_S)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its build or JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to the benchmark; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    digest = source_digest()
    classpath = build(digest)
    deadline = time.monotonic() + RUN_LIMIT_S

    # sizes from the host: every core, and a heap of a quarter of the
    # machine's memory, capped by half of what is free now and by 4 GB
    cpus = len(os.sched_getaffinity(0))
    mem = meminfo()
    heap_mb = max(1024, min(mem["MemTotal"] // 4, mem.get("MemAvailable", 0) // 2, 4096))

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    scratch = os.path.join(ROOT, ".bench_scratch", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)

    jvm_flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap_mb}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    ]
    cmd = ["java"] + jvm_flags + ["-cp", classpath, "hostbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(cpus), "--scratch", scratch, "--out", out_dir,
           "--smoke", str(a.smoke),
           "--inject-failure", str(a.inject_failure)]

    host = {"nproc": cpus, "mem_total_mb": mem["MemTotal"],
            "mem_available_mb": mem.get("MemAvailable"), "heap_mb": heap_mb,
            "loadavg_before": loadavg(), "jvm_flags": jvm_flags,
            "commit": git_commit(), "source_sha256": digest}
    log_path = os.path.join(out_dir, f"{run_id}.log")
    out_path = os.path.join(scratch, "stdout")
    proc = None
    steal0, total0 = cpu_ticks()
    try:
        with open(log_path, "w") as log, open(out_path, "w") as out:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=log,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                break
            if time.monotonic() > deadline:
                fail(f"run exceeded {RUN_LIMIT_S} s; see {log_path}")
            time.sleep(0.1)
        host["loadavg_after"] = loadavg()
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests during the run
        host["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        with open(out_path) as f:
            lines = [l for l in f if l.strip()]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited {proc.returncode}; see {log_path}")
        try:
            result = json.loads(lines[-1])
        except ValueError:
            fail(f"no result line; stdout ended with: {''.join(lines[-20:])}")
    finally:
        if proc is not None and proc.returncode is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = result["metrics"]
    if not a.trace:
        # ru_maxrss of this child alone, in KB on Linux
        metrics["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    host["sizes"] = result.pop("sizes")
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"run": run_id, "host": host, "result": result}) + "\n")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
