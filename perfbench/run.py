#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload attack_wide --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse that build
while the sources are unchanged. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
TARGET = os.path.join(HERE, "target")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found next to the benchmark")
        sys.exit(2)
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "launch.stamp")
    launch = [os.path.join(TARGET, f) for f in ("launch.classpath", "launch.jvmopts")]
    if all(map(os.path.isfile, launch)) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    build_log = os.path.join(OUT, "build.log")
    log("building engine and benchmark (sbt writeLaunch)")
    with open(build_log, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(build_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"build failed (exit {rc})")
        sys.exit(2)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def main():
    # A terminated run.py still kills and reaps its JVM (see run_group).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", help="write expected registry outputs to this file and exit")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not a.record:
        if a.workload not in {w["name"] for w in spec["workloads"]}:
            ap.error(f"--workload must be one of the workloads in BENCHMARK.json")
        if a.seed is None or a.seconds is None:
            ap.error("--seed and --seconds are required")
    build()

    with open(os.path.join(TARGET, "launch.classpath")) as f:
        cp = f.read().strip()
    with open(os.path.join(TARGET, "launch.jvmopts")) as f:
        jvmopts = [x for x in f.read().split("\n") if x]
    name = "record" if a.record else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"work-{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvmopts,
           "-cp", cp, "perfbench.Main",
           "--work", work,
           "--data", os.path.join(HERE, "data", "sf0.01"),
           "--expected", os.path.join(HERE, "expected", "registry.json"),
           "--cores", str(cores)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--trace-out", os.path.join(OUT, f"trace-{name}.jsonl")]
    stdout_file = os.path.join(work, "stdout")
    jvm_log = os.path.join(OUT, f"{name}.log")
    try:
        with open(stdout_file, "w") as so, open(jvm_log, "w") as se:
            rc = run_group(cmd, RUN_TIMEOUT_S if not a.record else 3600, cwd=work,
                           stdout=so, stderr=se, stdin=subprocess.DEVNULL)
        with open(stdout_file) as f:
            lines = [x for x in f.read().splitlines() if x.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        log(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {jvm_log}")
        sys.exit(3)
    if a.record:
        return
    result = json.loads(lines[-1])
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None or not isinstance(v["value"], (int, float)):
            log(f"metric {m['name']} was not measured; see {jvm_log}")
            sys.exit(3)
        if v["unit"] != m["unit"]:
            log(f"metric {m['name']} has unit {v['unit']}, expected {m['unit']}")
            sys.exit(3)
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
