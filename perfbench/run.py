#!/usr/bin/env python3
"""Run one benchmark workload against the graft tree this file sits in.

    python3 perfbench/run.py --workload <replicate|curate>
        --seed <n> --seconds <s> --trace <0|1> [--size smoke]

Builds the engine and the benchmark from source on first use (sbt,
offline), caching the classpath under .bench_build/ until a source file
changes. Runs the benchmark in a fresh JVM at local[4] and prints, as the
last line of stdout, one JSON object with the keys correct, attempted,
failed and metrics: every end_to_end metric of BENCHMARK.json with
--trace 0, every per_layer metric with --trace 1. The line before it is
the environment stamp of the run. Exits 1 when a correctness gate fails
and 2 when the benchmark cannot run at all (no result line then).
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
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = CACHE / "classpath.txt", CACHE / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    CACHE.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return None


def cpu_times():
    """Aggregate jiffies from /proc/stat: (total, steal)."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return sum(f[:8]), f[7]
    except (OSError, ValueError, IndexError):
        return None


def java_pids():
    pids = set()
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                if (d / "comm").read_text().strip() == "java":
                    pids.add(int(d.name))
            except OSError:
                pass
    return pids


def git_state():
    if not (ROOT / ".git").exists() or shutil.which("git") is None:
        return None, None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=20).stdout.strip() or None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True,
                               timeout=20).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_jvm(cp, args, run_dir):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "spark-local", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    cmd = [str(java), f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dderby.system.home={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    log = open(run_dir / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log.close()
        tail(run_dir / "jvm.log")
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    return proc.returncode, out


def tail(path, n=40):
    try:
        sys.stderr.write("".join(path.read_text(errors="replace").splitlines(True)[-n:]))
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not (ROOT / need).exists():
            die(f"{need} is missing: run from a graft checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = CACHE / "runs" / run_id
    run_dir.mkdir(parents=True)
    sha, dirty = git_state()
    env = {"run_id": run_id, "workload": a.workload, "seed": a.seed, "trace": a.trace,
           "size": a.size, "nproc": os.cpu_count(),
           "loadavg_start": loadavg(), "rival_jvms_start": len(java_pids()),
           "git_sha": sha, "git_dirty": dirty}
    cpu0 = cpu_times()
    t0 = time.time()
    rc, out = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--size", a.size,
                           "--work", str(run_dir / "work"), "--run-id", run_id], run_dir)
    env["jvm_s"] = round(time.time() - t0, 3)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while this run wanted it
    env["steal_frac"] = (round((cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 4)
                         if cpu0 and cpu1 else None)
    env["loadavg_end"] = loadavg()
    env["rival_jvms_end"] = len(java_pids())
    shutil.rmtree(run_dir / "work", ignore_errors=True)
    shutil.rmtree(run_dir / "spark-local", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    found = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not found:
        tail(run_dir / "jvm.log")
        die(f"benchmark JVM exited {rc} without a result")
    res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            if got[name]["unit"] != m["unit"]:
                die(f"{name}: the JVM reports unit {got[name]['unit']}, BENCHMARK.json {m['unit']}")
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        else:
            die(f"the JVM did not report {name}")
    if a.trace:
        unknown = sorted(set(got) - {m["name"] for m in spec["per_layer"]}
                         - {m["name"] for m in spec["end_to_end"]})
        if unknown:
            die(f"the JVM reported metrics BENCHMARK.json does not list: {unknown}")
    env.update(res.get("extra", {}))
    env["contended"] = bool(env["rival_jvms_start"] or env["rival_jvms_end"] or
                            (env["loadavg_start"] or 0) > 2 * (env["nproc"] or 1) or
                            (env["steal_frac"] or 0) > 0.05)
    if env["contended"]:
        print("perfbench: WARNING contended run (other JVMs, high load or CPU steal)",
              file=sys.stderr)
    final = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
             "failed": int(res["failed"]), "metrics": metrics}
    (run_dir / "result.json").write_text(json.dumps({"env": env, "result": final,
                                                     "all_metrics": got}, indent=1))
    print(json.dumps({"env": env}))
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
