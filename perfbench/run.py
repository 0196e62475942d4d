#!/usr/bin/env python3
"""Benchmark entry point for the OAI-PMH engine.

    python3 perfbench/run.py --workload harvest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed N] [--seconds S]   # every workload,
        untraced then traced, with the tracing overhead per metric
    python3 perfbench/run.py --selftest                       # the benchmark's own tests

Run from the repository root. The first run builds the program and the
harness with sbt (the program through its own build at the root) and
caches the classpath under .bench_build/; later runs start the JVM
directly. The last line of a workload run is one JSON object.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["harvest", "lookup", "ingest_mix", "curation"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's build and sources and the
    harness's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    # keep sbt's own state and temporary files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += (f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"
                        f" -Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}"
                        f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
                        " -Dsbt.server.autostart=false")
    # also for the JVMs the sbt launcher starts on its own
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    t0 = time.time()
    try:
        code, out, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    cp = [l for l in out.splitlines() if l and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def heap():
    # a quarter of physical memory, between 2 and 4 GiB
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def java_cmd(cp, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
            + opens + ["-cp", cp, main] + args)


def run_workload(cp, workload, seed, seconds, trace):
    """One run; returns (exit code, stdout lines)."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", os.path.join(BUILD, "work"),
            "--traces", os.path.join(BUILD, "traces")]
    try:
        code, out, err = run_bounded(java_cmd(cp, "perfbench.Main", args), RUN_TIMEOUT_S,
                                     cwd=ROOT, stdout=subprocess.PIPE,
                                     stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    if code != 0 and not (lines and lines[-1].startswith("{")):
        sys.stderr.write(err[-6000:])
    return code, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.selftest:
        code, out, err = run_bounded(java_cmd(cp, "perfbench.SelfTest", []), RUN_TIMEOUT_S,
                                     cwd=ROOT, stdout=subprocess.PIPE,
                                     stderr=subprocess.PIPE, text=True)
        print(out, end="")
        if code != 0:
            sys.stderr.write(err[-4000:])
        sys.exit(code)
    if a.all:
        worst = 0
        for w in WORKLOADS:
            res = {}
            for t in (0, 1):
                code, lines = run_workload(cp, w, a.seed, a.seconds, t)
                worst = max(worst, code)
                print(f"== {w} trace={t} exit={code}")
                print("\n".join(lines[:-1]))
                res[t] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            if res[0] and res[1]:
                m0, m1 = res[0]["metrics"], res[1]["metrics"]
                for k, tk in (("throughput_per_s", "traced.throughput_per_s"),
                              ("p50_ms", "traced.p50_ms")):
                    print(f"tracing overhead {w} {k}: traced {m1[tk]['value']:.4f} - "
                          f"untraced {m0[k]['value']:.4f} = "
                          f"{m1[tk]['value'] - m0[k]['value']:+.4f} {m0[k]['unit']}")
        sys.exit(worst)
    if not a.workload:
        ap.error("--workload is required")
    code, lines = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
