#!/usr/bin/env python3
"""Run one benchmark workload and print its result object as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (the benchmark's own build in this directory
compiles the repo's main project through a project reference) and caches the
classpath under `.bench_build/`, keyed by a hash of the sources. The JVM is
then launched directly, sized to the host: heap MemTotal / 2 clamped to
2..8 GiB unless SPARK_DRIVER_MEM is set, `local[nproc]` unless
SPARK_GRAFT_CPUS is set.

`--record-expected` rewrites `perfbench/expected/<workload>.tsv` from this
run's results instead of checking against it (catalog workloads only).
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_corpus", "serve_psp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, err, timeout, log):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s, log in {log}")
    return proc.returncode, out


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(ROOT, "build.sbt"),
                  os.path.join(HERE, "build.sbt")]


def build(work):
    """Compile with sbt once per source state; return the runtime classpath."""
    files = source_files()
    missing = [f for f in files[-2:] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark; run from a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    log = os.path.join(work, "build.log")
    with open(log, "w") as fh:
        code, out = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                               "export Runtime/fullClasspath"],
                              HERE, fh, BUILD_TIMEOUT_S, log)
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}), log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = build(work)

    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    mem = heap()
    # the repo build's JVM flags, less -XX:+AlwaysPreTouch (see README.md)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=2g",
           "-XX:+UseTransparentHugePages",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work-dir", os.path.join(work, a.workload),
            "--data-dir", os.path.join(HERE, "data")]
    cmd += ["--record" if a.record_expected else "--expected", expected]

    log = os.path.join(work, f"{a.workload}.log")
    with open(log, "w") as err:
        code, out = run_group(cmd, ROOT, err, RUN_TIMEOUT_S, log)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed (exit {code}), log in {log}")
    print(lines[-1])


if __name__ == "__main__":
    main()
