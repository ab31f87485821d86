#!/usr/bin/env python3
"""Run one benchmark workload and print its result object as the last line.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt when their sources
changed since the last build (the first run in a checkout builds), then
starts the harness JVM once. Everything the run writes stays under
perfbench/target, the engine's target directories and perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
LAUNCH = BENCH / "target" / "launch.txt"
STAMP = BENCH / "target" / "launch.stamp"
WORKLOADS = ["mr_wordcount", "query_mix"]
HEAP = ["-Xms3g", "-Xmx3g"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, stdout, stderr, timeout, env=None) -> int:
    """Run `cmd` in a process group of its own and return its exit code.
    The whole group is killed and waited for on every way out: a timeout
    (raised as subprocess.TimeoutExpired), SIGTERM or an interrupt.
    """
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_files():
    """Every file whose change requires a rebuild."""
    yield ROOT / "build.sbt"
    for d in (ROOT / "project", BENCH / "project"):
        yield from sorted(p for p in d.glob("*") if p.is_file())
    yield BENCH / "build.sbt"
    for d in (ROOT / "src" / "main", BENCH / "src"):
        yield from sorted(p for p in d.rglob("*") if p.is_file())


def fingerprint() -> str:
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and harness unless the last build matches.

    Everything sbt writes stays in the checkout: its boot, global and Ivy
    directories live under .work/sbt (the first build fills them from the
    coursier cache), and so does its temporary directory. That one is given
    relative to the build directory, because sbt creates a Unix socket in it
    and a socket path may have at most 107 bytes, which an absolute path in
    a deep checkout exceeds.
    """
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {BENCH.name}/ (expected build.sbt and "
             "src/main at the repository root)", 2)
    fp = fingerprint()
    if LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == fp:
        return
    sbt = WORK / "sbt"
    (sbt / "tmp").mkdir(parents=True, exist_ok=True)
    rel = sbt.relative_to(BENCH)
    log = WORK / "build.log"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={rel / 'tmp'}",
           "-Dsbt.server.autostart=false", f"-Dsbt.boot.directory={sbt / 'boot'}",
           f"-Dsbt.global.base={sbt / 'global'}", f"-Dsbt.ivy.home={sbt / 'ivy2'}",
           "benchLaunch"]
    with open(log, "wb") as out:
        try:
            rc = run_child(cmd, BENCH, out, subprocess.STDOUT, BUILD_TIMEOUT_S, env)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if rc != 0 or not LAUNCH.is_file():
        tail = log.read_text(errors="replace").splitlines()[-20:]
        fail("build failed:\n" + "\n".join(tail))
    STAMP.write_text(fp)


def java_command(extra):
    opts = [l for l in LAUNCH.read_text().splitlines() if l and not l.startswith("-Xmx")]
    return (["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'run' / 'tmp'}"]
            + opts + ["perfbench.Main"] + extra)


def harness(extra, name: str) -> str:
    """Run the harness JVM; returns its stdout. Its stderr goes to
    .work/<name>.log."""
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log = WORK / f"{name}.log"
    out = WORK / f"{name}.out"
    try:
        with open(log, "wb") as err, open(out, "wb") as so:
            rc = run_child(java_command(extra), run_dir, so, err, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"harness timed out after {RUN_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-20:]
        fail(f"harness exited with {rc}:\n" + "\n".join(tail))
    return out.read_text()


def main():
    # a SIGTERM unwinds like an exception, so run_child stops its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    build()
    out = harness(["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", a.trace,
                   "--data", str(BENCH / "data" / "sf0.01"),
                   "--work", str(WORK / "run"),
                   "--digests", str(BENCH / "digests.json")],
                  a.workload)
    lines = out.strip().splitlines()
    if not lines:
        fail("harness printed no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
