#!/usr/bin/env python3
"""Benchmark entry point.

Builds the benchmark (and with it the program, from this checkout's
sources) on first use, then runs one workload in a fresh JVM:

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 12 --trace 0

The last line of standard output is the run's JSON result. Build output,
scratch data and per-run records stay under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "perfbench-target" / "classpath.txt"
STAMP = BUILD / "source.sha256"
WORKLOADS = ("cdc_tail", "lake_read", "ops_queries")

# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def source_digest():
    """Digest of everything the build reads, to rebuild when it changes."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(r).parts
                      and "project" not in p.relative_to(r).parts[:-1]]
    for p in sorted(files):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code; on a
    timeout, or when this script is terminated, the whole group is killed
    and waited for."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit("perfbench: terminated")))
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        sys.exit(f"perfbench: {cmd[0]} timed out after {timeout} s")
    except KeyboardInterrupt:
        kill()
        raise


def build(digest):
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text().strip() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(exist_ok=True)
    # sbt's own output goes to stderr: stdout carries only the result
    code = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 840,
               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not CLASSPATH.is_file():
        sys.exit(f"perfbench: build failed (sbt exit {code})")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    digest = source_digest()
    build(digest)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSPATH.read_text().strip(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", str(ROOT), "--source-sha", digest])
    sys.exit(run(cmd, 170, cwd=ROOT))


if __name__ == "__main__":
    main()
