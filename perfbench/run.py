#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one benchmark run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

The first run builds (sbt, into .bench_build/) and writes a class-data
sharing archive for the harness JVM; later runs reuse both until a source
or build file changes. The harness prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. Everything the
run writes stays under .bench_build/ in the checkout.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
WORKLOADS = ("interactive", "analytics")
BUILD_TIMEOUT_S = 500
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and harness sources, build files."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ENGINE_SOURCES, BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(classpath, extra):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a quarter of the default JIT thresholds: the harness JVM lives about a
    # minute, and its warm-up rounds reach steady speed about a round sooner
    return ["java", *opens, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:CompileThresholdScaling=0.25",
            "-Dspark.ui.enabled=false", *extra, "-cp", classpath]


def run_process(cmd, timeout, cwd=ROOT, env=None, stdout=None):
    """Run `cmd` in its own process group and wait for it. The group is
    killed on timeout, and when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True, text=True)

    def kill_group(signum=None, frame=None):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        if signum is not None:
            fail(f"stopped by signal {signum}")

    previous = {s: signal.signal(s, kill_group) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return proc.returncode, out


def build():
    """Compile with sbt when the sources changed, then write the CDS archive."""
    stamp_file = BUILD / "stamp"
    stamp = source_stamp()
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return (BUILD / "classpath.txt").read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    code = run_sbt(sbt, env)
    if code != 0:
        fail(f"sbt build failed with exit code {code}")
    classpath = (BUILD / "classpath.txt").read_text().strip()
    # one short untimed run records the classes the harness loads into a
    # class-data sharing archive; later JVMs map it and start ~2x faster
    archive = BUILD / "harness.jsa"
    archive.unlink(missing_ok=True)
    code, _ = run_process(
        java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={archive}"]) +
        ["perfbench.Main", "--workload", "interactive", "--seed", "0", "--seconds", "0",
         "--trace", "0", "--warmup", "0", "--work", str(BUILD / "work-archive")],
        RUN_TIMEOUT_S, stdout=subprocess.DEVNULL)
    if code != 0:
        archive.unlink(missing_ok=True)
    stamp_file.write_text(stamp)
    return classpath


def run_sbt(sbt, env):
    """sbt runs in perfbench/ (its own build); its log goes to stderr."""
    code, _ = run_process([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans (JSON lines) to this file")
    ap.add_argument("--gap", action="store_true",
                    help="print the count()-versus-full-result table instead of the metrics")
    args = ap.parse_args()

    if not ENGINE_SOURCES.is_dir() or not (BENCH / "build.sbt").is_file():
        fail(f"run from the root of a checkout: {ENGINE_SOURCES.relative_to(ROOT)} "
             "and perfbench/build.sbt must exist")

    classpath = build()
    archive = BUILD / "harness.jsa"
    extra = [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"] if archive.exists() else []
    cmd = java_cmd(classpath, extra) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(BUILD / "work")]
    if args.spans:
        cmd += ["--spans", args.spans]
    if args.gap:
        cmd += ["--gap", "1"]
    code, out = run_process(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    if args.gap and code == 0:
        print(out, end="")
        return
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out or "")
        fail(f"harness exited with code {code} and no result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
