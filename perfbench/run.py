#!/usr/bin/env python3
"""Spatial-join benchmark: builds the engine with the benchmark, runs one
workload for a fixed time and prints its metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload uniform-pip --seed 1 --seconds 8 --trace 0

The first run builds the engine's sources together with `perfbench/src`
(sbt, offline) into `.bench_build/`; later runs reuse that build until a
source file changes. Each run starts one JVM, which generates the inputs,
writes them to parquet, runs the queries and checks their results.

Standard output ends with one JSON line:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
and writes a span dump to `.bench_build/spans/`. The line before it is a
JSON report of the run (seed, settings, CPU sentinel, every query).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
JVM_LIMIT_S = 165  # a run must end within 180 s
BUILD_LIMIT_S = 800
JAVA_HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (see the engine's build.sbt)
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


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = sorted(ENGINE.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs `cmd` in its own process group and waits for it. Kills the group
    past `limit_s`, or when this script is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{cmd[0]} did not finish within {limit_s} s")
        raise
    return p.returncode, out


def build():
    """Compiles engine and benchmark unless the last build used the same sources."""
    stamp = source_stamp()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    # sbt's own global state goes under the build directory too
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                "-Dsbt.log.noformat=true", "-Xmx2g",
                f"-Dsbt.global.base={BUILD / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log = BUILD / "build.log"
    with open(log, "w") as lf:
        code, out = run_bounded(
            ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True)
        lf.write(out)
    cp = [l for l in out.splitlines() if "classes" in l and not l.startswith("[")]
    if code != 0 or not cp:
        fail(f"build failed, see {log}")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    # for the smoke test: shrink the inputs, or expect a wrong pair count
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--plant-wrong-count", action="store_true")
    a = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ENGINE / "graft" / "join" / "SpatialJoins.scala").is_file():
        fail(f"engine sources not found under {ENGINE}; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH")
    if not (Path(os.environ.get("SPARK_HOME", "")) / "jars").is_dir():
        fail("needs SPARK_HOME: the Spark installation whose jars the engine builds against")
    cp = build()

    work = BUILD / f"run-{os.getpid()}"
    spans = BUILD / "spans" / f"{a.workload}-seed{a.seed}.json"
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{JAVA_HEAP}", f"-Xmx{JAVA_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(cores), "--scale", str(a.scale),
              "--plant-wrong-count", "1" if a.plant_wrong_count else "0",
              "--work-dir", str(work), "--spans-out", str(spans)])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    try:
        with open(log, "w") as lf:
            code, out = run_bounded(cmd, JVM_LIMIT_S, stdout=subprocess.PIPE,
                                    stderr=lf, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not result:
        fail(f"benchmark JVM exited with {code}, see {log}")
    for l in lines:
        if l.startswith('{"report"'):
            print(l)
    print(result[-1])


if __name__ == "__main__":
    main()
