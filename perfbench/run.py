#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library together with the
benchmark (sbt, offline); later runs reuse the build while a digest of the
source files (names and contents) stays the same. The measured program is
one JVM running Spark in local mode; it is always waited for, and killed if
it outlives its time limit.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH = HERE / "target" / "bench-classpath.txt"
DIGEST = HERE / "target" / "bench-sources.sha256"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
WORKLOADS = ("train_hogwild_small_batch", "train_locked_full_batch", "queries_sf0.1")

# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles, plus the build definition."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def digest():
    """SHA-256 over the name and contents of every source file, so that an
    edited, added, removed or renamed file forces a rebuild."""
    h = hashlib.sha256()
    for p in sources():
        data = p.read_bytes()
        h.update(f"{p.relative_to(ROOT)}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are those of the recorded build;
    returns the runtime classpath."""
    want = digest()
    if CLASSPATH.is_file() and DIGEST.is_file() and DIGEST.read_text().strip() == want:
        return CLASSPATH.read_text().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building: " + " ".join(cmd))
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout[-4000:])
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] build failed with code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and ".jar" in l]
    if not lines:
        raise SystemExit("[perfbench] build printed no classpath")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip() + "\n")
    DIGEST.write_text(want + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("[perfbench] library sources not found next to perfbench/: "
                         "run from the root of a full checkout")
    cp = build()
    # per-run scratch space (Spark blocks, the queries' stores), removed after
    tmp = HERE / "out" / "tmp" / str(os.getpid())
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed, pre-touched heap: the collector never pays to grow or shrink
    # it during the measured work (peak_live_mb does not read the resident
    # set, so it is not pinned by this).
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main", "--root", str(ROOT),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not result.startswith("{"):
        raise SystemExit(f"[perfbench] run failed with code {proc.returncode}")
    print(result, flush=True)


if __name__ == "__main__":
    main()
