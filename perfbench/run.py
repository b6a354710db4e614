#!/usr/bin/env python3
"""Repository benchmark: builds the program from source, then runs one
workload in one JVM on local[nproc] and prints its result.

    python3 perfbench/run.py --workload fresh|increment|curate --seed N \
        --seconds S --trace 0|1 [--size full|tiny] \
        [--corrupt flip-byte|drop-url]

Run from the repository root. The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
holds run details (sample counts, failed_frac, check notes).

The build (sbt, offline) is redone only when a source or build file
changed since the last one. All inputs, outputs and Spark scratch space
live under perfbench/.work and are removed when the run ends; the spans
of traced runs are kept under perfbench/.traces.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "4g"
# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# main build passes to forked runs).
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
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources beside the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    h = hashlib.sha256()
    for f in source_files():
        if not f.is_file():
            fail(f"missing build file {f.relative_to(ROOT)}")
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail(f"build failed with code {r.returncode}")
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if "classes" not in cp or ".jar" not in cp:
        sys.stderr.write(r.stdout)
        fail("build did not report a classpath")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["fresh", "increment", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--corrupt", choices=["flip-byte", "drop-url"])
    args = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--work", str(work / "data"),
            "--spans", str(BENCH / ".traces"),
            "--golden", str(ROOT / "src" / "test" / "resources" / "golden_sha256.tsv"),
            "--size", args.size]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    t_jvm = time.time()
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        print(f"perfbench: jvm {time.time() - t_jvm:.1f}s", file=sys.stderr)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("benchmark run timed out or was interrupted")
    t_rm = time.time()
    shutil.rmtree(work, ignore_errors=True)
    # flush the deletes now rather than during the next run's window
    os.sync()
    print(f"perfbench: cleanup {time.time() - t_rm:.1f}s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
