#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. On first use it builds the benchmark
program in perfbench/jvm against the engine sources of this checkout
(sbt, offline); later runs reuse the build until a source changes. It
then launches one JVM that runs the workload (see perfbench/README.md)
and prints, as the last stdout line, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
Run summaries and traces go to perfbench/out/.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM = HERE / "jvm"
BUILD = ROOT / ".bench_build" / "perfbench"
RESULT_PREFIX = "PERFBENCH_RESULT "
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# fixed size, so that heap resizing does not differ between runs
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit; the engine's own
# build passes the same list to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", JVM / "build.sbt",
             JVM / "project" / "build.properties", JVM / "src" / "main"]
    for r in roots:
        for f in sorted(r.rglob("*")) if r.is_dir() else [r]:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def output_stamp(cp):
    """Names, sizes and modification times of the files in the class
    directories of a classpath. Another build that writes into the same
    directories (the engine's own `sbt compile`, at another commit)
    changes it and so forces a rebuild here."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        d = Path(entry)
        if not d.is_dir():
            continue
        for f in sorted(d.rglob("*")):
            if f.is_file():
                st = f.stat()
                h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interruption and always waits for it. Returns (code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.communicate()
        raise


def classpath():
    stamp = source_stamp()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp_file.is_file() and cp_file.is_file():
        cp = cp_file.read_text()
        if stamp_file.read_text() == stamp + " " + output_stamp(cp):
            return cp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS"), "-Dsbt.offline=true",
        "-Dsbt.override.build.repos=true"]))
    print("perfbench: building", file=sys.stderr)
    try:
        code, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=JVM, env=env, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or str(JVM) not in lines[-1]:
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp + " " + output_stamp(cp))
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (need build.sbt and "
             "src/main); run from a full checkout", 2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(HERE / "data"), "--work", str(work),
            "--out", str(HERE / "out"), "--digests", str(HERE / "digests.tsv")]
    launched = time.time()
    try:
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                              stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines:
        if not line.startswith(RESULT_PREFIX):
            print(line, file=sys.stderr)
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    res = [l for l in lines if l.startswith(RESULT_PREFIX)]
    if not res:
        fail("benchmark JVM printed no result")
    r = json.loads(res[-1][len(RESULT_PREFIX):])
    measured = dict(r["metrics"])
    if "setup_s" in measured:
        # set-up starts at the launch, before the JVM enters main
        measured["setup_s"] = (r["main_entered_ms"] / 1000.0 - launched
                               + r["setup_in_jvm_s"])
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    print(json.dumps({
        "correct": bool(r["correct"]) and r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
