#!/usr/bin/env python3
"""graft benchmark: EM training and a query pipeline on local Spark.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload em_large_k --seed 1 --seconds 10 --trace 0

Builds the library and the harness in `perfbench/` with sbt (once per
source state; the classpath is cached under `.bench_build/`), then runs
one fresh JVM on local[nproc] for the workload. The last line of
standard output is the result JSON: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. Lines before it give
the run context and the per-operation and per-query breakdown.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("em_large_k", "pipeline")
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the same list as the library's own build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles library and harness; returns the runtime classpath."""
    cp_file = BUILD / f"classpath-{source_hash()}.txt"
    if cp_file.is_file():
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = BUILD / "build.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        finally:
            stop_group(proc)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    cp_file.write_text(cp + "\n")
    return cp


def stop_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    try:
        proc.wait(timeout=30)
    except (subprocess.TimeoutExpired, ChildProcessError):
        pass


def run_jvm(cp, args, work):
    """Runs the harness; returns (stdout, exit code, peak RSS in MB, launch time in µs)."""
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.record:
        cmd.append("--record")
    log = open(work / "jvm.log", "w")
    launch_us = time.time_ns() // 1000
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                            start_new_session=True)
    # a SIGTERM to this script must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: (os.killpg(proc.pid, signal.SIGKILL), sys.exit(143)))
    chunks = []
    reader = threading.Thread(target=lambda: chunks.append(proc.stdout.read()))
    reader.start()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    status, rusage = None, None
    while status is None:
        pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            status, rusage = st, ru
        elif time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
        else:
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    reader.join()
    log.close()
    out = b"".join(chunks).decode("utf-8", "replace")
    return out, proc.returncode, rusage.ru_maxrss / 1024.0, launch_us


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="print the pipeline's (rows, digest) per query instead of checking them")
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources next to {HERE.name}/ (run from a graft checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    load1 = os.getloadavg()[0]
    work = BUILD / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        out, code, rss_mb, launch_us = run_jvm(cp, args, work)
        lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:])
            log = (work / "jvm.log").read_text(errors="replace")
            sys.stderr.write(log[-6000:])
            fail(f"harness exited {code} without a result", 4)
        res = json.loads(lines[-1][len("GRAFTBENCH "):])
        for trace in work.glob("trace-*.json"):
            (BUILD / "traces").mkdir(exist_ok=True)
            shutil.copy(trace, BUILD / "traces" / trace.name)
    finally:
        if (work / "jvm.log").is_file():
            shutil.copy(work / "jvm.log", BUILD / f"last-{args.workload}.log")
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace == 0:
        setup = (res["main_us"] - launch_us) / 1e6 + res["setup_jvm_s"]
        metrics = {"setup_s": {"value": setup, "unit": "s"}, **metrics,
                   "peak_rss_mb": {"value": rss_mb, "unit": "MB"}}
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": os.cpu_count(), "loadavg_1m_at_start": load1,
               "xmx": HEAP, **res["context"]}
    print("context: " + json.dumps(context))
    print("operations: " + json.dumps(res["operations"]))
    if args.trace == 1:
        print("spark per operation: " + json.dumps(res["queries"]))
        print(f"kernel work per observation at K={res['context']['K']} (computed from the loop "
              "structure, not measured): " + json.dumps(res["kernels_computed"]))
    for f in res["failures"]:
        print("failure: " + f)
    if args.record:
        for line in res["record"]:
            print("record: " + line)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
