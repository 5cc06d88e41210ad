#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload docs_pmtiles --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the product and the
harness from source with sbt (graftbench/build.sbt); later runs reuse the
build while the sources are unchanged. Build stamps, fixtures, outputs
and trace files go under $CARGO_TARGET_DIR (default .bench_build).

Workloads: docs_pmtiles, osm_mbtiles, pip_partitioned, or `all` (each in
its own JVM, metrics prefixed with the workload name). The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["docs_pmtiles", "osm_mbtiles", "pip_partitioned"]
HEAP = "4g"
GC_FLAGS = ["-XX:+UseG1GC", "-XX:MaxGCPauseMillis=400"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built(out):
    """Compile with sbt once per source state; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}; run from a full checkout of the repository")
    stamp = source_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    print("graftbench: building with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    marker = str(HERE / "target")
    lines = [l for l in proc.stdout.splitlines() if marker in l and os.pathsep in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_workload(cp, out, workload, seed, seconds, trace):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + GC_FLAGS +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            f"--workload={workload}", f"--seed={seed}", f"--seconds={seconds}",
            f"--trace={trace}", f"--build-dir={out}"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.daemon = True
    watchdog.start()

    def stop(signum, _frame):
        watchdog.cancel()
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
    finally:
        code = proc.wait()
        watchdog.cancel()
    if code != 0 or result is None:
        fail(f"{workload}: benchmark JVM exited with code {code}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    out = build_dir()
    cp = ensure_built(out)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {w: run_workload(cp, out, w, a.seed, a.seconds, a.trace) for w in names}
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))


if __name__ == "__main__":
    main()
