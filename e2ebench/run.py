#!/usr/bin/env python3
"""End-to-end benchmark of the engine's three user-facing paths.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream_enrich, nightly_loop, hybrid_serve (see
e2ebench/README.md). Run from the repository root (or anywhere: paths are
resolved from this file). The first run builds the engine and the harness
from source with sbt; later runs reuse the build while no source changed.

Output: provenance and error-rate lines, then as the last line one JSON
object {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics.

Optional: --cores <n> (Spark local[n], default 4), --docs <n> (corpus
size, default 5000).

The harness JVM is killed if it runs longer than a fixed set-up
allowance plus a multiple of --seconds (160 s at --seconds 10).
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
HARNESS = HERE / "harness"
STATE = ROOT / ".e2ebench"
WORKLOADS = ["stream_enrich", "nightly_loop", "hybrid_serve"]
HEAP = "3g"
BUILD_TIMEOUT_S = 840
# The harness JVM's limit: set-up (session, index builds, warm-up) plus
# the timed window, the drain or compaction after it and the checks.
SETUP_ALLOWANCE_S = 120
WINDOW_FACTOR = 4

sys.path.insert(0, str(HERE))
import metrics as M  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the engine's and the harness's."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in [ROOT / "src" / "main", HARNESS / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath and
    the sources' fingerprint."""
    missing = [p for p in [ROOT / "build.sbt", ROOT / "src" / "main" / "scala"]
               if not p.exists()]
    if missing:
        raise SystemExit(f"engine sources not found: {missing[0]}")
    fp = fingerprint(sources())
    stamp, cpfile = STATE / "build.sha256", STATE / "classpath.txt"
    if stamp.exists() and cpfile.exists() and stamp.read_text() == fp:
        return cpfile.read_text().strip(), fp
    STATE.mkdir(exist_ok=True)
    log("building engine and harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if ln.strip() and not ln.startswith("[")][-1].strip()
    cpfile.write_text(cp)
    stamp.write_text(fp)
    log(f"built in {time.time() - t:.0f} s")
    return cp, fp


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return list(os.getloadavg())


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is
    missing. Steal is time a virtual CPU waited for the host."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0]
             .split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def steal_pct(t0, t1):
    if not t0 or not t1 or t1[1] <= t0[1]:
        return None
    return round(100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1]), 2)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def run_jvm(cp, args, work, out):
    """Runs the harness JVM in its own process group, which is killed on
    timeout or when this script is terminated."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd += [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", cp, "e2ebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(args.cores), "--docs", str(args.docs),
            "--work", str(work), "--out", str(out)]
    with open(work / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"terminated by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        limit = SETUP_ALLOWANCE_S + WINDOW_FACTOR * args.seconds
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness timed out after {limit} s")
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"harness exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--docs", type=int, default=5000)
    args = ap.parse_args()

    load0 = loadavg()
    cp, fp = build()
    ticks0 = cpu_ticks()
    work = STATE / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    t = time.time()
    try:
        run_jvm(cp, args, work, out)
        rec = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t
    v = rec["values"]
    if args.trace:
        ms = M.per_layer(args.workload, rec)
        units = {**M.PER_LAYER_UNITS, **M.SERVE_UNITS}
        notes = {}
    else:
        ms, notes = M.end_to_end(args.workload, rec)
        units = M.UNITS
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    late = v.get("generator.late_ms", [])
    provenance = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(), "source_sha256": fp[:16],
        "nproc": os.cpu_count(),
        "spark_master": f"local[{args.cores}]",
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "cpu_steal_pct": steal_pct(ticks0, cpu_ticks()),
        "generator_late_ms_max": max(late) if late else None,
        "fixture": f"generated in the harness from the seed "
                   f"({args.docs} documents; no fixture directory is read)",
        "jvm_heap": HEAP, "jvm_peak_heap_mb": v.get("peak_heap_mb"),
        "warmup_s": v.get("warmup_s"), "setup_s": v.get("setup_s"),
        "run_wall_s": round(wall, 3), **notes,
    }
    for k in ["nights", "completed", "burst_drain_s", "compact_ms", "check_s",
              "kept_total", "deleted_total", "expected_outputs"]:
        if k in v:
            provenance[k] = v[k]
    print("provenance " + json.dumps(provenance))
    print(f"error_rate {failed / attempted if attempted else 1.0:.6f} "
          f"(failed {failed} of {attempted} attempted)")
    for f in rec.get("failures", []):
        print(f"failure {f}")
    correct = failed == 0 and not v.get("aborted", False)
    print(json.dumps({
        "correct": correct, "attempted": max(1, attempted), "failed": failed,
        "metrics": {k: {"value": float(x), "unit": units[k]}
                    for k, x in ms.items()}}))


if __name__ == "__main__":
    main()
