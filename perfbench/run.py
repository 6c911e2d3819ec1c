#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 12 --trace 0

Workloads: curate_batch (the training-data YAML job), ingest_stream (the
ingest-dedup stream YAML, drained again as files land) and query_mix (24
read-only queries). --trace 0 prints the end-to-end metrics, --trace 1 the
per-layer metrics of a traced run. The line before the result is a report
with the workload's own metric names, sample counts and provenance.

The first run in a checkout builds the program and the benchmark (see
build.py). Everything a run writes stays under .bench_build/ and .bench_work/
in the checkout; a run keeps only result.json and trace.json there.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("curate_batch", "ingest_stream", "query_mix")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    ap.add_argument("--replicas", type=int, help="corpus replica count (curate_batch)")
    args = ap.parse_args()

    load_1m = os.getloadavg()[0]
    try:
        classes, jars = build.build(ROOT)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    steal0, total0 = cpu_ticks()
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", str(ROOT), "--work", str(work), "--out", str(out)]
    if args.smoke:
        cmd.append("--smoke")
    if args.replicas:
        cmd += ["--replicas", str(args.replicas)]
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        for p in work.iterdir():
            if p.name not in ("result.json", "trace.json"):
                shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink()
    if rc != 0 or not out.exists():
        print(f"perfbench: benchmark exited with code {rc}", file=sys.stderr)
        return rc or 1

    steal1, total1 = cpu_ticks()
    res = json.loads(out.read_text())
    prov = res["provenance"]
    prov.update({"git_commit": git_commit(), "build": classes.parent.name,
                 "load_avg_1m_at_start": load_1m,
                 "cpu_steal_pct": round(100 * (steal1 - steal0) / max(1, total1 - total0), 2),
                 "seconds": args.seconds,
                 "trace": args.trace, "smoke": args.smoke,
                 "finished_unix": time.time()})
    print(json.dumps({"report": {"named": res.get("named", {}), "samples_s": res.get("samples_s", []),
                                 "provenance": prov}}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
