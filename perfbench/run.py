#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload geo|curation \
      --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source on first use (perfbench/build.py),
generates the workload's inputs from the seed, runs the JVM side
(graftbench.Main: set-up, warm-up, timed passes, optional traced run),
checks every query's output against its DuckDB oracle, and prints one JSON
line as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything else goes to stderr. The JVM side's full result
(per-pass, per-query timings and loadavg) is kept in
.bench_out/result-<workload>-<seed>-t<trace>.json, and a traced run's span
tree in .bench_out/trace-<workload>-<seed>.json.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("geo", "curation")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", str(work), "--out", str(result_file)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"graftbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    if code != 0 or not result_file.exists():
        print(f"graftbench: JVM exited with {code}", file=sys.stderr)
        return 3
    res = json.loads(result_file.read_text())

    t0 = time.monotonic()
    errors = oracle.check(work / "tmp", res["checks"])
    for e in errors:
        print(f"graftbench: output check failed: {e}", file=sys.stderr)
    print(f"graftbench: {len(res['checks'])} output checks in "
          f"{time.monotonic() - t0:.1f} s, {len(errors)} failed", file=sys.stderr)

    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    (out / f"result-{a.workload}-{a.seed}-t{a.trace}.json").write_text(
        json.dumps(res, indent=1))
    if a.trace == "1":
        shutil.copy(work / "trace.json", out / f"trace-{a.workload}-{a.seed}.json")
    shutil.rmtree(work, ignore_errors=True)

    attempted = int(res["attempted"]) + len(res["checks"])
    failed = int(res["failed"]) + len(errors)
    metrics = res["per_layer"] if a.trace == "1" else res["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
