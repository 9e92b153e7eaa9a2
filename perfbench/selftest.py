"""Self-test of the benchmark's tracing: one traced run per workload.

    python3 perfbench/selftest.py [--seconds 15]

For each workload it checks that
  * every output check passed;
  * the span self-times of all layers account for the traced pass wall
    within ``TOLERANCE`` (what is left is harness time between spans);
  * no Spark job ran inside a pass outside a span, so every job is
    attributed to a layer and ``spark.driver_gap_s`` (pass wall minus
    the union of job intervals) is all driver time.
On ``etl_full`` it also checks that the sink write is the majority of
the pass. Exits non-zero on any failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

TOLERANCE = 0.05
HERE = os.path.dirname(os.path.abspath(__file__))


def check(workload: str, seconds: int) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
    )
    if proc.returncode:
        print(proc.stderr[-3000:], file=sys.stderr)
        return [f"{workload}: run.py exited with {proc.returncode}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    wall = m["trace.pass_s"]
    problems = []
    if not out["correct"]:
        problems.append(f"{out['failed']} of {out['attempted']} operations failed")
    if abs(m["trace.accounted"] - 1) > TOLERANCE:
        problems.append(f"span self-times cover {m['trace.accounted']:.3f} of the pass")
    if m["trace.unattributed_jobs"]:
        problems.append(f"{m['trace.unattributed_jobs']} jobs ran outside any span")
    if workload == "etl_full" and m["sinks.write_s"] < wall / 2:
        problems.append(f"sinks.write_s {m['sinks.write_s']:.2f} s is not the majority of {wall:.2f} s")
    print(f"{workload}: pass {wall:.3f} s, accounted {m['trace.accounted']:.3f}, "
          f"jobs {m['spark.jobs']:.0f}, driver gap {m['spark.driver_gap_s']:.3f} s -> "
          + ("; ".join(problems) or "ok"))
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()
    failed = [w for w in ("etl_full", "etl_daily", "query_mix") if check(w, args.seconds)]
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
