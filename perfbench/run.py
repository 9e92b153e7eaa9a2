"""Steal-corrected benchmark of the ETL CLI and the query mix.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 15 --trace 0

One driver process on ``local[<cores>]`` (half the machine's CPUs, see
``cores``) calls the package's public entry points in-process:
``etl.main(argv)`` for the ETL workloads, and
``registry.all_specs()[q].fn(spark, dir)`` forced with a noop write for
the query mix. Inputs are generated once per checkout into
``perfbench/.data``; every other file the run writes goes under
``perfbench/.work`` and is removed at exit.

A run: set up (imports, ``get_spark``, first job: ``setup_s``), warm up
(the query mix's warm-up starts with its oracle verification pass), then
timed passes until ``--seconds`` have gone by (at least one). Every timed
unit (an ETL pass; one query of the mix) is timed on a clock that stops
while the hypervisor steals the machine's CPUs (``workloads.net_clock``),
and ``pass_s`` sums, over the units of a pass, each unit's median over
the run's passes. ``--trace 1`` also reads a JVM-only calibration job
before and after the timed passes as machine context, then restarts
Spark with its event log on, installs spans (perfbench/tracing.py) and
repeats the timed passes, printing the per-layer metrics instead.

The last line of stdout is the result JSON; everything else goes to
stderr. ``perfbench/selftest.py`` checks the traced accounting, and
``perfbench/steadiness.json`` records why each workload exists and how
steady its metrics measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")

# Calibration job: xxhash64 over CAL_ROWS_PER_CORE longs per core on one
# partition per core: JVM codegen only, no I/O, no Python workers, so the
# wall is the same on any core count of the same CPU. CAL_IDLE_S is its
# idle reference (the faster of two runs, see ``calibration``) on a
# 4-vCPU VM under local[4]: 20 warm back-to-back readings of an
# otherwise idle machine spanned 0.395-0.488 s, median 0.432 s. It only
# scales ``machine.cal_ratio``: on a shared host the job read up to 1.6x
# its reference while ETL passes ran at their usual speed, so dividing
# passes by it (or gating them on it) made pass_s noisier, not steadier.
CAL_ROWS_PER_CORE = 50_000_000
CAL_IDLE_S = 0.43


def cores() -> int:
    """Half the CPUs this process may use (at least one). With one task
    thread per CPU, the driver's Python thread and the JVM's compiler
    and GC threads queue behind the tasks, and a CPU the hypervisor
    steals stalls a whole stage; on 4 vCPUs local[2] ran both workloads
    faster than local[4] and with less spread between passes."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def environment() -> None:
    """Keep every file Spark and the JVMs write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.chdir(WORK)  # spark-warehouse and other relative paths land here
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(workload: str):
    """What a CLI user pays on every invocation: the entry point's
    imports, ``get_spark`` and the first job."""
    t0 = time.perf_counter()
    if workload == "query_mix":
        from database_to_bigquery_spark.registry import all_specs

        all_specs()
    else:
        from database_to_bigquery_spark import etl  # noqa: F401
    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    force(load_table(spark, DATA, "region"))
    t3 = time.perf_counter()
    return spark, {
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.first_job_s": t3 - t2,
    }


def calibration(spark) -> float:
    """The faster of two runs of the calibration job: one run alone
    picks up transient stalls (a GC, a JIT burst) that a pass does not."""
    from pyspark.sql import functions as F

    n = cores()
    df = spark.range(0, CAL_ROWS_PER_CORE * n, 1, n).select(F.sum(F.xxhash64("id") % 100000))
    walls = []
    for _ in range(2):
        t = time.perf_counter()
        force(df)
        walls.append(time.perf_counter() - t)
    return min(walls)


def measure(spark, wl, seconds: float, tracer=None, probe: bool = False) -> dict:
    """Timed passes until ``seconds`` have gone by (at least one), and
    with ``probe`` a calibration reading before and after them as machine
    context. ``pass_s`` sums, over the units of a pass (``wl.units``: one
    per query of the mix, the whole pass for ETL), the median of each
    unit's steal-free time over the passes, so a stall in one query of
    one pass moves little."""
    from workloads import net_clock

    walls, stolen, units, windows = [], [], [], {}
    probes = [calibration(spark)] if probe else []
    attempted = failed = 0
    start = time.perf_counter()
    while True:
        wl.reset()
        pid = len(walls)
        if tracer is not None:
            tracer.pass_id = pid
        t0, w0, n0 = time.perf_counter(), time.time(), net_clock()
        a, f = wl.run_pass(spark)
        wall, w1, net = time.perf_counter() - t0, time.time(), net_clock() - n0
        if tracer is not None:
            tracer.pass_id = -1
            windows[pid] = (w0, w1, wall)
            if wl.target:
                from workloads import sink_layout

                for k, v in sink_layout(wl.target).items():
                    tracer.counts[(pid, k)] = v
        attempted, failed = attempted + a, failed + f
        walls.append(wall)
        stolen.append(wall - net)
        units.append(wl.units or {"pass": net})
        if time.perf_counter() - start >= seconds:
            break
    if probe:
        probes.append(calibration(spark))
    medians = {k: statistics.median(u[k] for u in units) for k in units[0]}
    return {
        "pass_s": sum(medians.values()),
        "units": medians,
        "cal_ratio": statistics.median(probes) / CAL_IDLE_S if probes else None,
        "stolen_s": statistics.median(stolen),
        "probes": probes,
        "walls": walls,
        "stolen": stolen,
        "attempted": attempted,
        "failed": failed,
        "windows": windows,
    }


def descendants() -> set[int]:
    """Pids of this process's descendants: the JVM and its Python workers."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree |= frontier
    return tree


def peak_rss_mb() -> float:
    """Summed peak RSS of this process and its descendants."""
    total_kb = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def stop_jvm() -> None:
    """Shut the Spark JVM down and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def traced(spark, wl, seconds: float) -> tuple[dict, int, int]:
    """Restart Spark with its event log on, install spans, repeat the
    timed passes. Returns the per-layer metrics and the (attempted,
    failed) operations of the traced session. The traced passes run
    later in the same JVM than the untraced ones, so ``trace.overhead_s``
    also carries the extra JIT warm-up and can read negative."""
    import tracing

    from database_to_bigquery_spark.session import get_spark

    spark.stop()
    log_dir = os.path.join(WORK, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("perfbench-trace", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = tracing.Tracer(spark.sparkContext)
    wl.tracer = tracer
    undo = tracing.install(tracer, spark, etl=wl.target is not None)
    try:
        wl.reset()
        attempted, failed = wl.run_pass(spark)  # warm-up of the new session, outside any pass
        m = measure(spark, wl, seconds, tracer)
    finally:
        for u in undo:
            u()
    spark.stop()
    jobs, stages = tracing.read_event_log(log_dir)
    out = tracing.per_layer(tracing.pass_metrics(tracer, m["windows"], jobs, stages))
    out["trace.pass_s"] = m["pass_s"]
    report("traced", m)
    return out, attempted + m["attempted"], failed + m["failed"]


def report(label: str, m: dict) -> None:
    print(f"{label} passes {[round(w, 3) for w in m['walls']]} s, "
          f"stolen {[round(w, 3) for w in m['stolen']]} s, "
          f"calibration {[round(p, 3) for p in m['probes']]} s, pass_s {m['pass_s']:.3f}",
          file=sys.stderr)
    print(f"{label} unit medians {json.dumps(m['units'])}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_full", "etl_daily", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "database_to_bigquery_spark")):
        print(f"no database_to_bigquery_spark package next to {HERE}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):  # generated once per checkout, in its own process
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), DATA], check=True)
    shutil.rmtree(WORK, ignore_errors=True)
    environment()
    try:
        return run(args)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(WORK, ignore_errors=True)


def run(args) -> int:
    spark, session = setup(args.workload)
    setup_s = sum(session.values())
    import workloads

    wl = workloads.make(args.workload, DATA, os.path.join(WORK, "warehouse"), args.seed)
    attempted, failed = wl.warm(spark)
    if args.trace:
        calibration(spark)  # compile the calibration job before the first reading
    m = measure(spark, wl, args.seconds, probe=bool(args.trace))
    a, f = wl.readback()
    attempted += m["attempted"] + a
    failed += m["failed"] + f
    report("timed", m)
    if args.trace:
        session["session.peak_rss_mb"] = peak_rss_mb()
        layers, a, f = traced(spark, wl, args.seconds)
        attempted, failed = attempted + a, failed + f
        layers.update(session)
        layers["machine.cal_ratio"] = m["cal_ratio"]
        layers["machine.passes"] = len(m["walls"])
        layers["machine.stolen_s"] = m["stolen_s"]
        layers["trace.overhead_s"] = layers["trace.pass_s"] - m["pass_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        spark.stop()
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": m["pass_s"], "unit": "s"},
            "success_rate": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("machine.cal_ratio", "trace.accounted", "sinks.files_per_partition"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
