"""The three workloads. Each one is a unit of user work (a *pass*) over
the generated inputs, plus the untimed steps around it: warm-up, the
per-pass state reset, and the output checks that feed ``success_rate``.

An operation is one table load of the ETL CLI, one query execution, or
one read-back of a landed table; it fails if it raises or if its output
check fails.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import os
import random
import shutil
import sys
import time

import duckdb

import datagen

ETL_TABLES = ["events", "orders", "lineitem", "customer"]
QUERY_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q18_large_volume_customers", "q_window_rank", "q_merge_upsert",
    "dedup_clusters_lsh", "dedup_minhash_lsh", "sim_topk_sq8", "text_tfidf_top_terms",
]
#: Output schema of the mix's rows-only queries (no DuckDB oracle).
ROWS_ONLY_SCHEMA = {
    "dedup_minhash_lsh": [("doc_a", "bigint"), ("doc_b", "bigint"),
                          ("est_jaccard", "double"), ("jaccard", "double")],
}
NIGHTS_PER_ERA = 2  # etl_daily replays this many consecutive days in each date era
# Warm-up passes after set-up. After one, the first timed pass still read
# 12-18% slow; the query mix's passes kept speeding up for several passes
# after its verification pass, which collects rather than noop-writes.
ETL_FULL_WARM_PASSES = 2
QUERY_MIX_WARM_PASSES = 2


def net_clock() -> float:
    """``time.perf_counter()`` less the CPU time the hypervisor has stolen
    from this machine, averaged over its CPUs (/proc/stat ``steal``): a
    clock that stops while a shared host withholds the machine's CPUs.
    It is the plain clock where the kernel reports no steal."""
    try:
        with open("/proc/stat") as fh:
            ticks = int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        ticks = 0
    return time.perf_counter() - ticks / os.sysconf("SC_CLK_TCK") / (os.cpu_count() or 1)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count(con, data: str, table: str, column: str | None = None, day=None) -> int:
    sql = f"SELECT count(*) FROM read_parquet('{data}/{table}.parquet')"
    if column:
        sql += f" WHERE {column} >= DATE '{day}' AND {column} < DATE '{day + dt.timedelta(days=1)}'"
    return con.execute(sql).fetchone()[0]


def _landed(con, path: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
    ).fetchone()[0]


def sink_layout(target: str) -> dict[str, int]:
    """Files, partition directories and bytes under a warehouse dir."""
    files = parts = size = 0
    for root, _, names in os.walk(target):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            parts += 1
            files += len(data)
            size += sum(os.path.getsize(os.path.join(root, n)) for n in data)
    return {"sinks.files_written": files, "sinks.partitions_written": parts,
            "sinks.bytes_written": size}


class Workload:
    """A pass and the untimed steps around it; subclasses implement
    ``run_pass``. ``target`` is the warehouse directory of the ETL
    workloads (None for the query mix)."""

    target: str | None = None

    def __init__(self) -> None:
        self.tracer = None  # a tracing.Tracer in the traced session
        # steal-free seconds of each timed unit of the last pass, when a
        # pass has more than one (see run.measure)
        self.units: dict[str, float] = {}

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def fail(self, msg: str) -> None:
        print(f"FAIL {msg}", file=sys.stderr)

    def warm(self, spark) -> tuple[int, int]:
        """Untimed warm-up; returns (attempted, failed) of its own ops."""
        self.reset()
        return self.run_pass(spark)

    def reset(self) -> None:
        pass

    def run_pass(self, spark) -> tuple[int, int]:
        raise NotImplementedError

    def readback(self) -> tuple[int, int]:
        """Untimed read-back of what the last pass landed; returns
        (tables read back, tables found wrong)."""
        return 0, 0


class _Etl(Workload):
    """Runs ``etl.main(argv)`` in-process, as the CLI would be run."""

    def __init__(self, data: str, target: str) -> None:
        super().__init__()
        self.data, self.target = data, target
        self.con = duckdb.connect()

    def _cli(self, argv: list[str], expected: dict[str, int], label: str) -> tuple[int, int]:
        from database_to_bigquery_spark import etl

        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out), self.span("cli", "etl.main"):
                etl.main(argv)
        except Exception as exc:  # a raising load fails the tables it did not report
            self.fail(f"{label}: etl.main raised {exc!r}")
        got = {}
        for line in out.getvalue().splitlines():
            table, _, status = line.partition(": ")
            got[table] = status
        failed = 0
        for table, rows in expected.items():
            want = "skipped (empty)" if rows == 0 else f"{rows} rows"
            if got.get(table) != want:
                failed += 1
                self.fail(f"{label} {table}: printed {got.get(table)!r}, source count says {want!r}")
        return len(expected), failed


class EtlFull(_Etl):
    """Full refresh of four tables into a day-partitioned ParquetSink;
    each pass overwrites the previous pass's output."""

    def __init__(self, data: str, target: str, rng: random.Random) -> None:
        super().__init__(data, target)
        self.tables = rng.sample(ETL_TABLES, len(ETL_TABLES))
        self.expected = {t: _count(self.con, data, t) for t in self.tables}
        self.argv = ["--source", data, "--target", target, "--tables", ",".join(self.tables)]

    def warm(self, spark) -> tuple[int, int]:
        attempted = failed = 0
        for _ in range(ETL_FULL_WARM_PASSES):
            a, f = self.run_pass(spark)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def run_pass(self, spark) -> tuple[int, int]:
        return self._cli(self.argv, self.expected, "full")

    def readback(self) -> tuple[int, int]:
        failed = 0
        for t, rows in self.expected.items():
            landed = _landed(self.con, os.path.join(self.target, t))
            if landed != rows:
                failed += 1
                self.fail(f"readback {t}: {landed} rows landed, source has {rows}")
        return len(self.expected), failed


class EtlDaily(_Etl):
    """A replay of consecutive ``--daily --day D`` nights in each of the
    two date eras (events: 2024-01; orders/lineitem: 1996), so every
    night has both empty-skip tables and landed tables. The target is
    emptied before each pass, so every pass does identical work."""

    def __init__(self, data: str, target: str, rng: random.Random) -> None:
        super().__init__(data, target)
        from database_to_bigquery_spark.etl import FIXTURE_SPECS

        n = NIGHTS_PER_ERA
        ev0 = datagen.EVENTS_START + dt.timedelta(days=rng.randrange(datagen.EVENTS_DAYS - n))
        or0 = datagen.ORDERS_START + dt.timedelta(days=rng.randrange(datagen.ORDERS_DAYS - n))
        self.days = [d + dt.timedelta(days=i) for d in (ev0, or0) for i in range(n)]
        self.tables = rng.sample(ETL_TABLES, len(ETL_TABLES))
        self.expected = {
            day: {
                t: _count(self.con, data, t, FIXTURE_SPECS[t].incremental_column, day)
                for t in self.tables
            }
            for day in self.days
        }

    def reset(self) -> None:
        shutil.rmtree(self.target, ignore_errors=True)

    def run_pass(self, spark) -> tuple[int, int]:
        attempted = failed = 0
        for day in self.days:
            argv = ["--daily", "--day", day.isoformat(), "--source", self.data,
                    "--target", self.target, "--tables", ",".join(self.tables)]
            a, f = self._cli(argv, self.expected[day], f"daily {day}")
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def readback(self) -> tuple[int, int]:
        failed = 0
        for t in self.tables:
            # customer is a full refresh every night: only the last night stays
            nights = self.days[-1:] if t == "customer" else self.days
            want = sum(self.expected[d][t] for d in nights)
            path = os.path.join(self.target, t)
            landed = _landed(self.con, path) if os.path.isdir(path) else 0
            if landed != want:
                failed += 1
                self.fail(f"readback {t}: {landed} rows landed, source slices sum to {want}")
        return len(self.tables), failed


class QueryMix(Workload):
    """Ten registered queries in a seed-shuffled order, each built with
    ``spec.fn(spark, dir)`` and forced with a noop write."""

    def __init__(self, data: str, rng: random.Random) -> None:
        super().__init__()
        from database_to_bigquery_spark.registry import all_specs

        self.data = data
        self.specs = all_specs()
        self.names = rng.sample(QUERY_MIX, len(QUERY_MIX))

    def run_pass(self, spark) -> tuple[int, int]:
        failed = 0
        self.units = {}
        for q in self.names:
            t0 = net_clock()
            try:
                with self.span("operators", f"build:{q}"):
                    df = self.specs[q].fn(spark, self.data)
                with self.span("operators", f"execute:{q}"):
                    force(df)
            except Exception as exc:
                failed += 1
                self.fail(f"{q}: raised {exc!r}")
            self.units[q] = net_clock() - t0
        return len(self.names), failed

    def warm(self, spark) -> tuple[int, int]:
        """The verification pass, which is also the first warm-up: collect
        every query and compare it with its DuckDB oracle (rows-only
        queries: non-empty, expected schema); then noop-write passes."""
        import check_oracle  # tools/check_oracle.py: the driver-strict comparison

        con = duckdb.connect()
        for f in os.listdir(self.data):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{self.data}/{f}')")
        failed = 0
        for q in self.names:
            try:
                problems = self._verify(spark, con, q, check_oracle)
            except Exception as exc:
                problems = [f"raised {exc!r}"]
            if problems:
                failed += 1
                self.fail(f"verify {q}: " + "; ".join(problems))
        attempted = len(self.names)
        for _ in range(QUERY_MIX_WARM_PASSES):
            a, f = self.run_pass(spark)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def _verify(self, spark, con, q: str, co) -> list[str]:
        spec = self.specs[q]
        sdf = spec.fn(spark, self.data)
        cols, dtypes = sdf.columns, sdf.dtypes
        rows = [tuple(r) for r in sdf.collect()]
        if spec.oracle is None:
            problems = [] if rows else ["empty result"]
            if dtypes != ROWS_ONLY_SCHEMA[q]:
                problems.append(f"schema {dtypes} != {ROWS_ONLY_SCHEMA[q]}")
            return problems
        tbl = con.execute(spec.oracle).fetch_arrow_table()
        o_cols = list(tbl.column_names)
        o_rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
        problems = []
        s_types = dict(dtypes)
        for f in tbl.schema:
            sc = co.spark_type_category(s_types.get(f.name, ""))
            oc = co.arrow_type_category(f.type)
            if "list" in (sc, oc) or (f.name in s_types and sc != oc):
                problems.append(f"type {f.name}: spark {s_types.get(f.name)} vs oracle {f.type}")
        if len(rows) != len(o_rows):
            problems.append(f"rowcount {len(rows)} vs {len(o_rows)}")
        if sorted(cols) != sorted(o_cols):
            problems.append(f"columns {sorted(cols)} vs {sorted(o_cols)}")
        elif co.value_hash(rows, cols) != co.value_hash(o_rows, o_cols):
            problems.append("value hash mismatch")
        return problems


def make(name: str, data: str, target: str, seed: int) -> Workload:
    rng = random.Random(seed)
    if name == "etl_full":
        return EtlFull(data, target, rng)
    if name == "etl_daily":
        return EtlDaily(data, target, rng)
    if name == "query_mix":
        return QueryMix(data, rng)
    raise ValueError(f"unknown workload {name!r}")
