"""The benchmark's workloads.

Each workload is one client in a closed loop: it starts the next
operation when the previous one has returned. A workload

* writes its seeded inputs (``generate``, the benchmark's own work),
* answers its first job over those inputs and does the program-side
  preparation, the part of ``setup_s`` that follows the new
  SparkContext (``prepare``),
* does the untimed work its operations start from (``warm``),
* runs one operation through the package's public functions (``op``),
  timing its stages and labelling their Spark jobs through ``Op``, and
  returning the problems it found in the operation's result,
* gives the bytes its sinks wrote per input byte (``write_amp``),
* checks what needs every operation to have run, and outputs no
  operation checks itself, against DuckDB (``check``).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

import duckdb

import gen
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
    drop_partitions,
    merge_upsert_partitioned,
    read_snapshot,
    vacuum_snapshot,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import describe_plus
from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.walmart_etl import (
    CATEGORICAL_IMPUTE_COLS,
    LAG_COLS,
    NUMERIC_IMPUTE_COLS,
    run_and_write,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import (
    WALMART_FEATURES_SCHEMA,
    WALMART_STORES_SCHEMA,
    WALMART_TEST_SCHEMA,
    WALMART_TRAIN_SCHEMA,
    read_csv,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.io import write_parquet


# HotSpot's JIT compiler threads, by their (truncated) Linux names.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def thread_cpu_ticks(root: int | None = None) -> dict[tuple[int, int], int]:
    """User plus system CPU clock ticks of every thread of process
    ``root`` (this one by default) and of its descendants alive now, by
    (pid, tid), from /proc, leaving out the JVM's JIT compiler threads.
    With paravirtual steal accounting, time the host takes from the VM is
    in no thread's count."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while we looked
                continue
            children.setdefault(ppid, []).append(int(pid))
    ticks, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if not name.startswith(JIT_THREADS):
                fields = rest.split()
                ticks[(pid, int(tid))] = int(fields[11]) + int(fields[12])  # utime stime
    return ticks


def cpu_s_between(before: dict, after: dict) -> float:
    """CPU seconds the threads in ``after`` used since ``before``; a
    thread started in between counts from zero."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / os.sysconf("SC_CLK_TCK")


class Op:
    """One operation: labels the Spark jobs of each stage with the job
    group ``op<i>:<stage>`` and records per-stage wall times and the
    operation's CPU time. Latency and CPU time run from the start of its
    first stage to the end of its last, so the benchmark's own work
    before and after (making a batch, checking a result, sizing outputs)
    is not counted. Counters the workload fills in (bytes in and out,
    build time, maintenance state) go to ``stats``."""

    def __init__(self, spark, index: int):
        self.sc = spark.sparkContext
        self.index = index
        self.times: dict[str, float] = {}
        self.stats: dict[str, float] = {}
        self.groups: set[str] = set()
        self.start: float | None = None
        self.end: float | None = None
        self.cpu_start: dict = {}
        self.cpu_s = 0.0

    @property
    def latency_s(self) -> float:
        return self.end - self.start

    @contextmanager
    def stage(self, name: str):
        group = f"op{self.index}:{name}"
        self.groups.add(group)
        self.sc.setJobGroup(group, name)
        if self.start is None:
            self.cpu_start = thread_cpu_ticks()
        t = time.perf_counter()
        if self.start is None:
            self.start = t
        try:
            yield
        finally:
            self.end = time.perf_counter()
            self.times[name] = self.times.get(name, 0.0) + self.end - t
            self.cpu_s = cpu_s_between(self.cpu_start, thread_cpu_ticks())
            self.sc.setJobGroup("", "")


def files_under(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by path."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    }


class Walmart:
    """The reference pipeline's EDA over its ETL output. ``warm`` runs the
    ETL once (CSV → ``walmart_etl.run_and_write``, Year-partitioned
    parquet); one operation is ``describe_plus`` over the EDA report's
    numeric columns: count, mean, stddev, min, max and exact quartiles,
    the exact-quantile engine behind ``eda_report``."""

    name = "walmart"
    max_ops = None
    round_ops = 1
    # The first call in a JVM costs three times the CPU of the next ones,
    # which stay level once the JIT compiler threads are left out.
    warmup_ops = 3
    min_ops = 5
    rel_tol = 1e-6
    csvs = (
        ("train", WALMART_TRAIN_SCHEMA),
        ("test", WALMART_TEST_SCHEMA),
        ("stores", WALMART_STORES_SCHEMA),
        ("features", WALMART_FEATURES_SCHEMA),
    )

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")

    def generate(self) -> dict:
        self.info = gen.walmart(self.seed, self.inputs)
        self.info["csv_bytes"] = sum(files_under(self.inputs).values())
        return self.info

    def read(self, spark) -> list:
        return [read_csv(spark, os.path.join(self.inputs, f"{name}.csv"), schema) for name, schema in self.csvs]

    def prepare(self, spark) -> list[str]:
        """Scan the four CSVs once: the first job over the inputs."""
        got = tuple(df.count() for df in self.read(spark))
        want = tuple(self.info[f"{name}_rows"] for name, _ in self.csvs)
        return [] if got == want else [f"set-up read {got} CSV rows, expected {want}"]

    def warm(self, spark) -> None:
        """Run the ETL, whose merged train table every operation reads,
        and compute the expected describe with DuckDB."""
        t = time.perf_counter()
        run_and_write(*self.read(spark), f"{self.out}/merged_train", f"{self.out}/merged_test")
        self.etl_s = time.perf_counter() - t
        self.etl_bytes = sum(files_under(self.out).values())
        self.train = spark.read.parquet(f"{self.out}/merged_train")
        self.numeric = [c for c, t in self.train.dtypes if t in ("double", "float")][:8]
        con = duckdb.connect()
        table = f"read_parquet('{self.out}/merged_train/*/*.parquet', hive_partitioning=true)"
        self.want = {}
        for c in self.numeric:
            x = f"CAST({c} AS DOUBLE)"
            self.want[c] = con.execute(
                f"SELECT count({x}), avg({x}), stddev_samp({x}), min({x}), quantile_cont({x}, 0.25),"
                f" quantile_cont({x}, 0.5), quantile_cont({x}, 0.75), max({x}) FROM {table}"
            ).fetchone()
        con.close()

    def write_amp(self, ops: list) -> float:
        """The ETL's parquet bytes over the CSV bytes it read: the
        workload's only sink."""
        return self.etl_bytes / self.info["csv_bytes"]

    def op(self, spark, op: Op) -> list[str]:
        with op.stage("describe"):
            got = describe_plus(self.train, self.numeric).collect()
        op.stats.update(build_s=op.times["describe"], output_bytes=0, files_written=0)
        problems = []
        for row in got:
            want = self.want[row["column"]]
            if not all(
                (a is None and b is None)
                or (a is not None and b is not None and math.isclose(a, b, rel_tol=self.rel_tol, abs_tol=self.rel_tol))
                for a, b in zip(tuple(row)[1:], want)
            ):
                problems.append(f"op {op.index}: describe of {row['column']} {tuple(row)[1:]} != DuckDB {want}")
        if sorted(row["column"] for row in got) != sorted(self.numeric):
            problems.append(f"op {op.index}: describe covers {[row['column'] for row in got]}")
        return problems

    def check(self, spark) -> list[str]:
        """ETL row counts, imputed columns free of NULLs, and lag1/lag4/
        roll4 against DuckDB window functions over the same CSVs."""
        out, con = self.out, duckdb.connect()
        con.execute(
            f"CREATE VIEW mt AS SELECT * FROM read_parquet('{out}/merged_train/*/*.parquet', hive_partitioning=true)"
        )
        con.execute(
            f"CREATE VIEW ms AS SELECT * FROM read_parquet('{out}/merged_test/*/*.parquet', hive_partitioning=true)"
        )
        problems = []
        for view, want in (("mt", self.info["train_rows_labelled"]), ("ms", self.info["test_rows"])):
            got = con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
            if got != want:
                problems.append(f"{view} has {got} rows, expected {want}")
        imputed = NUMERIC_IMPUTE_COLS + CATEGORICAL_IMPUTE_COLS
        for view in ("mt", "ms"):
            nulls = " + ".join(f"count(*) FILTER (WHERE {c} IS NULL)" for c in imputed)
            n = con.execute(f"SELECT {nulls} FROM {view}").fetchone()[0]
            if n:
                problems.append(f"{view}: {n} NULLs left in imputed columns")
        train_csv = os.path.join(self.inputs, "train.csv")
        diff = con.execute(
            f"""
            WITH t AS (
              SELECT * FROM read_csv('{train_csv}', header=true, nullstr='NA',
                columns={{'Store': 'INTEGER', 'Dept': 'INTEGER', 'Date': 'DATE',
                          'Weekly_Sales': 'DOUBLE', 'IsHoliday': 'BOOLEAN'}})
              WHERE Weekly_Sales IS NOT NULL),
            want AS (
              SELECT Store, Dept, Date,
                round(coalesce(lag(Weekly_Sales, 1) OVER w, 0), 4) AS l1,
                round(coalesce(lag(Weekly_Sales, 4) OVER w, 0), 4) AS l4,
                round(coalesce(avg(Weekly_Sales) OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0), 4) AS r4
              FROM t WINDOW w AS (PARTITION BY Store, Dept ORDER BY Date)),
            got AS (
              SELECT Store, Dept, Date, round({LAG_COLS[0]}, 4) AS l1,
                round({LAG_COLS[1]}, 4) AS l4, round({LAG_COLS[2]}, 4) AS r4 FROM mt)
            SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))
            """
        ).fetchone()[0]
        if diff:
            problems.append(f"{diff} lag/roll rows differ from the DuckDB windows")
        con.close()
        return problems


class Lake:
    """Refresh cycles on a pointer snapshot of ``orders`` partitioned by
    order year: each cycle upserts one seeded batch into recent years;
    every ``retention_every``-th cycle also drops the oldest year left and
    vacuums superseded slices. A run stops before it runs out of years to
    drop (``max_ops``), so every retention cycle drops one."""

    name = "lake"
    sf = 0.1
    retention_every = 4
    # A round is one retention period, so every run times the same share
    # of retention cycles; at least two rounds, so the tail always sees
    # two. Two warm-up rounds take out the first cycles in the JVM, which
    # run several times slower than the rest, and the next few, whose CPU
    # time still falls by about a fifth.
    round_ops = retention_every
    warmup_ops = min_ops = 2 * retention_every
    keep_manifests = 2
    part = "o_orderyear"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs = os.path.join(work, "inputs")
        self.orders_path = os.path.join(self.inputs, "orders.parquet")
        self.applied: list[tuple[str, int | None]] = []
        self.setups = 0

    def generate(self) -> dict:
        import pyarrow.parquet as pq

        os.makedirs(self.inputs, exist_ok=True)
        self.orders = gen.lake_orders(self.seed, self.sf)
        self.columns = self.orders.column_names
        years = sorted(set(self.orders.column(self.part).to_pylist()))
        self.droppable = years[: -gen.RECENT_YEARS]
        self.max_ops = self.retention_every * len(self.droppable)
        pq.write_table(self.orders, self.orders_path)
        first = self.batch(0)
        return {
            "orders_rows": self.orders.num_rows,
            "orders_bytes": os.path.getsize(self.orders_path),
            "partitions": len(years),
            "batch_rows": first["rows"],
            "batch_row_share": gen.BATCH_ROW_SHARE,
            "batch_insert_share": gen.BATCH_INSERT_SHARE,
            "batch_touched_partitions": gen.TOUCHED_PARTITIONS,
            "retention_every": self.retention_every,
        }

    def batch(self, cycle: int) -> dict:
        path = os.path.join(self.inputs, f"batch{cycle}.parquet")
        return dict(gen.lake_batch(self.seed, cycle, self.orders, path), path=path)

    def prepare(self, spark) -> list[str]:
        """Write the bootstrap snapshot the refresh cycles start from."""
        self.setups += 1
        self.snap = os.path.join(self.work, f"snapshot{self.setups}", "orders")
        write_parquet(spark.read.parquet(self.orders_path), self.snap, partition_by=[self.part])
        return []

    def warm(self, spark) -> None:
        """Nothing: the cycles start from the set-up's snapshot."""

    def write_amp(self, ops: list) -> float:
        """Median over cycles of the bytes of the files a cycle created
        over its batch's bytes."""
        return statistics.median(op.stats["output_bytes"] / op.stats["input_bytes"] for op in ops)

    def op(self, spark, op: Op) -> list[str]:
        batch = self.batch(op.index)
        before = files_under(self.snap)
        with op.stage("build"):
            updates = spark.read.parquet(batch["path"])
        dropped = removed = None
        with op.stage("commit"):
            touched = merge_upsert_partitioned(spark, self.snap, updates, "o_orderkey", self.part)
            if op.index % self.retention_every == self.retention_every - 1:
                # the oldest year left, never one the batches touch
                dropped = self.droppable[op.index // self.retention_every]
                removed = drop_partitions(spark, self.snap, [dropped], self.part)
                vacuum_snapshot(spark, self.snap, keep_manifests=self.keep_manifests)
        self.applied.append((batch["path"], dropped))
        after = files_under(self.snap)
        live_bytes = sum(
            os.path.getsize(unquote(urlparse(p).path))
            for p in read_snapshot(spark, self.snap).inputFiles()
        )
        new = after.keys() - before.keys()
        op.stats.update(
            build_s=op.times["build"],
            input_bytes=batch["bytes"],
            output_bytes=sum(after[p] for p in new),
            files_written=len(new),
            files_live=sum(1 for p in after if p.endswith(".parquet")),
            space_amp=sum(after.values()) / live_bytes,
        )
        problems = []
        if touched != batch["touched"]:
            problems.append(f"cycle {op.index}: touched {touched}, batch has {batch['touched']}")
        if dropped is not None and removed != [dropped]:
            problems.append(f"cycle {op.index}: dropping {dropped} removed {removed}")
        return problems

    def check(self, spark) -> list[str]:
        """The final snapshot, read by the given (fresh) session, equals a
        DuckDB replay of every acknowledged batch and drop."""
        got = read_snapshot(spark, self.snap).select(*self.columns).collect()
        con = duckdb.connect()
        con.execute(f"CREATE TABLE s AS SELECT {', '.join(self.columns)} FROM '{self.orders_path}'")
        for path, dropped in self.applied:
            con.execute(f"DELETE FROM s WHERE o_orderkey IN (SELECT o_orderkey FROM '{path}')")
            con.execute(f"INSERT INTO s SELECT {', '.join(self.columns)} FROM '{path}'")
            if dropped is not None:
                con.execute(f"DELETE FROM s WHERE {self.part} = ?", [dropped])
        want = con.execute("SELECT * FROM s").fetchall()
        con.close()
        if sorted(map(tuple, got)) != sorted(want):
            return [f"final snapshot has {len(got)} rows, replay has {len(want)}, or they differ"]
        return []


WORKLOADS = {w.name: w for w in (Walmart, Lake)}
