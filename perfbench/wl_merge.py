"""Workload ``delta_merge``: Delta writes beside reads.  One Spark session.

The table holds orders-like rows (``o_orderkey`` even numbers only),
written by ``write_delta`` as ``N_FILES`` key-range files, with
``delta.checkpointInterval=10`` set through ``set_table_properties``, so
the log crosses a checkpoint every ten ops.

One op is one CDC batch, timed as a whole:

1. ``merge_into`` of a seeded upsert of ``BATCH_KEYS`` consecutive keys,
   half of them present (updates) and half new (inserts);
2. ``read_delta`` of the version the merge wrote, aggregated;
3. ``read_delta`` of the version ``TRAVEL`` commits earlier (time
   travel), aggregated.

Op ``i`` upserts key slot ``i // N_FILES`` of file ``i % N_FILES``, so
every merge rewrites the one file that holds its range and every seed
makes the same files; the seed draws the row values.  The source frame
is built before the timed call.  One client, closed loop, a fixed number
of ops per run (the run's seconds over ``NOMINAL_OP_S``).

A DuckDB model receives the same writes, outside the timed calls.  Both
reads must equal the model's digest at their version, and at the end
the whole table must equal the model row for row.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from guidewire_spark.sources.snapshot import read_delta
from guidewire_spark.sources.writer import merge_into, set_table_properties, write_delta

from perfbench.common import Context, Phases, peak_rss_mb, start_spark, stop_spark, timed_op, timing_metrics

N_FILES, ROWS_PER_FILE = 8, 18_750
BATCH_KEYS = 1_500  # 750 updates, 750 inserts
TRAVEL = 5
NOMINAL_OP_S = 0.5
MIN_OPS = 16
WARMUP_OPS = TRAVEL - 1  # from the first timed op on, every op travels TRAVEL back
KEY_SPAN = 2 * ROWS_PER_FILE  # keys per initial file (even keys only)
SLOTS = KEY_SPAN // BATCH_KEYS
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """Orders rows for ``keys``; values come from fixed-width domains."""
    n = len(keys)
    days = rng.integers(9_131, 11_535, n)  # 1995-01-01 .. 2001-07-31
    return pa.table({
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(100_000, 1_000_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(rng.integers(10_000, 100_000, n) + 0.5),
        "o_orderdate": pa.array(days * 86_400_000_000, type=pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n)]),
    })


def batch_keys(op: int) -> np.ndarray:
    """The consecutive keys op ``op`` upserts."""
    lo = (op % N_FILES) * KEY_SPAN + ((op // N_FILES) % SLOTS) * BATCH_KEYS
    return np.arange(lo, lo + BATCH_KEYS)


class Model:
    """The expected table in DuckDB, with a digest per version."""

    def __init__(self, initial: pa.Table) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.con.register("initial", initial)
        self.con.execute("CREATE TABLE model AS SELECT * FROM initial")
        self.con.unregister("initial")
        self.digests: dict[int, tuple[int, int, int]] = {}

    def digest(self) -> tuple[int, int, int]:
        n, keys, cents = self.con.execute(f"SELECT count(*), sum(o_orderkey), sum({_CENTS}) FROM model").fetchone()
        return int(n), int(keys or 0), int(cents or 0)

    def upsert(self, batch: pa.Table) -> None:
        self.con.register("batch", batch)
        self.con.execute("DELETE FROM model WHERE o_orderkey IN (SELECT o_orderkey FROM batch)")
        self.con.execute("INSERT INTO model SELECT * FROM batch")
        self.con.unregister("batch")

    def rows(self) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(
            f"SELECT o_orderkey, o_custkey, o_orderstatus, {_CENTS}, epoch_us(o_orderdate), o_orderpriority "
            "FROM model ORDER BY o_orderkey").fetchall()]


def _digest(tracer, spark, path: str, version: int) -> tuple[int, int, int]:
    df = read_delta(spark, path, version=version).agg(
        F.count("*"), F.sum("o_orderkey"), F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    )
    with tracer.span("spark.collect"):
        row = df.collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _spark_rows(spark, path: str) -> list[tuple]:
    df = read_delta(spark, path).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.unix_micros("o_orderdate"), "o_orderpriority",
    )
    return sorted(tuple(r) for r in df.collect())


def _travel(version: int) -> int:
    """The earlier version an op reads; warm-up ops stop at version 1."""
    return max(1, version - TRAVEL)


class CdcClient:
    def __init__(self, ctx: Context, spark, path: str, model: Model) -> None:
        self.ctx, self.spark, self.path, self.model = ctx, spark, path, model
        self.rng = np.random.default_rng(ctx.seed + 1)
        self.version = 1  # the create and the properties commit
        self.rows_changed = 0
        self.merged: int | None = None

    def _cdc_batch(self, source) -> tuple:
        tracer = self.ctx.tracer
        tracer.set_group("merge")
        self.merged = merge_into(self.spark, self.path, source, on="o_orderkey")
        tracer.set_group("read")
        new = _digest(tracer, self.spark, self.path, self.merged)
        return new, _digest(tracer, self.spark, self.path, _travel(self.merged))

    def op(self, op: int, index: int | None) -> float:
        batch = orders(self.rng, batch_keys(op))
        source = self.spark.createDataFrame(batch.to_pandas()).coalesce(1)
        self.merged = None
        elapsed, result, error = timed_op(self.ctx, "cdc_batch", index, lambda: self._cdc_batch(source))
        version = self.merged
        if version is not None:  # the merge committed: the model follows
            self.model.upsert(batch)
            self.model.digests[version] = self.model.digest()
            if index is not None and self.ctx.tracer.traced(index):
                self.rows_changed += len(batch)
            if version != self.version + 1:
                error = error or f"merge committed v{version} after v{self.version}"
            self.version = version
        if error is None:
            new, old = result
            if new != self.model.digests[version]:
                error = f"read v{version}: {new} != {self.model.digests[version]}"
            elif old != self.model.digests[_travel(version)]:
                error = f"travel v{_travel(version)}: {old} != {self.model.digests[_travel(version)]}"
        self.ctx.record(error is None, error or "")
        return elapsed


def _inputs(work: str, seed: int) -> pa.Table:
    """The initial rows, and their ``N_FILES`` key-range parquet files."""
    table = orders(np.random.default_rng(seed), np.arange(0, N_FILES * KEY_SPAN, 2))
    source = os.path.join(work, "orders_source")
    os.makedirs(source, exist_ok=True)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * ROWS_PER_FILE, ROWS_PER_FILE), os.path.join(source, f"part-{i:02d}.parquet"))
    return table


def run(ctx: Context, phases: Phases) -> None:
    ctx.setup_probe.sample()
    initial = phases.repeated("inputs", lambda: _inputs(ctx.work, ctx.seed))
    with phases.part("session"):
        spark = start_spark(ctx, "perfbench-delta-merge")
    ctx.tracer.spark = spark
    ctx.layer["session.start_s"] = phases.parts["session"]
    try:
        path = os.path.join(ctx.work, "delta", "orders")
        with phases.part("create"):
            write_delta(spark.read.parquet(os.path.join(ctx.work, "orders_source")), path, mode="append")
            set_table_properties(path, {"delta.checkpointInterval": "10"})
        with phases.excluded("check"):
            model = Model(initial)
            model.digests[0] = model.digests[1] = model.digest()
        client = CdcClient(ctx, spark, path, model)
        with phases.part("warmup"):
            for op in range(WARMUP_OPS):
                client.op(op, None)
        ctx.setup_probe.sample()
        setup_s = phases.setup_s()

        latencies = []
        for i in range(ctx.n_ops(NOMINAL_OP_S, MIN_OPS)):
            latencies.append(client.op(WARMUP_OPS + i, i))
        try:
            ok, what = _spark_rows(spark, path) == model.rows(), "final table differs from the model"
        except Exception as exc:  # a read that raises fails the check
            ok, what = False, f"final read: {exc!r}"
        ctx.record(ok, what)
        ctx.info["versions"] = client.version + 1
        ctx.layer["writer.rows_changed"] = float(client.rows_changed)
        if ctx.jvm_pid:
            ctx.layer["proc.jvm_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
    finally:
        stop_spark(spark)
    timing_metrics(ctx, setup_s, latencies)
