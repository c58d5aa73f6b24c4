"""Workload ``query_refresh``: the query layer.  One Spark session.

Inputs: star-schema tables and a text corpus generated from the seed at
sf 0.1 sizes, with the schema of the repository's test data
(``gen_tables``).

One op is one refresh of a pinned dashboard of six headline queries.
Each query runs as construct (``spec.fn(spark, data_dir)``, the Python
side, which for some queries already runs Spark jobs) then execute
(``.count()``); the op times the six pairs as a whole.  One client,
closed loop, a fixed number of refreshes per run (the run's seconds
over ``NOMINAL_OP_S``).

Checks, outside the timed calls: the cold refresh in set-up compares
every query with its registry DuckDB oracle SQL over the same parquet
files; every later refresh must give each query the cold refresh's row
count and order-insensitive hash of its rows.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from guidewire_spark.operators.twophase import clear_two_phase_pins
from guidewire_spark.registry import all_queries

from perfbench.common import Context, Phases, peak_rss_mb, start_spark, stop_spark, timed_op, timing_metrics
from perfbench.gen_tables import generate

# The dashboard.  Pinned here, so that editing any other list of queries
# leaves the workload unchanged; all six have oracle SQL in the registry.
QUERIES = [
    "agg_pricing_summary",
    "join_inner_fact_dim",
    "window_topk_per_group",
    "sql_q3_shipping_priority",
    "text_tfidf_topk",
    "mix_source_overlap_matrix",
]
NOMINAL_OP_S = 5.0
MIN_OPS = 3


def canon(frame) -> list[str]:
    """A result frame as sorted text rows: columns in name order, cells
    stringified by pandas, the form the registry's oracles compare."""
    frame = frame.reindex(sorted(frame.columns), axis=1).astype(str)
    return sorted("|".join(row) for row in frame.itertuples(index=False, name=None))


def digest(rows: list[str]) -> tuple[int, str]:
    """Row count and order-insensitive hash of canonical rows."""
    h = hashlib.sha256()
    for row in rows:
        h.update(row.encode("utf-8") + b"\n")
    return len(rows), h.hexdigest()[:16]


class Dashboard:
    def __init__(self, ctx: Context, spark, data_dir: str) -> None:
        self.ctx, self.spark, self.data_dir = ctx, spark, data_dir
        specs = all_queries()
        self.specs = [specs[name] for name in QUERIES]
        self.expected: dict[str, tuple[int, str]] = {}

    def _refresh(self, frames: dict) -> None:
        """The timed call: construct then execute each query."""
        tracer = self.ctx.tracer
        for spec in self.specs:
            clear_two_phase_pins()  # release the previous query's pinned frames
            tracer.set_group(f"construct.{spec.name}")
            with tracer.span("operators.construct"), tracer.sample(f"q.{spec.name}.construct_ms"):
                df = spec.fn(self.spark, self.data_dir)
            tracer.set_group(f"execute.{spec.name}")
            with tracer.span("operators.execute"), tracer.sample(f"q.{spec.name}.execute_ms"):
                df.count()
            frames[spec.name] = df

    def refresh(self, index: int | None) -> tuple[float, dict]:
        frames: dict = {}
        elapsed, _, error = timed_op(self.ctx, "refresh", index, lambda: self._refresh(frames))
        return elapsed, (frames if error is None else {"error": error})

    def check(self, frames: dict, oracle: duckdb.DuckDBPyConnection | None) -> None:
        """Compare one refresh with the oracles (``oracle`` given) or
        with the cold refresh's digests."""
        bad = []
        if "error" in frames:
            bad.append(frames["error"])
        for spec in self.specs:
            if spec.name not in frames:
                continue
            try:
                got = canon(frames[spec.name].toPandas())
                if oracle is not None:
                    if got != canon(oracle.execute(spec.oracle).df()):
                        bad.append(f"{spec.name}: differs from its oracle")
                    self.expected[spec.name] = digest(got)
                elif digest(got) != self.expected.get(spec.name):
                    bad.append(f"{spec.name}: {digest(got)} != {self.expected.get(spec.name)}")
            except Exception as exc:  # a result that cannot be read fails the check
                bad.append(f"{spec.name}: {exc!r}")
        self.ctx.record(not bad, "; ".join(bad[:3]))


def _oracle(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(data_dir, name)}')")
    return con


def run(ctx: Context, phases: Phases) -> None:
    ctx.setup_probe.sample()
    data_dir = os.path.join(ctx.work, "tables")
    phases.repeated("inputs", lambda: generate(data_dir, ctx.seed, sf=0.1))
    with phases.part("session"):
        spark = start_spark(ctx, "perfbench-query-refresh")
    ctx.tracer.spark = spark
    ctx.layer["session.start_s"] = phases.parts["session"]
    try:
        dashboard = Dashboard(ctx, spark, data_dir)
        with phases.part("cold_refresh"):
            _, frames = dashboard.refresh(None)
        with phases.excluded("check"):
            dashboard.check(frames, _oracle(data_dir))
        ctx.setup_probe.sample()
        setup_s = phases.setup_s()

        latencies = []
        for i in range(ctx.n_ops(NOMINAL_OP_S, MIN_OPS)):
            elapsed, frames = dashboard.refresh(i)
            latencies.append(elapsed)
            dashboard.check(frames, None)
        if ctx.jvm_pid:
            ctx.layer["proc.jvm_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
    finally:
        clear_two_phase_pins()
        stop_spark(spark)
    # Unscaled: a refresh keeps four cores busy for seconds, and two loop
    # samples at its ends do not track that; scaling widened the ten-run
    # spreads (op_p50_ms 0.08 -> 0.11, ops_per_s 0.06 -> 0.12).
    timing_metrics(ctx, setup_s, latencies, scaled=False)
