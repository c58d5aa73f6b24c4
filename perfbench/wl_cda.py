"""Workload ``cda_sync``: the connector's own job.  No Spark session.

A run has ``CYCLES`` cycles.  Each builds the seeded CDA tree
(``gen_cda``), indexes it cold with ``index(save_mode="overwrite")``,
makes two untimed polls and then the timed polls.  ``setup_s`` is the
time to the first timed op, with the build and cold index at their
median over the cycles.  Cycles keep the ops alike: a poll's cost grows
with the polls since the rebuild (the connector's checkpoint table and
the logs grow), so each cycle replays the same ramp.

One op: the folders of the next poll land (untimed), then the timed
call runs one ``index(save_mode="append")`` poll and ``load_snapshot``
on each table the poll changed; the data is fresh once a reader can see
it.  One client, closed loop.  A run makes a fixed number of polls (the
run's seconds over ``NOMINAL_OP_S``), so its work depends on its length
and seed only.

Checks, outside the timed call: after the cold index every table, after
each poll the snapshots it loaded, and at the end of a cycle every table
must show exactly the generator's live files, schema and version count.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from guidewire_spark.sources import index, load_snapshot

from perfbench.common import Context, Phases, timed_op, timing_metrics
from perfbench.gen_cda import CdaTree

NOMINAL_OP_S = 0.065
MIN_POLLS = 20
CYCLES = 3
WARMUP_POLLS = 2
# One index worker: the per-table work is Python holding the GIL, so
# more threads add little speed, and their lock hand-offs made identical
# runs differ by 30-50% on a 4-core host (one worker: about 5%).
INDEX_WORKERS = 1


def _mismatches(tree: CdaTree, snaps: dict) -> list[str]:
    bad = []
    for name, snap in snaps.items():
        exp = tree.expected(name)
        schema = tuple((f.name, f.dataType.simpleString()) for f in snap.schema.fields)
        if set(snap.files) != exp.files:
            bad.append(f"{name}: {len(snap.files)} live files, expected {len(exp.files)}")
        if schema != exp.schema:
            bad.append(f"{name}: schema {schema}, expected {exp.schema}")
        if snap.version + 1 != exp.versions:
            bad.append(f"{name}: {snap.version + 1} versions, expected {exp.versions}")
    return bad


def _check_all(ctx: Context, tree: CdaTree, what: str) -> None:
    try:
        snaps = {name: load_snapshot(os.path.join(tree.database_path, name)) for name in tree.tables}
        bad = _mismatches(tree, snaps)
    except (FileNotFoundError, ValueError) as exc:
        bad = [repr(exc)]
    ctx.record(not bad, f"{what}: " + "; ".join(bad[:3]))


def _poll(tree: CdaTree, names: list[str]) -> dict:
    """The timed call: one incremental poll, then a read of every table
    it changed."""
    index(tree.manifest_path, tree.database_path, save_mode="append", max_workers=INDEX_WORKERS)
    return {name: load_snapshot(os.path.join(tree.database_path, name)) for name in names}


def _op(ctx: Context, tree: CdaTree, poll: int, index_: int | None) -> float:
    names = tree.land(poll)
    elapsed, snaps, error = timed_op(ctx, "poll", index_, lambda: _poll(tree, names))
    bad = [error] if error else _mismatches(tree, snaps)
    ctx.record(not bad, f"poll {poll}: " + "; ".join(bad[:3]))
    return elapsed


def run(ctx: Context, phases: Phases) -> None:
    root = os.path.join(ctx.work, "cda")
    ctx.info["index_workers"] = INDEX_WORKERS
    polls = max(MIN_POLLS, round(ctx.seconds / NOMINAL_OP_S / CYCLES))
    builds: list[float] = []
    latencies: list[float] = []
    first_setup_s = 0.0
    for cycle in range(CYCLES):
        # set-up of the cycle: a fresh tree, indexed cold, then warm-up polls
        with phases.part("build"):
            start = time.perf_counter()
            shutil.rmtree(root, ignore_errors=True)
            tree = CdaTree(root, ctx.seed)
            with ctx.tracer.op("cold_index", -1 - cycle):
                index(tree.manifest_path, tree.database_path, save_mode="overwrite", max_workers=INDEX_WORKERS)
            builds.append(time.perf_counter() - start)
        ctx.setup_probe.sample()
        with phases.excluded("check"):
            _check_all(ctx, tree, f"cycle {cycle}: cold index")
        with phases.part("warmup"):
            for poll in range(WARMUP_POLLS):
                _op(ctx, tree, poll, None)
        if cycle == 0:
            first_setup_s = phases.setup_s()
        for poll in range(WARMUP_POLLS, WARMUP_POLLS + polls):
            latencies.append(_op(ctx, tree, poll, len(latencies)))
        _check_all(ctx, tree, f"cycle {cycle}: final")
    ctx.info["build_s"] = builds
    ctx.info["tables"] = len(tree.tables)
    ctx.info["folders"] = sum(len(t.folders) for t in tree.tables.values())
    # the run's set-up, with the cold index at its median over the cycles
    timing_metrics(ctx, first_setup_s - builds[0] + statistics.median(builds), latencies)
