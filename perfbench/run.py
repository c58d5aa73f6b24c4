"""The benchmark command.

    python3 perfbench/run.py --workload cda_sync|delta_merge|query_refresh \
        --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the workload's inputs from the
seed under ``.bench_work/``, runs it, checks every output, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``, the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0`` and its per-layer metrics with ``--trace 1``.  Lines
before it, starting with ``#``, record the run's environment and, in a
traced run, the per-layer table.  The full run record, and the spans of
a traced run, go to ``.bench_out/``.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    OUT_DIR,
    ROOT,
    WORK_DIR,
    Context,
    Phases,
    ambient_load,
    nproc,
    peak_rss_mb,
    spark_env,
)
from perfbench.trace import Tracer, layer_metrics  # noqa: E402

WORKLOADS = {
    "cda_sync": "perfbench.wl_cda",
    "delta_merge": "perfbench.wl_merge",
    "query_refresh": "perfbench.wl_query",
}
SPARK_WORKLOADS = {"delta_merge", "query_refresh"}


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _layer_table(values: dict[str, float]) -> list[str]:
    """The per-layer figures, one line per layer."""
    rows: dict[str, list[str]] = {}
    for name, value in values.items():
        layer, metric = name.split(".", 1)
        rows.setdefault(layer, []).append(f"{metric}={value:.4g}")
    return [f"# {layer:<15} " + " ".join(items) for layer, items in rows.items()]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    e2e_units, layer_units = _metric_units()
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "nproc": nproc(), **ambient_load()}
    work = os.path.join(WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(os.path.join(work, "eventlog") if args.trace else None)
    ctx = Context(args.seed, args.seconds, work, env["nproc"], tracer)
    if args.workload in SPARK_WORKLOADS:
        spark_env(work, ctx.cores)
    phases = Phases(STARTED)
    try:
        with phases.part("imports"):
            workload = importlib.import_module(WORKLOADS[args.workload])
        tracer.install()
        workload.run(ctx, phases)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)  # no result line: exit non-zero
        raise
    ctx.info["setup_parts"] = phases.parts
    py_mb = peak_rss_mb(os.getpid())
    jvm_mb = ctx.layer.get("proc.jvm_rss_mb", 0.0)
    ctx.layer["proc.py_rss_mb"] = py_mb
    ctx.metrics["peak_rss_mb"] = py_mb + jvm_mb

    if args.trace:
        values, units = layer_metrics(tracer, ctx.layer, ctx.cores), layer_units
    else:
        values, units = ctx.metrics, e2e_units
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    record = {
        **env,
        "trace": args.trace,
        "info": ctx.info,
        "errors": ctx.errors,
        "e2e": ctx.metrics,
        "metrics": metrics,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.write(os.path.join(OUT_DIR, stem + ".spans.jsonl"), {**record, "wrapped": tracer.installed})
    shutil.rmtree(work, ignore_errors=True)

    for error in ctx.errors:
        print(f"# failed: {error}", file=sys.stderr)
    print("# run " + json.dumps({**env, **{k: v for k, v in ctx.info.items() if k not in ("setup_parts", "op_ms", "op_probe_ms")}}))
    if args.trace:
        print("\n".join(_layer_table({k: v["value"] for k, v in metrics.items()})))
        print(
            f"# trace.overhead_frac={values['trace.overhead_frac']:.4f} "
            f"(traced vs untraced op p50, interleaved)  "
            f"uncovered share of op time={values['trace.uncovered_frac']:.4f}"
        )
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0 and ctx.attempted > 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
