"""Spread report: run one workload N times, one seed each, and print for
every metric its median, quartiles, IQR/median and the bound
``BENCHMARK.json`` gives it.

    python3 perfbench/spread.py --workload cda_sync --runs 10 [--first-seed 1] \
        [--trace 0|1] [--seconds S] [--against .bench_out/spread-cda_sync-trace0-a.json] [--tag a]

Run from the repository root.  The runs are sequential; each run's
result line and its environment (load, runnable processes, host-speed
samples) are kept in ``.bench_out/spread-<workload>-trace<t>-<tag>.json``.
With ``--against``, each metric's median is also compared with the
median of an earlier report: a metric is flagged when it is worse by
more than its bound.  ``IQR/median`` is
flagged when it exceeds a third of the bound.  ``setup_s`` has no
spread gate, only the median comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import OUT_DIR, ROOT, quartiles  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    env = next((json.loads(line[6:]) for line in lines if line.startswith("# run ")), {})
    return {"seed": seed, "result": result, "env": env}


def report(runs: list[dict], spec: dict, against: dict | None) -> list[str]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = list(runs[0]["result"]["metrics"])
    out = [f"{'metric':<44} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}  note"]
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = quartiles(values)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        note = []
        if bound is not None and name != "setup_s" and spread > bound / 3:
            note.append("SPREAD>bound/3")
        if against is not None and bound is not None and name in against:
            base = against[name]
            change = (med - base) / base if base else 0.0
            worse = change > bound if better[name] == "lower" else -change > bound
            note.append(f"vs {base:.4g}: {change:+.1%}{' WORSE>bound' if worse else ''}")
        out.append(f"{name:<44} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.3f} "
                   f"{'' if bound is None else bound:>6}  {' '.join(note)}")
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--runs", type=int, default=10)
    parser.add_argument("--first-seed", type=int, default=1)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--seconds", type=float)
    parser.add_argument("--tag", default="a")
    parser.add_argument("--against")
    args = parser.parse_args(argv)

    spec = _spec()
    seconds = args.seconds or spec["run_seconds"]
    against = None
    if args.against:
        with open(args.against, encoding="utf-8") as fh:
            against = json.load(fh)["medians"]

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        run = run_once(args.workload, seed, seconds, args.trace)
        runs.append(run)
        env = run["env"]
        print(f"# seed {seed}: correct={run['result']['correct']} attempted={run['result']['attempted']} "
              f"failed={run['result']['failed']} load_1min={env.get('load_1min')} "
              f"runnable_others={env.get('runnable_others')} setup_probe_ms={env.get('setup_probe_ms', 0):.3f} "
              f"window_probe_ms={env.get('window_probe_ms', 0):.3f}", flush=True)
    print(f"# {args.workload}: {len(runs)} runs of {seconds} s, trace {args.trace}, "
          f"nproc {runs[0]['env'].get('nproc')}")
    print("\n".join(report(runs, spec, against)))
    medians = {
        name: statistics.median(r["result"]["metrics"][name]["value"] for r in runs)
        for name in runs[0]["result"]["metrics"]
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"spread-{args.workload}-trace{args.trace}-{args.tag}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"workload": args.workload, "seconds": seconds, "runs": runs, "medians": medians}, fh, indent=1)
    print(f"# kept in {os.path.relpath(path, ROOT)}")
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
