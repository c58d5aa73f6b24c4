"""The per-layer counts that must repeat exactly.

A traced run of a workload makes a fixed number of ops, and every seed
gives the same shape of work, so these counts must be identical across
two runs of one seed and across two seeds; a held-out seed then measures
the same work.  Each workload runs three times, traced, for a short
window.  Run from the repository root (about six minutes):

    python3 -m pytest perfbench/test_exact_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXACT = {
    "cda_sync": [
        "manifest.read_calls",
        "fs.list_calls",
        "fs.entries_listed",
        "fs.entries_listed_per_new_folder",
        "schema.infer_calls",
        "schema.footers_read",
        "indexer.batches_committed",
        "deltalog.commits",
        "deltalog.commit_retries",
        "deltalog.log_bytes_per_commit",
        "log_checkpoint.writes",
        "log_checkpoint.state_reads",
        "snapshot.loads",
        "snapshot.json_commits_replayed",
        "trace.spans",
    ],
    "delta_merge": [
        "fs.entries_listed",
        "deltalog.commits",
        "deltalog.commit_retries",
        "log_checkpoint.writes",
        "log_checkpoint.state_reads",
        "snapshot.loads",
        "snapshot.json_commits_replayed",
        "writer.files_added",
        "writer.files_removed",
        "writer.jobs_per_merge",
        "spark.jobs_per_op",
    ],
    "query_refresh": [
        "operators.construct_jobs",
        "spark.jobs_per_op",
    ],
}
# Short windows: the op count follows from the seconds, not the host.
SECONDS = {"cda_sync": 2, "delta_merge": 4, "query_refresh": 4}


def _traced(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS[workload]), "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    return {name: m["value"] for name, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_counts_repeat_across_runs_and_seeds(workload):
    first, again, other = _traced(workload, 1), _traced(workload, 1), _traced(workload, 2)
    for name in EXACT[workload]:
        assert first[name] == again[name] == other[name], (name, first[name], again[name], other[name])
        assert first[name] > 0 or name.endswith("retries"), (name, "the workload must exercise it")
