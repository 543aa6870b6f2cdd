"""Two traced runs at one seed report identical per-layer counts.

Runs the benchmark end to end (Spark) four times; takes several
minutes on a 4-core host."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from metrics import PER_LAYER

RUN = Path(__file__).resolve().parent.parent / "run.py"
ROOT = RUN.parent.parent


def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", "3",
         "--seconds", "6", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return res["metrics"]


@pytest.mark.parametrize("workload", ["kg_search", "stream_curate"])
def test_counts_repeat_exactly(workload):
    a, b = _traced(workload), _traced(workload)
    assert set(a) == set(PER_LAYER) == set(b)
    counts = [k for k, u in PER_LAYER.items() if u == "count"]
    assert {k: a[k]["value"] for k in counts} == \
        {k: b[k]["value"] for k in counts}
    # the layers each workload exists to exercise did work
    busy = {"kg_search": ["action.jobs_per_request",
                          "action.tasks_per_request"],
            "stream_curate": ["streaming.batches", "sinks.files_written",
                              "operators.decontaminated_rows"]}[workload]
    assert all(a[k]["value"] > 0 for k in busy)
