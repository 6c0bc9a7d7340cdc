"""The benchmark's own self-check: inputs come from the seed alone, and the
counts a traced run reports repeat exactly for a seed.

    python -m pytest perfbench -q      # from the repository root; ~8 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# counts that depend on the seed alone, never on timing
EXACT = ("filters.groups_skipped", "filters.groups_all", "filters.groups_open",
         "filters.useful_rows_share", "encode.spark_jobs", "decode.spark_jobs",
         "manifest.rows", "manifest.runs", "compact.groups_in",
         "compact.groups_out")
EXACT_DETAIL = ("kernels.raw_share", "layers.stored_enc_bytes",
                "layers.raw_bytes", "filters.verdicts")


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (inputs.make_table(300, s) for s in (7, 7, 8))
    assert a.equals(b)
    assert not a.equals(c)
    assert inputs.digest(a, a.column_names) != inputs.digest(c, c.column_names)


def test_digest_ignores_row_order_but_not_values():
    t = inputs.make_table(200, 3)
    cols = t.column_names
    assert inputs.digest(t, cols) == inputs.digest(t.take(list(range(199, -1, -1))), cols)
    assert inputs.digest(t, cols) != inputs.digest(t.slice(1), cols)


def _traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    context, result = [json.loads(line) for line in out.stdout.splitlines()[-2:]]
    assert result["correct"] and result["failed"] == 0
    return context["context"], {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat_for_a_seed(workload):
    (ctx1, m1), (ctx2, m2) = _traced_run(workload, 5), _traced_run(workload, 5)
    assert {k: m1[k] for k in EXACT} == {k: m2[k] for k in EXACT}
    assert ({k: ctx1["detail"][k] for k in EXACT_DETAIL}
            == {k: ctx2["detail"][k] for k in EXACT_DETAIL})
