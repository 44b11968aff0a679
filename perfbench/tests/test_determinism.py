"""Determinism self-test of the benchmark.

- The same seed gives byte-identical generated inputs; another seed
  gives different ones.
- Every count-type per-layer metric repeats exactly on the same seed.

Run from the root of the repository:

    python -m pytest perfbench/tests -q -p no:cacheprovider

The count test runs each workload twice, traced, through ``run.py``
(one round each, about five minutes on four cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: per-layer metrics that are counts of work, not times
COUNT_METRICS = (
    "session.jobs_per_op",
    "session.stages_per_op",
    "session.tasks_per_op",
    "catalog.load_table_calls_per_op",
    "versioned.files_per_commit",
    "versioned.chain_length",
    "versioned.compactions",
    "versioned.bytes_per_input_byte",
    "storage_bytes_per_input_byte",
    "medallion.months_per_refresh",
    "kv_sink.rows_per_publish",
    "curation.admitted_frac",
    "bloom.maybe_dup_frac",
    "bloom.false_positive_frac",
    "dedup.lsh_candidate_pairs",
    "dedup.lsh_precision",
    "similarity.ann_scored_per_query",
    "ann_recall_at_k",
)


def _inputs_digest(name: str, seed: int, root: str) -> dict[str, str]:
    wl = WORKLOADS[name](seed, root, Tracer())
    wl.generate()
    for j in range(3):
        if hasattr(wl, "_event_batch"):
            wl._event_batch(j)
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_inputs_depend_only_on_seed(name, tmp_path):
    a = _inputs_digest(name, 7, str(tmp_path / "a"))
    b = _inputs_digest(name, 7, str(tmp_path / "b"))
    c = _inputs_digest(name, 8, str(tmp_path / "c"))
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def _traced_counts(name: str, seed: int) -> dict[str, float]:
    """Count-type per-layer metrics of one traced run (one round of
    the workload, in its own process and Spark session, as the
    benchmark runs it)."""
    out = subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "run.py"),
            "--workload", name, "--seed", str(seed), "--seconds", "1", "--trace", "1",
        ],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert result["correct"], out.stderr[-3000:]
    return {k: v["value"] for k, v in result["metrics"].items() if k in COUNT_METRICS}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_count_metrics_repeat_on_same_seed(name):
    first = _traced_counts(name, 5)
    second = _traced_counts(name, 5)
    assert set(first) == set(COUNT_METRICS)
    assert first == second
