"""Self-test of the benchmark's output schema (no timing assertions).

Runs every workload at the tiny input scale, traced, and the gated ones
untraced too, and checks the last stdout line against BENCHMARK.json:
metric names, units, and an error rate of zero. Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "0.5",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_schema(workload):
    summary, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, summary
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert summary["error_rate"] == {"value": 0.0, "unit": "1"}


LAYER_ONLY = {
    "pit_backfill": ["sessionize.s", "window_agg.native.s", "last_join.s",
                     "last_join.match_frac", "ffill.s", "checkpoint.write_s",
                     "checkpoint.bytes_written", "checkpoint.files"],
    "kernel_windows": ["window_agg.kernel.s", "window_agg.kernel.python_s",
                       "window_agg.kernel.arrow_bytes_in",
                       "window_agg.kernel.arrow_bytes_out",
                       "window_agg.kernel.tasks",
                       "window_agg.kernel.max_task_s",
                       "window_agg.kernel.median_task_s"],
    "corpus_curation": ["line_dedup.s", "line_dedup.lines_removed",
                        "gopher_quality.s", "gopher_quality.rejected",
                        "exact_dedup.s", "minhash_lsh_pairs.s",
                        "minhash_lsh_pairs.candidates",
                        "ngram_jaccard_pairs.s",
                        "ngram_jaccard_pairs.verified",
                        "dedup.candidate_precision", "dedup_components.s",
                        "contamination_scores.s", "pack_chunks.s"],
}


@pytest.mark.parametrize("workload", sorted(LAYER_ONLY))
def test_traced_schema(workload):
    summary, result = _run(workload, 1)
    assert result["correct"] is True and result["failed"] == 0, summary
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    layers = summary["layers"]
    for name in LAYER_ONLY[workload]:
        assert name in layers, name
    for other, names in LAYER_ONLY.items():
        if other != workload:
            assert not set(names) & set(layers), other
    assert os.path.exists(os.path.join(ROOT, summary["trace_file"]))
