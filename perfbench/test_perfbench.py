"""The benchmark's own tests: declared metrics, a tiny end-to-end run of
every workload in both modes, and the refusal to run without the program.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.trace import Tracer, busy_s  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_match_the_harness():
    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["crawl-rounds", "dedup-queries"]


def test_busy_s_merges_overlapping_jobs_and_clips_to_the_window():
    jobs = {0: {"start": 1.0, "end": 3.0}, 1: {"start": 2.0, "end": 4.0},
            2: {"start": 6.0, "end": 7.0}, 3: {"start": 9.0, "end": 12.0}}
    assert busy_s(jobs, 0.0, 10.0) == 5.0  # [1, 4] + [6, 7] + [9, 10]


def test_query_inputs_are_a_seeded_sample_of_the_shipped_tables(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.workloads import DATA_DIR, sample_tables

    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        sample_tables(str(tmp_path / d), seed, 50)
    for name, key, col in (("documents", "doc_id", "text"), ("embeddings", "vec_id", "label")):
        full = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet")).to_pandas()
        a, b, c = (pq.read_table(tmp_path / d / f"{name}.parquet").to_pandas() for d in "abc")
        assert len(a) == 50 and a.equals(b) and not a.equals(c)
        assert a[key].is_unique
        # every sampled row is a row of the shipped table, unchanged
        assert full.set_index(key).loc[a[key], col].tolist() == a[col].tolist()


def test_a_name_the_program_lost_is_skipped_not_fatal():
    class Context:
        def statusTracker(self):
            return None

    class Session:
        sparkContext = Context()

    tracer = Tracer(Session())
    tracer.wrap(types.SimpleNamespace(), "run_round", "engine.run_round")
    assert tracer.missing == ["engine.run_round"] and tracer.spans == []


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["crawl-rounds", "dedup-queries"])
def test_tiny_run_prints_declared_metrics(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "crawl-rounds", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
