"""Tests of the benchmark itself.

    python3 -m pytest -p no:cacheprovider perfbench/test_perfbench.py
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from ocrd_odem_spark import gen, oracle  # noqa: E402


def spec_names(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[section]]


@pytest.mark.parametrize("workload", sorted(inputs.SIZES))
def test_seed_fixes_the_input_digest(workload, tmp_path):
    first = inputs.prepare(workload, 7, str(tmp_path / "a"))
    again = inputs.prepare(workload, 7, str(tmp_path / "b"))
    other = inputs.prepare(workload, 8, str(tmp_path / "a"))
    assert not first["cached"] and not again["cached"]
    assert first["digest"] == again["digest"]
    assert first["digest"] != other["digest"]
    assert inputs.prepare(workload, 7, str(tmp_path / "a"))["cached"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(HERE, "ledger.json")) as fh:
        ledger = json.load(fh)
    assert run.PER_LAYER == spec_names("per_layer")
    assert sorted(ledger["per_layer"]) == sorted(run.PER_LAYER)
    assert sorted(ledger["workloads"]) == sorted(spec_names("workloads"))
    assert sorted(workloads.WORKLOADS) == sorted(spec_names("workloads"))


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    """One short real run per mode: the result line carries exactly the
    metrics BENCHMARK.json names for that mode, each with its unit."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "extract-flagship",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0
    section = "per_layer" if trace else "end_to_end"
    assert list(result["metrics"]) == spec_names(section)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    assert all(v["unit"] == units[k] for k, v in result["metrics"].items())


def test_checker_rejects_one_dropped_span():
    docs = gen.make_corpus(5, 12)
    expected = {d["doc_id"]: oracle.extract_document_dehyphenated(d["spans"]) for d in docs}
    got = copy.deepcopy(expected)
    assert workloads.compare_docs(expected, got) == []
    victim = sorted(got)[3]
    del got[victim][len(got[victim]) // 2]
    problems = workloads.compare_docs(expected, got)
    assert len(problems) == 1 and victim in problems[0]
