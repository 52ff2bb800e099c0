"""Self-test of the benchmark (run from the repository root):

    python -m pytest perfbench/ -q

Tiny-size runs of every workload, untraced and traced, must print every
metric by name with its unit and pass every correctness check; a planted
wrong expectation must be counted as a failed operation; and the run must
refuse to report anything from a directory without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

WORKLOADS = ("ingest", "query")


def run(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "2",
         "--size", "tiny", *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


def printed(stdout: str) -> dict[str, str]:
    """metric name -> unit, from the report lines above the JSON line."""
    out = {}
    for line in stdout.splitlines()[:-1]:
        parts = line.split()
        if len(parts) >= 3 and not line.startswith("#"):
            name = parts[1] if parts[0] == "traced" else parts[0]
            out[name] = parts[3] if parts[0] == "traced" else parts[2]
    return out


def test_generator_is_seeded(tmp_path):
    src = gen.lineitem_table(np.random.default_rng([1, 2]), 0.002)
    digests, expects = [], []
    for seed in (5, 5, 6):
        path = tmp_path / f"drop{seed}-{len(digests)}.csv"
        exp = gen.write_drop(str(path), src, 0, 300, np.random.default_rng(seed), 20)
        digests.append(path.read_bytes())
        expects.append((exp.rows_read, exp.rows_loaded, exp.rows_rejected,
                        exp.rows_quarantined))
    assert digests[0] == digests[1] and expects[0] == expects[1]
    assert digests[0] != digests[2]
    read, loaded, rejected, quarantined = expects[0]
    assert read == loaded + rejected + quarantined + 6  # 6 older re-deliveries
    c1, c2 = gen.build_corpus(4, 400, 0.5), gen.build_corpus(4, 400, 0.5)
    assert c1.texts == c2.texts and c1.planted == c2.planted and c1.planted


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ("0", "1"))
def test_tiny_run_reports_every_metric(workload, trace):
    from workloads import E2E, LAYERS

    p = run(ROOT, "--workload", workload, "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    table = LAYERS if trace == "1" else E2E
    assert set(res["metrics"]) == set(table)
    for name, m in res["metrics"].items():
        assert m["unit"] == table[name][0]
        assert isinstance(m["value"], float) and np.isfinite(m["value"])
    lines = printed(p.stdout)
    for name in E2E:
        assert lines[name] == E2E[name][0], name
    if trace == "1":
        for name in LAYERS:
            assert lines[name] == LAYERS[name][0], name
        spans = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-s3.jsonl")
        with open(spans) as f:
            first = json.loads(f.readline())
        assert {"name", "start", "end", "parent", "run_id", "counters"} <= set(first)
    else:
        for name in E2E:
            assert res["metrics"][name]["value"] > 0, name


def test_wrong_expectation_counts_as_failed():
    p = run(ROOT, "--workload", "ingest", "--trace", "0", "--corrupt-expected")
    assert p.returncode != 0
    res = json.loads(p.stdout.splitlines()[-1])
    assert not res["correct"] and res["failed"] >= 1
    assert res["metrics"]["ok_frac"]["value"] < 1.0
    assert "FAILED: drop 0" in p.stderr


def test_without_the_engine_nothing_is_reported(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(str(tmp_path), "--workload", "ingest")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_benchmark_json_matches_the_metric_tables():
    from workloads import E2E, LAYERS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]} == E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == LAYERS
