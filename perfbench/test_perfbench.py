"""Self-test of the benchmark at tiny sizes (two to three minutes on 4 cores).

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric BENCHMARK.json declares is emitted with its unit,
that a corrupted output counts as a failed operation, and that the
benchmark refuses to report from a directory without the library.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402

TINY = {"map_batch": {"docs": 60}, "er_batch": {"docs": 400}}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def spark():
    work_dir = os.path.join(HERE, ".work")
    s, _ = run.start_spark(work_dir)
    yield s
    run.stop_spark(s)
    shutil.rmtree(work_dir, ignore_errors=True)


def _measure(spark, name, trace, seconds=0.0):
    return run.measure(spark, name, 7, seconds, trace, TINY[name],
                       time.perf_counter())


def _assert_declared(result, declared):
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in declared)
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


def test_workloads_match_declaration():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(
        workloads.WORKLOADS)
    assert sorted(run.SIZES) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("name", sorted(TINY))
def test_emits_every_declared_metric(spark, name):
    result, header = _measure(spark, name, trace=False)
    assert result["correct"], header["failures"]
    assert result["attempted"] >= 2 and result["failed"] == 0
    _assert_declared(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())

    result, header = _measure(spark, name, trace=True)
    assert result["correct"], header["failures"]
    _assert_declared(result, SPEC["per_layer"])
    layers = [k for k in result["metrics"]
              if k.endswith(".jobs") and not k.startswith("spark.")]
    own = [k for k in layers if k in workloads.WORKLOADS[name].per_layer]
    # the workload's own layers ran; everyone else's read 0
    assert sum(result["metrics"][k]["value"] for k in own) > 0
    assert all(result["metrics"][k]["value"] == 0
               for k in layers if k not in own)


def test_dropped_cluster_row_is_a_failed_operation(spark, monkeypatch):
    real = workloads.resolve_entities

    def drop_one(spark_, docs, **kw):
        res = real(spark_, docs, **kw)
        victim = res["clusters"].orderBy("doc_id").limit(1)
        res["clusters"] = res["clusters"].join(victim, "doc_id", "left_anti")
        return res

    monkeypatch.setattr(workloads, "resolve_entities", drop_one)
    result, header = _measure(spark, "er_batch", trace=False)
    assert not result["correct"]
    assert result["failed"] == 1
    assert any("cluster rows" in f for f in header["failures"])


def test_refuses_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "er_batch", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
