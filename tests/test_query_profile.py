"""The per-query profiler, ``tools/query_profile.py``, at sf0.001: a
batch query with a Python boundary and a stream replay each report the
layers their work went to, and the status-store reader it uses stays
in ``perfbench/tracing.py``."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import query_profile  # noqa: E402


@pytest.fixture(scope="module")
def replay_profile(spark, sf_dir):
    """One profile of ``stream_dedup_replay``, read by both replay tests."""
    return query_profile.profile(spark, "stream_dedup_replay", sf_dir)


def test_batch_query_reports_action_jobs_and_python_nodes(spark, sf_dir):
    rec = query_profile.profile(spark, "knn_pandas_topk", sf_dir)
    assert rec["action_jobs"] >= 1
    assert rec["python"]["nodes"] >= 1
    assert rec["stage_totals"]["action"]["tasks"] >= 1


def test_replay_reports_its_micro_batches_as_construction(replay_profile):
    rec = replay_profile
    assert rec["streaming"]["batches"] >= 1
    assert rec["construct_jobs"] >= 1


@pytest.mark.parametrize("call", ["stageData(", "getJobIdsForTag(", "executionMetrics("])
def test_status_store_is_read_in_perfbench_only(call):
    """One status-store reader: these calls belong in
    ``perfbench/tracing.py``, which the profiler imports."""
    found = []
    for top in ("tools", "flinkstreametl_spark"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path) as fh:
                        if call in fh.read():
                            found.append(os.path.relpath(path, ROOT))
    assert found == []


def test_eager_pins_are_counted(spark, sf_dir):
    rec = query_profile.profile(spark, "hits_order_part_scores", sf_dir)
    assert rec["pin_jobs"] >= 1
    assert rec["stage_totals"]["pin"]["tasks"] >= 1


def test_replay_drain_jobs_are_counted(replay_profile):
    rec = replay_profile
    assert 1 <= rec["drain_jobs"] <= rec["construct_jobs"]
