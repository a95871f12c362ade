"""Smoke test of the benchmark itself, at the smallest size.

    python3 -m pytest perfbench/test_smoke.py -q

It checks that ``BENCHMARK.json`` matches the metric catalog, that every
workload prints every metric of its mode by name with its unit, and
that a corrupted sink table fails the output check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import catalog  # noqa: E402


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == catalog.benchmark_json()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(catalog.WORKLOADS))
def test_every_metric_prints_with_its_unit(workload, trace, tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    names = catalog.PER_LAYER if trace else catalog.END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == catalog.unit(name)
        assert isinstance(m["value"], float)
        if not trace:
            assert m["value"] > 0, name


def test_corrupted_sink_table_is_caught(tmp_path):
    """Drain a tiny backlog through the engine, then change one stored
    value: the check against the reference must fail the run."""
    import run

    run._environment(str(tmp_path / "work"))
    import canal
    import workload_cdc
    from harness import Bench

    bench = Bench("cdc_backlog", 7, 1, False, str(tmp_path / "work"), str(tmp_path / "trace"))
    try:
        sizes = workload_cdc.TINY
        inputs = workload_cdc.Inputs(bench)
        bench.set_up(workload_cdc.warm_drain(bench, inputs, sizes))
        envelopes = canal.backlog(bench.seed, sizes.backlog)
        chunks, _ = workload_cdc.write_backlog(bench.fresh_dir("backlog"), envelopes, sizes.file_envelopes,
                                               sizes.batch_files)
        expected = canal.reference(envelopes, inputs.dim)
        _, _, table, _ = workload_cdc.drain(bench, chunks, inputs.dim_path)

        assert canal.diff(canal.read_table(table), expected) == []
        part = next(os.path.join(table, f) for f in sorted(os.listdir(table)) if f.endswith(".parquet"))
        t = pq.read_table(part)
        codes = t.column("meeting_code").to_pylist()
        codes[0] = codes[0] + "-corrupt"
        i = t.schema.get_field_index("meeting_code")
        pq.write_table(t.set_column(i, "meeting_code", pa.array(codes, pa.string())), part)
        bench.check("corrupted table", canal.diff(canal.read_table(table), expected))
        assert bench.failed == 1
        assert bench.finish()["correct"] is False
    finally:
        bench.close()
