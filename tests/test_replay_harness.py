"""The stream-parity replay harness (plans/stream_parity_ext.py): a
failed replay leaves no scratch directory and no pinned conf behind,
and the replay sequence stays written once in the module."""

from __future__ import annotations

import ast
import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from flinkstreametl_spark.plans import stream_parity_ext as SP

_PARTITIONS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_failed_replay_removes_scratch_and_restores_confs(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = {k: spark.conf.get(k) for k in (_PARTITIONS, _PROVIDER)}
    seen = []

    def boom(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(_PARTITIONS))
        raise RuntimeError("boom")

    def body(tmp):
        src = os.path.join(tmp, "in")
        SP._write_chunks(spark.range(30).withColumnRenamed("id", "event_id"), src, ["event_id"])
        writer = SP._read(spark, src, "event_id LONG").writeStream.foreachBatch(boom)
        SP._drain(spark, tmp, writer, provider=SP._ROCKSDB_PROVIDER)
        return spark.range(1)

    with pytest.raises(StreamingQueryException):
        SP._replay(body)
    assert seen == [str(SP._STATE_PARTITIONS)], "the query did not start with the pinned partitions"
    assert os.listdir(tmp_path) == [], "the failed replay left its scratch directory behind"
    assert {k: spark.conf.get(k) for k in (_PARTITIONS, _PROVIDER)} == before


def test_replay_sequence_is_written_once():
    with open(SP.__file__) as fh:
        calls = [n for n in ast.walk(ast.parse(fh.read())) if isinstance(n, ast.Call)]

    def method_calls(name: str) -> int:
        return sum(isinstance(c.func, ast.Attribute) and c.func.attr == name for c in calls)

    def keyword_true(name: str) -> int:
        return sum(
            kw.arg == name and isinstance(kw.value, ast.Constant) and kw.value.value is True
            for c in calls
            for kw in c.keywords
        )

    assert method_calls("mkdtemp") == 1, "one scratch-directory site (_replay)"
    assert keyword_true("availableNow") == 1, "one AvailableNow trigger (_drain)"
    assert method_calls("awaitTermination") == 1, "one drain site (_drain)"
