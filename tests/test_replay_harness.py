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


def _calls(path: str) -> list[ast.Call]:
    with open(path) as fh:
        return [n for n in ast.walk(ast.parse(fh.read())) if isinstance(n, ast.Call)]


def _count_calls(calls: list[ast.Call], name: str) -> int:
    """Calls of ``name``: a dotted name (``os.rename``) must match the
    whole callee, a bare one (``mkdtemp``) any receiver's method."""
    return sum(
        isinstance(c.func, ast.Attribute)
        and (ast.unparse(c.func) == name if "." in name else c.func.attr == name)
        for c in calls
    )


def test_replay_sequence_is_written_once():
    calls = _calls(SP.__file__)

    def keyword_true(name: str) -> int:
        return sum(
            kw.arg == name and isinstance(kw.value, ast.Constant) and kw.value.value is True
            for c in calls
            for kw in c.keywords
        )

    assert _count_calls(calls, "mkdtemp") == 1, "one scratch-directory site (_replay)"
    assert keyword_true("availableNow") == 1, "one AvailableNow trigger (_drain)"
    assert _count_calls(calls, "awaitTermination") == 1, "one drain site (_drain)"


def _uses(path: str, name: str) -> bool:
    """``name`` is imported or called in ``path``, by any receiver."""
    with open(path) as fh:
        return any(
            isinstance(n, ast.ImportFrom)
            and any(a.name == name for a in n.names)
            or isinstance(n, ast.Call)
            and ast.unparse(n.func).rsplit(".", 1)[-1] == name
            for n in ast.walk(ast.parse(fh.read()))
        )


def _sets_option(calls: list[ast.Call], option: str) -> bool:
    return any(
        any(isinstance(a, ast.Constant) and a.value == option for a in c.args)
        or any(kw.arg == option for kw in c.keywords)
        for c in calls
    )


def test_state_reaches_disk_through_versioned_only():
    """Directory swaps, version commits, foreachBatch launches and the
    one-file-per-batch source option live in streaming/versioned.py;
    the replay harness's writers already go through its own ``_drain``."""
    pkg = os.path.dirname(os.path.dirname(SP.__file__))
    owner = os.path.join(pkg, "streaming", "versioned.py")
    exempt = {"foreachBatch": {SP.__file__}}
    files = [
        os.path.join(root, f) for root, _dirs, names in os.walk(pkg) for f in names if f.endswith(".py")
    ]
    calls = {path: _calls(path) for path in files}
    for name in ("os.rename", "shutil.move", "foreachBatch"):
        sites = {path for path in files if _count_calls(calls[path], name)}
        assert sites <= {owner} | exempt.get(name, set()), (name, sorted(sites))
    assert _count_calls(calls[owner], "foreachBatch") == 1, "one launcher (start_foreach_batch)"
    for name in ("flip_current", "gc_orphans"):
        sites = {path for path in files if _uses(path, name)}
        assert sites <= {owner}, (name, sorted(sites))
    sites = {path for path in files if _sets_option(calls[path], "maxFilesPerTrigger")}
    assert sites == {owner}, ("maxFilesPerTrigger", sorted(sites))
