"""KeyedParquetUpsertSink merge semantics, checked batch by batch
against a pure-Python model of MySQL REPLACE INTO
(``SinkToMySQL.java:35``): the newest row per key in the batch decides,
a batch row replaces the stored row whatever their ``_es``, and a
DELETE tombstone removes the key.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from flinkstreametl_spark.streaming import versioned
from flinkstreametl_spark.streaming.sinks import IncrementalAggSink, KeyedParquetUpsertSink

SCHEMA = "k INT, v STRING, _es LONG, _ts LONG, _op STRING"
KEY, ORDER = ["k"], ["_es", "_ts"]


def replace_into(table: dict, batch: list[tuple], columns: list[str]) -> dict:
    """The model: last-write-wins by (_es, _ts) within the batch, then
    each winner replaces its key, or removes it unless its ``_op`` is
    present and not DELETE (SQL's ``_op != 'DELETE'`` is not true for a
    NULL ``_op``)."""
    rows = [dict(zip(columns, r)) for r in batch]
    latest: dict = {}
    for r in rows:
        k = r["k"]
        if k not in latest or (r["_es"], r["_ts"]) > (latest[k]["_es"], latest[k]["_ts"]):
            latest[k] = r
    out = dict(table)
    for k, r in latest.items():
        if "_op" in r and (r["_op"] is None or r["_op"] == "DELETE"):
            out.pop(k, None)
        else:
            out[k] = tuple(r[c] for c in columns)
    return out


def _apply(spark, sink, model, batch, batch_id, schema=SCHEMA):
    df = spark.createDataFrame(batch, schema)
    sink.process_batch(df, batch_id)
    model = replace_into(model, batch, df.columns)
    got = sink.read(spark).select(*df.columns).collect()
    assert sorted(map(tuple, got)) == sorted(model.values())
    return model


def test_merge_matches_replace_into_model(spark, tmp_path):
    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), KEY, ORDER)
    seed = [
        (1, "a0", 100, 1, "INSERT"),
        (2, "b0", 100, 1, "INSERT"),
        (3, "c0", 100, 1, "INSERT"),
        (4, "d0", 5, 1, "INSERT"),
        (6, "f0", 1, 1, "INSERT"),
    ]
    model = _apply(spark, sink, {}, seed, 0)
    batch = [
        (1, "a1", 50, 1, "UPDATE"),  # stored _es is newer: the batch still wins
        (2, "b1", 200, 1, "DELETE"),  # DELETE of a stored key
        (3, "c1", 200, 1, "DELETE"),  # DELETE, then re-INSERT, in one batch
        (3, "c2", 201, 1, "INSERT"),
        (9, "z1", 1, 1, "DELETE"),  # DELETE of an absent key
        (4, "d1", 10, 1, None),  # NULL _op: row withheld, stored key removed
        (5, "e1", 1, 1, "INSERT"),  # in-batch last-write-wins, ts breaks the es tie
        (5, "e2", 1, 2, "UPDATE"),
    ]
    model = _apply(spark, sink, model, batch, 1)
    assert model == {
        1: (1, "a1", 50, 1, "UPDATE"),
        3: (3, "c2", 201, 1, "INSERT"),
        5: (5, "e2", 1, 2, "UPDATE"),
        6: (6, "f0", 1, 1, "INSERT"),
    }

    # A replayed batch id (a micro-batch retried after a crash) leaves
    # the table as the first delivery left it.
    before = sorted(map(tuple, sink.read(spark).collect()))
    _apply(spark, sink, model, batch, 1)
    assert sorted(map(tuple, sink.read(spark).collect())) == before


def test_merge_without_op_column_upserts_everything(spark, tmp_path):
    schema = "k INT, v STRING, _es LONG, _ts LONG"
    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), KEY, ORDER)
    model = _apply(spark, sink, {}, [(1, "a0", 10, 1), (2, "b0", 10, 1)], 0, schema)
    model = _apply(spark, sink, model, [(1, "a1", 1, 1), (1, "a2", 2, 1), (3, "c1", 1, 1)], 1, schema)
    assert model == {1: (1, "a2", 2, 1), 2: (2, "b0", 10, 1), 3: (3, "c1", 1, 1)}


def test_replay_after_torn_swap_matches_replace_into_model(spark, tmp_path, torn_swap):
    """A crash between the swap's renames parks the stored table; the
    replayed batch must merge into it, not into an empty table."""
    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), KEY, ORDER)
    model = _apply(spark, sink, {}, [(1, "a0", 1, 1, "INSERT"), (2, "b0", 1, 1, "INSERT")], 0)
    batch = [(3, "c0", 1, 1, "INSERT")]
    with torn_swap(sink.path):
        sink.process_batch(spark.createDataFrame(batch, SCHEMA), 1)
    model = _apply(spark, sink, model, batch, 1)
    assert set(model) == {1, 2, 3}


def test_read_after_commit_runs_no_spark_job(spark, tmp_path):
    """After a commit the sink knows its table's schema, so a read is
    planned without a parquet-footer inference job."""
    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), KEY, ORDER)
    _apply(spark, sink, {}, [(1, "a0", 1, 1, "INSERT")], 0)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = sc.statusTracker().getJobIdsForGroup(None)
    stored = sink.read(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(None) == before
    assert stored.schema.simpleString() == spark.createDataFrame([], SCHEMA).schema.simpleString()


def test_table_written_elsewhere_is_inferred(spark, tmp_path):
    """A table this sink has not written (another writer, or a
    restart) is read with its footer schema."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a0", 1, 1, "INSERT")], SCHEMA).write.parquet(path)
    sink = KeyedParquetUpsertSink(path, KEY, ORDER)
    model = {1: (1, "a0", 1, 1, "INSERT")}
    model = _apply(spark, sink, model, [(2, "b0", 1, 1, "INSERT")], 0)
    assert set(model) == {1, 2}


def test_batch_with_an_extra_column_still_fails(spark, tmp_path):
    sink = KeyedParquetUpsertSink(str(tmp_path / "t"), KEY, ORDER)
    _apply(spark, sink, {}, [(1, "a0", 1, 1, "INSERT")], 0)
    wide = spark.createDataFrame([(2, "b0", 1, 1, "INSERT", 7)], SCHEMA + ", extra INT")
    with pytest.raises(AnalysisException):
        sink.process_batch(wide, 1)


def test_commit_that_raises_after_the_swap_forgets_the_schema(spark, tmp_path, monkeypatch):
    """A commit can raise after its new table is live (here, removing
    the parked original fails). The aggregate's ``total`` is bigint in
    the first commit and double after, so a sink that kept the first
    schema could not read the table the failed commit left."""
    sink = IncrementalAggSink(str(tmp_path / "mv"), ["k"], "v")

    def batch(rows):
        return spark.createDataFrame(rows, "k STRING, v BIGINT")

    sink.process_batch(batch([("a", 1)]), 0)
    real = versioned.shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if os.fspath(path).endswith("._old"):
            raise RuntimeError("crash after the swap")
        real(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(versioned.shutil, "rmtree", rmtree)
        with pytest.raises(RuntimeError, match="crash after the swap"):
            sink.process_batch(batch([("a", 2)]), 1)
    sink.process_batch(batch([("b", 5)]), 2)
    got = sorted((r.k, r.n, r.total) for r in sink.read(spark).collect())
    assert got == [("a", 2, 3.0), ("b", 1, 5.0)]
