"""Partitioned-layout tests: directory pruning shows up in the plan
(PartitionFilters), partitioned writes don't spray small files, and
compaction preserves content (docs/SCALE.md)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from flinkstreametl_spark.sources.parquet import load_table
from flinkstreametl_spark.sources.partitioned import compact_partitioned, write_partitioned


def _parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def test_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    """A filter on the partition column must appear as a PartitionFilter
    (directory pruning at planning time), not as a data filter, and the
    pruned scan must read only the matching partition's files."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])

    back = spark.read.parquet(path)
    langs = [r.lang for r in back.select("lang").distinct().collect()]
    assert len(langs) >= 2, "fixture must have multiple languages"
    pick = sorted(langs)[0]

    filtered = back.filter(F.col("lang") == pick)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan
    expected = docs.filter(F.col("lang") == pick).count()

    # pruning is behavioral, not cosmetic: delete every OTHER
    # partition's files — a pruned scan never opens them, so the
    # filtered query still succeeds and returns the same rows.
    other = sorted(langs)[1]
    for f in _parquet_files(os.path.join(path, f"lang={other}")):
        os.remove(f)
    assert filtered.count() == expected


def test_partitioned_write_bounded_files(spark, sf_dir, tmp_path):
    """write_partitioned(files_per_partition=1) must produce exactly one
    file per partition value — not #tasks × #values."""
    docs = load_table(spark, sf_dir, "documents")
    n_langs = docs.select("lang").distinct().count()
    path = str(tmp_path / "docs_tight")
    write_partitioned(docs, path, ["lang"])
    assert len(_parquet_files(path)) == n_langs


def test_compaction_preserves_content(spark, sf_dir, tmp_path):
    """Fragmented layout (simulated micro-batch appends) -> compaction
    cuts file count to one per partition value without changing data."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_frag")
    # spray: 8 tasks x each touching every lang
    docs.repartition(8).write.partitionBy("lang").parquet(path)
    n_langs = docs.select("lang").distinct().count()
    frag_files = len(_parquet_files(path))
    assert frag_files > n_langs

    before = sorted(
        tuple(r) for r in spark.read.parquet(path).select("doc_id", "lang", "n_chars").collect()
    )
    compact_partitioned(spark, path, ["lang"])
    assert len(_parquet_files(path)) == n_langs
    after = sorted(
        tuple(r) for r in spark.read.parquet(path).select("doc_id", "lang", "n_chars").collect()
    )
    assert before == after


def test_compaction_crash_after_original_parked_recovers(spark, sf_dir, tmp_path, torn_swap):
    """A crash after compaction has moved the original aside leaves the
    layout readable and complete on the next call."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_frag")
    docs.repartition(4).write.partitionBy("lang").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).select("doc_id", "lang").collect())

    with torn_swap(path):
        compact_partitioned(spark, path, ["lang"])
    compact_partitioned(spark, path, ["lang"])
    after = sorted(tuple(r) for r in spark.read.parquet(path).select("doc_id", "lang").collect())
    assert after == before
    assert sorted(os.listdir(tmp_path)) == ["docs_frag"]
