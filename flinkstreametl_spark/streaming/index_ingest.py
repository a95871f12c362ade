"""[EXT] Streaming inverted-index / BM25 maintenance: the sparse-
retrieval index (plans/retrieval_ext.py ``bm25_topk``) kept live under
a continuous document stream — completing the index-maintenance triad
(LSH band index: ``neardup_ingest.py``; IVF ANN: ``ann_ingest.py``;
inverted index: here).

A production search index never recomputes corpus statistics per
batch: new documents are tokenized and their (doc, term, tf, dl)
postings APPENDED, while the ranking statistics (per-term df, corpus
size N, total length S — the BM25 inputs) stay frozen at their last
fit. Ranking therefore drifts as the corpus grows — the exact analog
of the IVF centroid drift, measured in-query by
``plans/retrieval_ext.bm25_index_staleness_audit`` — until a stats
re-fit, triggered at a growth threshold (amortized O(1) per document).

Per micro-batch the job

    1. reads the live index version (``CURRENT`` pointer);
    2. anti-joins the batch against already-indexed doc_ids
       (at-least-once redelivery dedup; document text is immutable per
       doc_id by the corpus contract — a revision is a new doc_id);
    3. tokenizes survivors and appends their (doc_id, term, tf, dl)
       rows to the version's postings — the append is the COMMIT
       POINT: a crash before it replays the whole batch, a crash after
       it makes the replay a no-op;
    4. re-fits the stats snapshot when arrivals exceed the growth
       threshold, committed as one new version by
       ``streaming/versioned.commit_version``, which owns the crash
       story (the postings table is re-clustered by term in the same
       pass, restoring posting-list locality).

State lives in storage, not executor memory: postings are the parquet
table the posting-list join probes (hash-clustered by term on re-fit
so a query's terms prune files); stats are a vocabulary-sized parquet
plus a one-row totals parquet — both broadcast-sized by nature.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.operators import text as X
from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import (
    commit_version,
    current_version,
    live_path,
    live_version,
    recover,
    start_state_loop,
)

POSTINGS_SUBDIR = "postings"
DF_SUBDIR = "stats_df"
TOT_SUBDIR = "stats_tot"
META_FILE = "meta.json"

POSTINGS_SCHEMA = "doc_id LONG, term STRING, tf LONG, dl LONG"
DF_SCHEMA = "term STRING, df LONG"
TOT_SCHEMA = "s LONG, n LONG"

#: Re-fit stats when arrivals since the last fit exceed this fraction
#: of the fit-time corpus (same amortization argument as ann_ingest).
DEFAULT_REFIT_GROWTH = 0.5

_N_POSTING_FILES = 16


def postings_of(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl) rows for a batch of (doc_id, text) —
    one tokenize + one (doc, term) aggregate, the bm25_topk shape."""
    sized = docs.select(
        "doc_id",
        F.size(X.tokens("text")).cast("long").alias("dl"),
        F.explode(X.tokens("text")).alias("term"),
    )
    return sized.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )


def _stats_of(postings: DataFrame):
    """(df, totals) snapshot frames derived from a postings table."""
    dfq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = (
        postings.groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return dfq, tot


def _write_version(spark: SparkSession, postings: DataFrame, vdir: str) -> None:
    """Materialize a complete version directory (postings re-clustered
    by term + df + totals + meta): the ``commit_version`` callback."""
    postings.repartition(_N_POSTING_FILES, "term").write.mode("overwrite").parquet(
        os.path.join(vdir, POSTINGS_SUBDIR)
    )
    persisted = spark.read.schema(POSTINGS_SCHEMA).parquet(os.path.join(vdir, POSTINGS_SUBDIR))
    dfq, tot = _stats_of(persisted)
    dfq.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, DF_SUBDIR))
    tot.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, TOT_SUBDIR))
    # The totals row carries the fit-time doc count; read back what
    # actually landed for the meta snapshot.
    n = spark.read.schema(TOT_SCHEMA).parquet(os.path.join(vdir, TOT_SUBDIR)).collect()
    with open(os.path.join(vdir, META_FILE), "w") as f:
        json.dump({"fit_n": int(n[0].n) if n else 0}, f)


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Offline bootstrap: index the base corpus and commit it as v0
    (or the next version if the dir already holds one)."""
    postings = postings_of(docs.select("doc_id", "text"))
    commit_version(
        index_dir, current_version(index_dir), lambda vdir: _write_version(spark, postings, vdir)
    )


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(POSTINGS_SCHEMA).parquet(live_path(index_dir, POSTINGS_SUBDIR))


def load_stats(spark: SparkSession, index_dir: str):
    """The FROZEN ranking statistics (df, totals) of the live version —
    what makes the index stale as postings grow past them."""
    dfq = spark.read.schema(DF_SCHEMA).parquet(live_path(index_dir, DF_SUBDIR))
    tot = spark.read.schema(TOT_SCHEMA).parquet(live_path(index_dir, TOT_SUBDIR))
    return dfq, tot


def load_meta(index_dir: str) -> dict:
    with open(live_path(index_dir, META_FILE)) as f:
        return json.load(f)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    *,
    refit_growth: float | None = DEFAULT_REFIT_GROWTH,
) -> None:
    """One micro-batch of index maintenance: dedupe, tokenize, append
    postings (the commit point), re-fit stats past the growth
    threshold. Called from ``foreachBatch`` (or directly, for batch
    replay tests)."""
    recover(index_dir)
    batch_df = pin(batch_df.dropDuplicates(["doc_id"]))
    postings_path = live_path(index_dir, POSTINGS_SUBDIR)
    indexed = (
        spark.read.schema(POSTINGS_SCHEMA)
        .parquet(postings_path)
        .select("doc_id")
        .distinct()
    )
    fresh = batch_df.select("doc_id", "text").join(indexed, "doc_id", "left_anti")
    postings_of(fresh).write.mode("append").parquet(postings_path)  # commit point

    if refit_growth is not None:
        maybe_refit(spark, index_dir, growth=refit_growth)


def refit_stats(spark: SparkSession, index_dir: str) -> None:
    """Recompute df/totals over everything indexed so far and commit
    postings + fresh stats as the next version by ``commit_version``."""
    live = live_version(index_dir)
    postings = pin(load_postings(spark, index_dir))
    commit_version(index_dir, live, lambda vdir: _write_version(spark, postings, vdir))


def staleness(spark: SparkSession, index_dir: str) -> float:
    """Fraction of indexed documents appended since the live stats
    fit: (n_docs - fit_n) / fit_n. The refit trigger — one distinct
    count over the postings' doc_ids, never a corpus scan."""
    fit_n = load_meta(index_dir)["fit_n"]
    n = load_postings(spark, index_dir).select("doc_id").distinct().count()
    return (n - fit_n) / max(fit_n, 1)


def maybe_refit(
    spark: SparkSession, index_dir: str, *, growth: float = DEFAULT_REFIT_GROWTH
) -> bool:
    if staleness(spark, index_dir) >= growth:
        refit_stats(spark, index_dir)
        return True
    return False


def run_index_stream(
    spark: SparkSession,
    source_path: str,
    index_dir: str,
    *,
    refit_growth: float | None = DEFAULT_REFIT_GROWTH,
    available_now: bool = True,
):
    """Continuous index maintenance over a JSONL document stream
    (``{"doc_id": ..., "text": ...}``). ``available_now=True`` drains
    existing files and stops (test/batch replay); ``False`` runs
    continuously (production)."""
    return start_state_loop(
        spark,
        source_path,
        "doc_id LONG, text STRING",
        index_dir,
        lambda df, bid: process_batch(df.sparkSession, df, index_dir, refit_growth=refit_growth),
        available_now=available_now,
    )
