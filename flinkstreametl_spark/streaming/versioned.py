"""How streaming state reaches disk: the crash-recoverable layer under
the sinks, the ingest loops and ``sources/partitioned.compact_partitioned``.

Crash contract. Two layouts, each correct under a crash at any point:

- **One table, replaced whole** (``replace_dir``): the sinks' keyed
  upsert and incremental aggregate tables, and every compaction
  (``compact_parquet``). The new version is written to
  ``path + '._compact'``; then ``path`` is renamed to ``path + '._old'``,
  ``._compact`` is renamed to ``path``, the new version's ``_SUCCESS``
  marker (written by the job committer) is checked, and only then is
  ``._old`` removed. A file written into the new version next to the
  data (the incremental aggregate's ``_applied_batch_id``) commits in
  the same rename.
- **Several tables that must agree** (``commit_version``): centroids and
  their postings, postings and their corpus stats, HLL registers. Each
  version is a complete ``v{n}`` directory behind a one-line ``CURRENT``
  pointer; the first commit is ``v0``. The writer reads the live version
  once, computes from it, and hands that version to ``commit_version``
  with a ``write(vdir)`` callback. The commit clears a stale ``v{n+1}``
  left by a crashed attempt, writes ``v{n+1}``, flips ``CURRENT`` with an
  atomic ``os.replace`` (the commit point) and sweeps every other
  version. A crash before the flip leaves ``v{n}`` live and ``v{n+1}``
  an orphan; there is no window in which the tables disagree. Readers
  find the live version through ``live_version``/``live_path``, which
  raise ``FileNotFoundError`` before the first commit.

Every writer starts from ``recover``, which finishes or undoes whatever
an interrupted commit left in either layout, so a crash costs deferred
housekeeping, never state.

Loop launch (``start_state_loop``): every on-disk state loop reads its
JSONL source one file per micro-batch (``file_stream``) and runs its
``process_batch`` under ``foreachBatch`` with offsets checkpointed at
``state_dir/_checkpoint`` (``start_foreach_batch``). Exactly-once comes
from these plus the commits above: a replayed micro-batch finds either
the state before it or the state after it, and each loop's replay guard
(or an idempotent merge) makes the second delivery leave what the first
did.

Single writer: the swaps are plain filesystem calls with no lock, and
rely on Structured Streaming running one micro-batch at a time per
checkpoint. At cluster scale the swap and the pointer become a
transactional table format's commit; the read and compute shapes are
unchanged by that.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CURRENT_FILE = "CURRENT"


def recover(path: str) -> None:
    """Finish or undo a commit interrupted by a crash.

    A ``replace_dir`` swap:

    - ``._old`` present, ``path`` missing: the crash fell between the
      two renames; restore the original.
    - ``._old`` present, ``path`` present with ``_SUCCESS``: the swap
      was verified; only removing ``._old`` remains.
    - ``._old`` present, ``path`` present without ``_SUCCESS``: an
      unverified version landed; discard it and restore the original,
      the only verified copy.
    - a stale ``._compact`` is always discarded (the next swap rewrites
      it from live state).

    A ``commit_version`` under ``path``: versions other than ``CURRENT``
    are swept (``gc_orphans``).
    """
    tmp, old = path + "._compact", path + "._old"
    if os.path.isdir(old):
        if os.path.isdir(path) and os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(old)
        else:
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.rename(old, path)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    gc_orphans(path)


def replace_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``path`` with what ``write(tmp)`` writes,
    by the swap in the module docstring. ``write`` may read ``path``:
    it runs after ``recover`` and before the original is moved."""
    recover(path)
    tmp, old = path + "._compact", path + "._old"
    write(tmp)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # Keep ._old: recover restores it on the next read.
        raise RuntimeError(f"new version of {path} has no _SUCCESS; original kept at ._old")
    if os.path.isdir(old):
        shutil.rmtree(old)


def read_or_empty(spark: SparkSession, path: str, schema: str | StructType) -> DataFrame:
    """The parquet table at ``path`` read with ``schema``, or an empty
    frame of that schema when nothing has been written there yet."""
    recover(path)
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def compact_parquet(
    spark: SparkSession, path: str, schema, n_files: int, cluster_col: str | None = None
) -> None:
    """Rewrite an append-only parquet directory into ``n_files`` files
    (hash-clustered on ``cluster_col`` when given, so a join on that
    column keeps its pruning on the compacted layout) by ``replace_dir``."""
    recover(path)
    if not os.path.isdir(path):
        return
    df = spark.read.schema(schema).parquet(path)
    cols = [cluster_col] if cluster_col is not None else []
    replace_dir(path, lambda tmp: df.repartition(n_files, *cols).write.parquet(tmp))


def start_foreach_batch(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Start ``stream`` into ``process(batch_df, batch_id)`` with its
    offsets checkpointed at ``checkpoint_dir``. ``available_now=True``
    drains the files present and stops (tests, batch replay); ``False``
    runs continuously on the default trigger (production). Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def file_stream(spark: SparkSession, path: str, schema: str, fmt: str) -> DataFrame:
    """Stream the files under ``path``, one file per micro-batch.
    ``maxFilesPerTrigger`` is a SOURCE option: set on the writer it is
    silently ignored and the directory drains as ONE batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).format(fmt).load(path)


def start_state_loop(
    spark: SparkSession,
    source_path: str,
    schema: str,
    state_dir: str,
    process: Callable[[DataFrame, int], None],
    *,
    available_now: bool = True,
):
    """Run ``process(batch_df, batch_id)`` over the JSONL files under
    ``source_path`` (read with ``schema``), one file per micro-batch,
    with offsets checkpointed at ``state_dir/_checkpoint``. Returns the
    StreamingQuery."""
    return start_foreach_batch(
        file_stream(spark, source_path, schema, "json"),
        process,
        os.path.join(state_dir, "_checkpoint"),
        available_now=available_now,
    )


def current_version(state_dir: str) -> int | None:
    """The version ``CURRENT`` points at, or None before the first commit."""
    cur = os.path.join(state_dir, CURRENT_FILE)
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return int(f.read().strip().lstrip("v"))


def live_version(state_dir: str) -> int:
    """The version ``CURRENT`` points at; ``FileNotFoundError`` before
    the first commit."""
    version = current_version(state_dir)
    if version is None:
        raise FileNotFoundError(f"no committed version at {state_dir} (missing {CURRENT_FILE})")
    return version


def version_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"v{version}")


def live_path(state_dir: str, *parts: str) -> str:
    """``parts`` joined under the live version's directory."""
    return os.path.join(version_dir(state_dir, live_version(state_dir)), *parts)


def commit_version(state_dir: str, live: int | None, write: Callable[[str], None]) -> int:
    """Commit what ``write(vdir)`` writes as the version after ``live``
    (``v0`` when ``live`` is None), by the flip in the module docstring.
    ``live`` is the version the caller read its inputs from. Returns the
    new version."""
    version = 0 if live is None else live + 1
    vdir = version_dir(state_dir, version)
    if os.path.isdir(vdir):  # stale orphan of a crashed commit
        shutil.rmtree(vdir)
    os.makedirs(state_dir, exist_ok=True)
    write(vdir)
    flip_current(state_dir, version)
    gc_orphans(state_dir)
    return version


def flip_current(state_dir: str, version: int) -> None:
    """Atomically point CURRENT at ``v{version}`` (write-temp +
    os.replace — POSIX rename atomicity; readers see old or new,
    never a torn pointer)."""
    cur = os.path.join(state_dir, CURRENT_FILE)
    tmp = cur + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"v{version}\n")
    os.replace(tmp, cur)


def gc_orphans(state_dir: str) -> None:
    """Remove version directories other than CURRENT — crash leftovers
    from an interrupted commit (pre-flip: the orphan is the new
    version; post-flip: the orphan is the superseded one)."""
    live = current_version(state_dir)
    if live is None:
        return
    for name in os.listdir(state_dir):
        if name.startswith("v") and name != f"v{live}":
            path = os.path.join(state_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
