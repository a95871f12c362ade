"""How streaming state reaches disk: the crash-recoverable layer under
the sinks, the ingest loops and ``sources/partitioned.compact_partitioned``.

Crash contract. Two layouts, each correct under a crash at any point:

- **One table, replaced whole** (``replace_dir``): the sinks' keyed
  upsert and incremental aggregate tables, and every compaction. The
  new version is written to ``path + '._compact'``; then ``path`` is
  renamed to ``path + '._old'``, ``._compact`` is renamed to ``path``,
  the new version's ``_SUCCESS`` marker (written by the job committer)
  is checked, and only then is ``._old`` removed. Every read goes
  through ``recover`` first, which finishes or undoes an interrupted
  swap, so a crash costs deferred housekeeping, never state. A file
  written into the new version next to the data (the incremental
  aggregate's ``_applied_batch_id``) commits in the same rename.
- **Several tables that must agree** (``flip_current``): centroids and
  their postings, postings and their corpus stats, HLL registers. A
  re-fit writes a complete ``v{n+1}`` directory, then flips a one-line
  ``CURRENT`` pointer with an atomic ``os.replace``. A crash before the
  flip leaves ``v{n}`` live and ``v{n+1}`` an orphan ``gc_orphans``
  sweeps; there is no window in which the tables disagree.

Exactly-once comes from these plus the query's checkpointed offsets
(``start_foreach_batch``): a replayed micro-batch finds either the state
before it or the state after it, and each loop's replay guard (or an
idempotent merge) makes the second delivery leave what the first did.

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
    """Finish or undo a ``replace_dir`` swap interrupted by a crash.

    - ``._old`` present, ``path`` missing: the crash fell between the
      two renames; restore the original.
    - ``._old`` present, ``path`` present with ``_SUCCESS``: the swap
      was verified; only removing ``._old`` remains.
    - ``._old`` present, ``path`` present without ``_SUCCESS``: an
      unverified version landed; discard it and restore the original,
      the only verified copy.
    - a stale ``._compact`` is always discarded (the next swap rewrites
      it from live state).
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


def current_version(state_dir: str) -> int | None:
    cur = os.path.join(state_dir, CURRENT_FILE)
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return int(f.read().strip().lstrip("v"))


def version_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"v{version}")


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
    from an interrupted build/refit (pre-flip: the orphan is the new
    version; post-flip: the orphan is the superseded one)."""
    live = current_version(state_dir)
    if live is None:
        return
    for name in os.listdir(state_dir):
        if name.startswith("v") and name != f"v{live}":
            path = os.path.join(state_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
