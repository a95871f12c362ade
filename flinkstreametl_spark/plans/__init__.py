"""Named query registry. Importing this package registers every query
module; ``__spark_entry__.py``, the tests, and ``bench.py`` all consume
the same registry.

The driver checks the first ``WINDOW`` registry entries against the
DuckDB oracle each round and commits the verdicts as
``CORRECTNESS_r{N}.json`` at the repo root. Import orders the registry
from those artifacts with ``driver_window``, so a new artifact rotates
the window the next time the package is imported."""

from __future__ import annotations

import json
import re
from collections.abc import Mapping, Sequence
from pathlib import Path

from flinkstreametl_spark.plans.registry import REGISTRY, QuerySpec, oracle_sql_map, queries_map

# Import for registration side effects.
from flinkstreametl_spark.plans import reference as _reference  # noqa: E402,F401
from flinkstreametl_spark.plans import analytics as _analytics  # noqa: E402,F401
from flinkstreametl_spark.plans import analytics_ext as _analytics_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import llm as _llm  # noqa: E402,F401
from flinkstreametl_spark.plans import tpch_ext as _tpch_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import pipeline_ext as _pipeline_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import coverage_ext as _coverage_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import corpus_ext as _corpus_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import ml_ext as _ml_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import ingest_ext as _ingest_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import warehouse_ext as _warehouse_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import quality_ext as _quality_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import timeseries_ext as _timeseries_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import graph_ext as _graph_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import orderstats_ext as _orderstats_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import dedup_audit_ext as _dedup_audit_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import retrieval_ext as _retrieval_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import ann_ext as _ann_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import eval_ext as _eval_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import sketch_ext as _sketch_ext  # noqa: E402,F401
from flinkstreametl_spark.plans import stream_parity_ext as _stream_parity_ext  # noqa: E402,F401

WINDOW = 50
REPO_ROOT = Path(__file__).resolve().parents[2]

# Names whose plan changed after their latest verdict -> the round the
# change landed in. An entry is due while the name's latest verdict is
# older than that round; delete it once the driver has checked it.
_RECHECK: dict[str, int] = {
    # all 13 replays moved onto the one harness in stream_parity_ext
    "stream_stream_join_replay": 16,
    "stream_dedup_replay": 16,
    "stream_window_agg_replay": 16,
    "stream_cdc_upsert_replay": 16,
    "stream_session_window_replay": 16,
    "stream_custom_state_replay": 16,
    "stream_outer_join_replay": 16,
    "stream_hll_maintenance_replay": 16,
    "stream_bloom_dedup_replay": 16,
    "stream_dead_letter_replay": 16,
    "stream_state_metrics_replay": 16,
    "stream_state_memory_replay": 16,
    "stream_state_rocksdb_replay": 16,
    # candidates from dedup.bucket_pairs: renamed join columns, eager media pins
    "simhash_near_pairs": 16,
    "dedup_method_agreement": 16,
    "image_phash_neardup": 16,
    "audio_fingerprint_neardup": 16,
    "video_fingerprint_neardup": 16,
    "fuzzy_dup_parts": 16,
    # one PageRank kernel: the weighted and seeded paths share the plain build
    "pagerank_weighted_copurchase": 16,
    "personalized_pagerank_copurchase": 16,
    # one Lloyd kernel: the cluster column is element 0 of the codes array
    "kmeans_cluster_sizes": 16,
    # one media crossing: synth, decode and features in one MapInPandas
    "audio_features_wav": 16,
    "video_frame_sample": 16,
}


def load_verdicts(root: Path = REPO_ROOT) -> dict[int, list[str]]:
    """``{round: checked names in artifact order}`` from the
    ``CORRECTNESS_r{N}.json`` files in ``root``. A file whose name or
    content is not a driver artifact raises instead of being skipped."""
    verdicts: dict[int, list[str]] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        data = json.loads(path.read_text())
        if m is None or not isinstance(data, dict) or not all(isinstance(v, dict) for v in data.values()):
            raise ValueError(f"malformed driver artifact: {path}")
        verdicts[int(m.group(1))] = list(data)
    return verdicts


def driver_window(
    names: Sequence[str], verdicts: Mapping[int, list[str]], recheck: Mapping[str, int]
) -> list[str]:
    """Order ``names`` for the driver; the first ``WINDOW`` are checked next.

    1. never-checked names, in the order given;
    2. ``recheck`` names whose latest verdict round is older than the
       round their plan changed in;
    3. every other name.

    Tiers 2 and 3 put the oldest evidence first: they sort by
    ``(latest verdict round, position in that round's artifact)``.
    """
    latest: dict[str, tuple[int, int]] = {}
    for rnd in sorted(verdicts):
        for pos, name in enumerate(verdicts[rnd]):
            latest[name] = (rnd, pos)
    never = [n for n in names if n not in latest]
    checked = sorted((n for n in names if n in latest), key=latest.__getitem__)
    due = {n for n in checked if latest[n][0] < recheck.get(n, 0)}
    return [*never, *(n for n in checked if n in due), *(n for n in checked if n not in due)]


def _reorder() -> None:
    # Only oracle-backed names may sit in the driver window; rows-only go last.
    oracle = [n for n, s in REGISTRY.items() if s.oracle is not None]
    rows_only = [n for n, s in REGISTRY.items() if s.oracle is None]
    order = (*driver_window(oracle, load_verdicts(), _RECHECK), *rows_only)
    ordered = {n: REGISTRY[n] for n in order}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "QuerySpec", "queries_map", "oracle_sql_map", "WINDOW", "driver_window", "load_verdicts"]
