"""``dedup.bucket_pairs``, the one capped-bucket self-join: its output
columns and its eager pin, and that no other module counts bucket
members by hand. The cap itself is pinned by test_media_bucket_cap."""

from __future__ import annotations

import ast
import os

import flinkstreametl_spark
from flinkstreametl_spark.operators import dedup
from flinkstreametl_spark.operators.dedup import bucket_pairs


def _rows(spark):
    # bucket 0 holds docs 1-3, bucket 1 holds docs 4-5, bucket 2 only doc 6
    return spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20), (3, 0, 30), (4, 1, 40), (5, 1, 50), (6, 2, 60)],
        "doc_id LONG, bucket LONG, fp LONG",
    )


def test_pairs_each_bucket_once_with_sided_columns(spark):
    out = bucket_pairs(_rows(spark), "doc_id", ["bucket"], None)
    assert out.columns == ["bucket", "doc_a", "fp_a", "doc_b", "fp_b"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 1, 10, 2, 20),
        (0, 1, 10, 3, 30),
        (0, 2, 20, 3, 30),
        (1, 4, 40, 5, 50),
    ]


def test_capped_frame_is_pinned_eagerly(spark, monkeypatch):
    calls = []
    real = dedup.pin
    monkeypatch.setattr(dedup, "pin", lambda df, **kw: calls.append(kw) or real(df, **kw))
    bucket_pairs(_rows(spark), "doc_id", ["bucket"])
    assert calls == [{}], "the capped frame is not pinned exactly once, eagerly"


def test_only_dedup_caps_buckets():
    """The ``"_bn"`` bucket-count column of the cap lives only in
    ``operators/dedup.py``; every other module calls ``cap_buckets`` or
    ``bucket_pairs``."""
    pkg = os.path.dirname(flinkstreametl_spark.__file__)
    owner = os.path.join(pkg, "operators", "dedup.py")
    sites = []
    for root, _dirs, names in os.walk(pkg):
        for f in names:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            sites += [
                (os.path.relpath(path, pkg), n.lineno)
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and n.value == "_bn"
            ]
    assert sites == []
