"""``session.pin``, the one way the engine pins a frame: a local
checkpoint whose jobs, eager or lazy, run under the job tag ``pin``,
and no other module checkpoints."""

from __future__ import annotations

import ast
import os

import flinkstreametl_spark
from flinkstreametl_spark.session import pin


def _frame(spark):
    return spark.range(40).selectExpr("id", "id % 7 AS k").groupBy("k").count()


def _checkpoint_rdd(df):
    """The RDD behind a pinned frame's ``LogicalRDD``."""
    return df._jdf.queryExecution().logical().rdd()


def _tagged(spark, tag: str) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_eager_pin_is_a_local_checkpoint_tagged_pin(spark):
    before = _tagged(spark, "pin")
    pinned = pin(_frame(spark))
    rdd = _checkpoint_rdd(pinned)
    assert rdd.isLocallyCheckpointed()
    assert rdd.getCheckpointFile().isEmpty(), "a local pin wrote a checkpoint file"
    assert _tagged(spark, "pin") - before, "the eager pin ran no job tagged pin"
    assert "pin" not in spark.sparkContext.getJobTags()
    assert sorted(pinned.collect()) == sorted(_frame(spark).collect())


def test_lazy_pin_runs_no_pin_job(spark):
    before = _tagged(spark, "pin")
    pinned = pin(spark.range(10), eager=False)
    assert pinned.count() == 10
    assert _checkpoint_rdd(pinned).isLocallyCheckpointed()
    assert _tagged(spark, "pin") == before


def test_lazy_pin_tags_its_construction_jobs(spark):
    """Under adaptive execution a lazy pin runs the shuffle stages below
    it during the pin call; those jobs carry ``pin``."""
    before = _tagged(spark, "pin")
    pinned = pin(_frame(spark), eager=False)
    assert _tagged(spark, "pin") - before, "the lazy pin's construction jobs are not tagged pin"
    assert "pin" not in spark.sparkContext.getJobTags()
    assert sorted(pinned.collect()) == sorted(_frame(spark).collect())


def test_pin_of_a_pin_is_the_pin(spark):
    """A frame that is already pinned, or a select of all its columns,
    comes back unchanged: no job tagged pin, the same checkpointed RDD."""
    pinned = pin(_frame(spark))
    before = _tagged(spark, "pin")
    again = pin(pinned)
    same_cols = pin(pinned.select(*pinned.columns))
    assert _tagged(spark, "pin") == before
    assert again is pinned
    assert same_cols.columns == pinned.columns
    optimized = same_cols._jdf.queryExecution().optimizedPlan()
    assert optimized.rdd().id() == _checkpoint_rdd(pinned).id()


def test_eager_pin_of_a_lazy_pin_computes_it(spark):
    """An eager pin of a lazy pin that nothing has computed yet runs
    one ``pin`` job, the checkpoint's, and hands back the same frame."""
    lazy = pin(_frame(spark), eager=False)
    assert not _checkpoint_rdd(lazy).isCheckpointed()
    before = _tagged(spark, "pin")
    eager = pin(lazy)
    assert len(_tagged(spark, "pin") - before) == 1
    assert eager is lazy
    assert _checkpoint_rdd(lazy).isCheckpointed()
    assert sorted(eager.collect()) == sorted(_frame(spark).collect())


def test_pin_of_a_created_frame_still_pins(spark):
    """``createDataFrame`` frames optimize to a ``LogicalRDD`` too, but
    their RDD is not checkpointed, so pinning one runs a pin job."""
    created = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    before = _tagged(spark, "pin")
    pinned = pin(created)
    assert _tagged(spark, "pin") - before, "pinning a created frame ran no job tagged pin"
    assert _checkpoint_rdd(pinned).isLocallyCheckpointed()


def test_only_session_checkpoints():
    """Every ``.localCheckpoint(``/``.checkpoint(`` call of the package
    is in ``session.py``; the rest pin through ``session.pin``."""
    pkg = os.path.dirname(flinkstreametl_spark.__file__)
    owner = os.path.join(pkg, "session.py")
    sites = []
    for root, _dirs, names in os.walk(pkg):
        for f in names:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            sites += [
                (os.path.relpath(path, pkg), n.lineno)
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("localCheckpoint", "checkpoint")
                and path != owner
            ]
    assert sites == []
