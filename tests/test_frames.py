"""``frames.materialize`` pins a frame; ``frames.scope`` gives the pin a
lifetime: released on exit, errors included, handed on by ``keep``, one
stack per driver thread."""

from __future__ import annotations

import threading

import pytest
from py4j.protocol import Py4JJavaError

from jamie_spark import frames


def _frame(spark):
    return spark.range(20).selectExpr("id", "id % 3 AS k").groupBy("k").count()


def test_scope_releases_on_exit_and_on_error(spark, pinned_rdds):
    assert pinned_rdds() == 0
    with frames.scope():
        df = frames.materialize(_frame(spark))
        assert pinned_rdds() == 1
        assert df.count() == 3
    assert pinned_rdds() == 0
    # a released frame fails loudly instead of recomputing
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()
    with pytest.raises(RuntimeError, match="boom"):
        with frames.scope():
            frames.materialize(_frame(spark))
            raise RuntimeError("boom")
    assert pinned_rdds() == 0


def test_keep_hands_a_result_to_the_enclosing_scope(spark, pinned_rdds):
    assert pinned_rdds() == 0
    with frames.scope():
        with frames.scope() as inner:
            frames.materialize(_frame(spark))
            kept = inner.keep(frames.materialize(_frame(spark)))
        assert pinned_rdds() == 1
        assert sorted(r["k"] for r in kept.collect()) == [0, 1, 2]
        with frames.scope() as inner:
            with pytest.raises(ValueError):
                inner.keep(kept.where("k > 0"))
    assert pinned_rdds() == 0


def test_outside_any_scope_a_pin_is_not_released(spark, pinned_rdds):
    assert pinned_rdds() == 0
    with frames.scope() as s:
        kept = s.keep(frames.materialize(_frame(spark)))
    loose = frames.materialize(_frame(spark))
    assert pinned_rdds() == 2
    assert kept.count() == loose.count() == 3


def test_scopes_are_per_thread(spark, pinned_rdds):
    """A scope open on one thread does not take another thread's pins:
    parallel lineage buckets each release their own."""
    assert pinned_rdds() == 0
    held = []
    with frames.scope():
        t = threading.Thread(
            target=lambda: held.append(frames.materialize(_frame(spark)))
        )
        t.start()
        t.join()
    assert pinned_rdds() == 1
    with frames.scope(*held):
        pass
    assert pinned_rdds() == 0
