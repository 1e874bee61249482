"""broadcast_queries=None auto-selection (VERDICT r2 item 4): a small
query side must plan as a BroadcastHashJoin; a huge synthetic query side
must NOT be force-broadcast (it shuffles; AQE may still convert at
runtime from real stats, which is the desired behavior at scale)."""

import warnings

import pytest
from pyspark.sql import functions as F

from spatialgraft import broadcast, datagen
from spatialgraft.broadcast import decide, threshold_bytes
from spatialgraft.extract import with_geometry
from spatialgraft.ops.range import range_join_count


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_query_side_broadcasts(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    boxes = datagen.query_boxes(spark, sf_smoke)
    plan = _plan(range_join_count(pts, boxes))  # default: auto
    assert "BroadcastHashJoin" in plan


def test_large_query_side_not_forced_broadcast(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    big = spark.range(500_000).selectExpr(
        "id AS box_id",
        "(id * 37) % 350000 AS xmin", "(id * 41) % 170000 AS ymin",
        "(id * 37) % 350000 + 500 AS xmax",
        "(id * 41) % 170000 + 500 AS ymax")
    # auto must NOT plant a broadcast hint on the 500k-box cover (the
    # driver-side build it would force); Catalyst/AQE remain free to
    # pick the physical join from real stats — e.g. at smoke scale the
    # POINTS side is the small one and broadcasting IT is correct
    analyzed = range_join_count(pts, big) \
        ._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    forced = range_join_count(pts, big, broadcast_queries=True) \
        ._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in forced


def test_decide_math(spark):
    thr = threshold_bytes(spark)
    assert thr > 0
    small = spark.range(10).selectExpr("id AS box_id")
    big = spark.range(2_000_000).selectExpr("id AS box_id")
    assert decide(small, None, fanout=64) is True
    assert decide(big, None, fanout=64) is False
    # explicit flags always win
    assert decide(big, True, fanout=64) is True
    assert decide(small, False, fanout=64) is False


class _SideWithoutPlan:
    """A query side whose py4j handle raises, as if the internal plan
    API changed shape."""

    def __init__(self, spark):
        self.sparkSession = spark

    @property
    def _jdf(self):
        raise AttributeError("no _jdf on this side")


def test_plan_size_fallback_warns_once(spark, monkeypatch):
    monkeypatch.setattr(broadcast, "_fallback_warned", False)
    side = _SideWithoutPlan(spark)
    with pytest.warns(RuntimeWarning,
                      match="AttributeError: no _jdf on this side"):
        assert decide(side, None, fanout=64) is False
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert decide(side, None, fanout=64) is False
