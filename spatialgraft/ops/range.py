"""Range query / spatial range join / range-aggregate join.

Spark-first realization of the reference's centerpiece joins
(`sjoin` reference/src/main/scala/cs/purdue/edu/spatialrdd/SpatialRdd.scala:264-284,
`rjoin` :298-322, `rangeFilter` :117-147):
query boxes are multicast to their covering grid cells, the points side
carries the same cell id, and Catalyst runs a hash equi-join on `cell`
followed by an exact int64 refine predicate (cells.cover_join) — the
dual-tree local join (RTree.scala:185-300) collapses into join+filter
with AQE handling skew at runtime.  Aggregation rides Catalyst's
partial+final hash agg (replacing the hand-rolled flush at
RTree.scala:315-356).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import (COVER_FANOUT, cell_expr, cover_cells, cover_join,
                     multicast)

CONTAINS = ("mx >= xmin AND mx <= xmax AND "
            "my >= ymin AND my <= ymax")

# None = auto: size-gate the multicast side against the session
# broadcast threshold (spatialgraft.broadcast.decide) — a huge query
# set shuffles instead of building a driver-side broadcast, with no
# flag knowledge required.  Explicit True/False still force.
_BROADCAST_DEFAULT: bool | None = None

# the cover fan-out under its older name, which benchmark/layers.py reads
BOX_COVER_FANOUT = COVER_FANOUT


def _joined(points: DataFrame, boxes: DataFrame,
            broadcast_queries: bool | None = _BROADCAST_DEFAULT,
            presence: set[int] | None = None,
            pred: str | None = None) -> DataFrame:
    """points (with mx,my) x boxes (milli bbox) -> matched pairs.

    `presence`: optional sFilter cell-presence set — multicast rows whose
    cell holds no data are dropped before the shuffle
    (spatialgraft.sfilter; exact version of the reference's sFilter
    pruning, SBQTree.scala:46-257).
    `pred`: optional extra data-side predicate — the reference's
    `z: Entry[V] => Boolean` argument on rangeFilter/sjoin
    (SpatialRdd.scala:117,264); applied before the join so it pushes
    into the scan."""
    if pred is not None:
        points = points.where(F.expr(pred) if isinstance(pred, str)
                              else pred)
    return cover_join(points, boxes, broadcast_queries, CONTAINS,
                      presence=presence)


def range_filter(points: DataFrame, xmin: int, ymin: int,
                 xmax: int, ymax: int) -> DataFrame:
    """Global range query (F1): plain pushed-down predicate.

    Partition pruning comes free once data is written partitioned/sorted
    by cell (reference prunes via the driver quadtree,
    SpatialRdd.scala:117-143)."""
    return points.where(
        (F.col("mx") >= xmin) & (F.col("mx") <= xmax) &
        (F.col("my") >= ymin) & (F.col("my") <= ymax))


def range_join(points: DataFrame, boxes: DataFrame,
               broadcast_queries: bool | None = _BROADCAST_DEFAULT,
               presence: set[int] | None = None,
               pred: str | None = None) -> DataFrame:
    """sjoin (J1): (box_id, doc_key) matched pairs.

    Pairs are unique by construction — a point belongs to exactly one
    cell and a box's cover lists each cell once — so no distinct shuffle
    is needed (the reference dedupes because its multicast can route one
    box to a partition several times, SpatialRdd.scala:264-284; our cell
    cover cannot)."""
    j = _joined(points, boxes, broadcast_queries, presence, pred)
    return j.select("box_id", "doc_key")


def range_join_count(points: DataFrame, boxes: DataFrame,
                     broadcast_queries: bool | None = _BROADCAST_DEFAULT,
                     presence: set[int] | None = None,
                     pred: str | None = None) -> DataFrame:
    """rjoin (J2) with count aggregate — the SpatialJoinApp query
    (reference examples/SpatialJoinApp.scala:81-96)."""
    # Within one box's cover, cells never overlap, so each (box, point)
    # pair appears exactly once: count needs no dedup.
    j = _joined(points, boxes, broadcast_queries, presence, pred)
    return j.groupBy("box_id").agg(F.count("*").alias("cnt"))


def spatio_textual_filter(points: DataFrame, xmin: int, ymin: int,
                          xmax: int, ymax: int, needle: str) -> DataFrame:
    """F5: range predicate AND text containment on the text span
    (reference README.md:57-67)."""
    return range_filter(points, xmin, ymin, xmax, ymax).where(
        F.lower(F.col("text")).contains(needle.lower()))


INTERSECTS = ("d_xmin <= xmax AND xmin <= d_xmax AND "
              "d_ymin <= ymax AND ymin <= d_ymax")


def intersects_join(dboxes: DataFrame, qboxes: DataFrame,
                    broadcast_queries: bool | None = _BROADCAST_DEFAULT
                    ) -> DataFrame:
    """F3: box-data x box-query intersects join -> (box_id, dbox_id).

    Border-inclusive interval overlap on both axes — the reference's
    Geom.intersects / RTree.searchIntersection semantics
    (reference Geom.scala:96-97, rtree/RTree.scala:803-810).  Both
    sides multicast to their covering cells and hash-join on cell; a
    pair overlapping several cells is emitted exactly once via the
    reference-point rule (only the cell owning the intersection's
    lower-left corner reports it), so no distinct shuffle is needed —
    the standard dedup-free partitioned spatial-join shape."""
    d = cover_cells(dboxes.selectExpr(
        "dbox_id", "xmin AS d_xmin", "ymin AS d_ymin",
        "xmax AS d_xmax", "ymax AS d_ymax"),
        xmin="d_xmin", ymin="d_ymin", xmax="d_xmax", ymax="d_ymax")
    q = multicast(qboxes, broadcast_queries)
    refpt_cell = cell_expr("greatest(d_xmin, xmin)",
                           "greatest(d_ymin, ymin)")
    return (d.join(q, on="cell", how="inner")
            .where(F.expr(INTERSECTS))
            .where(F.col("cell") == refpt_cell)
            .select("box_id", "dbox_id"))


def range_join_count_salted(points: DataFrame, boxes: DataFrame,
                            plan) -> DataFrame:
    """J8: skew-scheduled range join — the explicit analogue of the
    reference's joinScheduler (scheduler/joinScheduler.scala:102-167).

    Hot cells (from the exact cell histogram in `plan`) are split into
    `nsplits` salt slices: the data side hashes into one slice, the
    multicast query side replicates across all slices, and the join key
    becomes (cell, salt) — so no single reducer owns a whole hot cell
    even when AQE's probe-side splitting isn't enough.  The cover takes
    the usual broadcast gate, counting the hottest cell's replication.
    Results are identical to range_join_count (tested)."""
    j = cover_join(points, boxes, None, CONTAINS, plan=plan)
    return j.groupBy("box_id").agg(F.count("*").alias("cnt"))
