"""Grid-cell encoding and box cover — exact int64, JVM-side expressions.

Plays the role of the reference's space-filling-curve cell ids
(reference/src/main/scala/cs/purdue/edu/spatialindex/rtree/sfcurve.scala:28-148)
and of the query-multicast step that replicates each query box to every
overlapping partition (reference SpatialRdd.scala:377-397).  Everything is
a Catalyst column expression (whole-stage codegen, no UDF):

  cell_x = mx * CX div WORLD_MX      (exact integer floor)
  cell   = cell_x * CY + cell_y
  cover(box) = explode(x-range) x explode(y-range)
  cover_join  = with_cell(points) JOIN cover(queries) ON cell, then an
                exact refine — the one shape every multicast operator
                (range, intersects, PIP, skew-salted J8) runs
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config as C
from .broadcast import decide


def cell_expr(mx: str = "mx", my: str = "my",
              cx: int = C.CELL_CX, cy: int = C.CELL_CY) -> Column:
    return F.expr(f"(({mx} * {cx}) div {C.WORLD_MX}) * {cy} "
                  f"+ (({my} * {cy}) div {C.WORLD_MY})")


def with_cell(df: DataFrame, mx: str = "mx", my: str = "my",
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, cell_expr(mx, my))


# Morton bit widths derived from the grid config: smallest widths that
# hold cell_x in [0, CX) / cell_y in [0, CY).  zorder_expr and
# zorder_int share these, so a CELL_CX/CELL_CY change can never skew
# the JVM-side packing against the driver-side one.
CX_BITS = (C.CELL_CX - 1).bit_length()
CY_BITS = (C.CELL_CY - 1).bit_length()


def zorder_expr(mx: str = "mx", my: str = "my") -> Column:
    """Bit-interleaved (Morton) key for locality-preserving sorts.
    Bit layout is identical to zorder_int (x bits at odd positions,
    y at even) — asserted equal in tests/test_cells.py."""
    cx = f"(({mx} * {C.CELL_CX}) div {C.WORLD_MX})"
    cy = f"(({my} * {C.CELL_CY}) div {C.WORLD_MY})"
    # each term MUST be parenthesized: Spark SQL gives binary `+` HIGHER
    # precedence than `<<`, so `a << 1 + b << 0` parses as
    # `(a << (1 + b)) << 0` — the unparenthesized join silently produced
    # a non-Morton key (caught by tests/test_cells.py parity vs
    # zorder_int; harmless before only because zorder_expr drives sort
    # locality, never a join key)
    parts = []
    for i in range(CX_BITS):
        parts.append(f"(((({cx}) >> {i}) & 1) << {2 * i + 1})")
    for i in range(CY_BITS):
        parts.append(f"(((({cy}) >> {i}) & 1) << {2 * i})")
    return F.expr(" + ".join(parts))


def cover_cells(boxes: DataFrame,
                xmin: str = "xmin", ymin: str = "ymin",
                xmax: str = "xmax", ymax: str = "ymax",
                out: str = "cell",
                cx: int = C.CELL_CX, cy: int = C.CELL_CY) -> DataFrame:
    """One output row per (box, overlapped cell) — the multicast step.

    Cell ranges are computed with the same exact integer floor as point
    assignment (cell_expr on the same cx x cy grid), so a
    border-inclusive containment can never fall outside the cover.
    """
    cx0 = F.expr(f"({xmin} * {cx}) div {C.WORLD_MX}")
    cx1 = F.expr(f"({xmax} * {cx}) div {C.WORLD_MX}")
    cy0 = F.expr(f"({ymin} * {cy}) div {C.WORLD_MY}")
    cy1 = F.expr(f"({ymax} * {cy}) div {C.WORLD_MY}")
    return (boxes
            .withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
            .withColumn(out, F.col("_cx") * cy + F.col("_cy"))
            .drop("_cx", "_cy"))


# a query box covers <= ~64 cells at the join cell level: the fan-out
# the broadcast gate multiplies the query side's size estimate by
COVER_FANOUT = 64


def multicast(queries: DataFrame, flag: bool | None, plan=None,
              presence: set[int] | None = None) -> DataFrame:
    """The query side of a cover join: one row per (query, covered
    cell[, salt]), with a broadcast hint when `flag` says so (None =
    size-gate the query side x COVER_FANOUT x the plan's hottest split,
    spatialgraft.broadcast.decide — no job runs).

    `plan`: a SpatialPartitioning — each cover row is replicated per
    salt slice of its cell (partitioner.salt_cover).
    `presence`: an sFilter cell-presence set — cover rows whose cell
    holds no data are dropped before the shuffle (sfilter.prune_cover)."""
    from .partitioner import max_splits, salt_cover
    bc = decide(queries, flag, COVER_FANOUT * max_splits(plan))
    cover = cover_cells(queries)
    if presence is not None:
        from .sfilter import prune_cover
        cover = prune_cover(cover, presence)
    if plan is not None:
        cover = salt_cover(cover, plan)
    return F.broadcast(cover) if bc else cover


def cover_join(points: DataFrame, queries: DataFrame, flag: bool | None,
               refine: str, plan=None,
               presence: set[int] | None = None) -> DataFrame:
    """The engine's one multicast join: points (mx, my) carry their
    cell, each query multicasts to the cells its bbox (xmin..ymax)
    covers, the two hash-join on `cell` (on (cell, salt) with a skew
    `plan`), and the exact `refine` predicate keeps the true pairs.

    Pairs are unique by construction: a point belongs to one cell (and
    one salt slice), and a query's cover lists each (cell, salt) once."""
    pts = with_cell(points)
    keys = ["cell"]
    if plan is not None:
        from .partitioner import salt_points
        pts, keys = salt_points(pts, plan), ["cell", "salt"]
    cover = multicast(queries, flag, plan, presence)
    return pts.join(cover, on=keys, how="inner").where(F.expr(refine))


def zorder_int(cell: int, cx_bits: int = CX_BITS,
               cy_bits: int = CY_BITS) -> int:
    """Driver-side Morton key of a cell id (for partition packing)."""
    cxv, cyv = divmod(cell, C.CELL_CY)
    z = 0
    for i in range(cx_bits):
        z |= ((cxv >> i) & 1) << (2 * i + 1)
    for i in range(cy_bits):
        z |= ((cyv >> i) & 1) << (2 * i)
    return z
