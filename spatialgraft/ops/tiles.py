"""Raster <-> vector tile assignment at a fixed tile level.

vector->raster: each point gets its owning tile id (exact int64 floor).
raster->vector: each box/polygon gets the set of tiles it overlaps
(cover expansion) — the role of the reference's Hilbert `toRanges`
(reference sfcurve.scala:100-148) at a fixed resolution.  The
exact-match gate (BASELINE.md) is trivial to honor because assignment is
pure integer arithmetic shared with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config as C
from ..cells import cell_expr, cover_cells


def tile_expr(mx: str = "mx", my: str = "my") -> F.Column:
    return cell_expr(mx, my, C.TILE_TX, C.TILE_TY)


def assign_tiles_points(points: DataFrame) -> DataFrame:
    """vector->raster: (doc_key, tile)."""
    return points.select("doc_key", tile_expr().alias("tile"))


def tiles_for_boxes(boxes: DataFrame, id_col: str = "box_id") -> DataFrame:
    """raster->vector: one row per (id, overlapped tile) — the cell
    cover on the tile grid."""
    return (cover_cells(boxes, out="tile", cx=C.TILE_TX, cy=C.TILE_TY)
            .select(id_col, "tile"))


def tile_histogram(points: DataFrame) -> DataFrame:
    """Per-tile doc counts — the rollup feeding raster rendering."""
    return (points.select(tile_expr().alias("tile"))
            .groupBy("tile").agg(F.count("*").alias("cnt")))
