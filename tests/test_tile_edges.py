"""Tile operators on inputs the synthetic tables never reach: points and
boxes on every world edge (mx = 0 / 359999, my = 0 / 179999),
zero-area boxes, a whole-world box and empty inputs, each checked
against pure-Python integer arithmetic on the tile grid."""

from collections import Counter

from spatialgraft import config as C
from spatialgraft.ops.tiles import (assign_tiles_points, tile_histogram,
                                    tiles_for_boxes)

MX, MY = C.WORLD_MX - 1, C.WORLD_MY - 1


def _tx(mx):
    return mx * C.TILE_TX // C.WORLD_MX


def _ty(my):
    return my * C.TILE_TY // C.WORLD_MY


def _tile(mx, my):
    return _tx(mx) * C.TILE_TY + _ty(my)


# every corner and edge midpoint, the points one milli inside them, the
# first and last milli of a few tiles, and a scatter; (0, 0) twice
POINTS = sorted(
    {(x, y) for x in (0, 1, 180_000, MX - 1, MX) for y in (0, 1, MY - 1, MY)}
    | {(C.WORLD_MX * i // C.TILE_TX + d, C.WORLD_MY * i // C.TILE_TY + d)
       for i in (1, 7, 511) for d in (-1, 0, 1)}
    | {((i * 2654435761) % C.WORLD_MX, (i * 2246822519) % C.WORLD_MY)
       for i in range(300)}) + [(0, 0)]

BOXES = [
    (0, 0, 0, 0, 0),                        # zero-area, on the corner
    (1, MX, MY, MX, MY),                    # zero-area, far corner
    (2, 123_456, 65_432, 123_456, 65_432),  # zero-area, inside
    (3, 0, 0, 1_000, MY),                   # strip on mx = 0
    (4, MX - 1_000, 0, MX, MY),             # strip on mx = 359999
    (5, 0, MY, MX, MY),                     # zero-height, the top edge
    (6, 100_000, 0, 100_000, 5_000),        # zero-width, on my = 0
    (7, 0, 0, MX, MY),                      # the whole world
]


def _points_df(spark, pts):
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "doc_key bigint, mx bigint, my bigint")


def _boxes_df(spark, boxes):
    return spark.createDataFrame(
        boxes, "box_id bigint, xmin bigint, ymin bigint, "
               "xmax bigint, ymax bigint")


def _box_tiles(boxes):
    return sorted((b, tx * C.TILE_TY + ty)
                  for b, x0, y0, x1, y1 in boxes
                  for tx in range(_tx(x0), _tx(x1) + 1)
                  for ty in range(_ty(y0), _ty(y1) + 1))


def test_assign_tiles_points_edges(spark):
    got = assign_tiles_points(_points_df(spark, POINTS)).collect()
    assert sorted((r["doc_key"], r["tile"]) for r in got) == [
        (i, _tile(x, y)) for i, (x, y) in enumerate(POINTS)]
    assert {r["tile"] for r in got} >= {0, C.TILE_TX * C.TILE_TY - 1}


def test_tiles_for_boxes_edges(spark):
    # the whole-world box alone is TILE_TX * TILE_TY rows: compare
    # through Arrow
    t = tiles_for_boxes(_boxes_df(spark, BOXES)).toArrow()
    got = sorted(zip(t.column("box_id").to_pylist(),
                     t.column("tile").to_pylist()))
    want = _box_tiles(BOXES)
    assert sum(1 for b, _ in want if b == 7) == C.TILE_TX * C.TILE_TY
    assert got == want


def test_tile_histogram_edges(spark):
    got = {r["tile"]: r["cnt"]
           for r in tile_histogram(_points_df(spark, POINTS)).collect()}
    assert got == dict(Counter(_tile(x, y) for x, y in POINTS))
    assert got[0] >= 2


def test_tile_ops_empty_inputs(spark):
    pts = _points_df(spark, POINTS).limit(0)
    assert assign_tiles_points(pts).collect() == []
    assert tile_histogram(pts).collect() == []
    assert tiles_for_boxes(_boxes_df(spark, BOXES).limit(0)).collect() == []
