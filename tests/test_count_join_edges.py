"""Count joins on inputs the synthetic tables never reach: empty sides,
zero-area boxes and polygons sitting exactly on a point, and boxes and
polygons touching every world edge (mx = 0, mx = 359999, my = 0,
my = 179999).  Each case is checked against a pure-Python brute force,
with the query side both broadcast and shuffled; the skew-salted range
join (J8) also on a plan that really splits a hot cell."""

import pytest

from spatialgraft.ops.pip import pip_join_concave_count, pip_join_count
from spatialgraft.ops.range import range_join_count, range_join_count_salted
from spatialgraft.partitioner import max_splits, plan_partitions

MX, MY = 359_999, 179_999
SPOT = (123_456, 65_432)


def _mirror_x(vs):
    return [(MX - x, y) for x, y in reversed(vs)]


def _mirror_y(vs):
    return [(x, MY - y) for x, y in reversed(vs)]


def _rotate(vs):
    return [(MX - x, MY - y) for x, y in vs]


# convex CCW hexagons: one edge on mx = 0 / my = 0, one vertex on the
# corner, and their mirror images on the opposite edges
_LEFT = [(0, 80_000), (5_000, 75_000), (10_000, 80_000),
         (10_000, 100_000), (5_000, 105_000), (0, 100_000)]
_BOTTOM = [(100_000, 5_000), (105_000, 0), (115_000, 0),
           (120_000, 5_000), (115_000, 10_000), (105_000, 10_000)]
_CORNER = [(0, 0), (3_000, 0), (6_000, 2_000), (6_000, 6_000),
           (2_000, 6_000), (0, 3_000)]
HEXAGONS = [_LEFT, _mirror_x(_LEFT), _BOTTOM, _mirror_y(_BOTTOM),
            _CORNER, _rotate(_CORNER), [SPOT] * 6]

# concave CCW "U" shapes on the lower-left and upper-right corners, a
# notched polygon whose notch floor lies on my = 179999, and zero-area
# polygons: a point and a segment on mx = 0
_U = [(0, 0), (10_000, 0), (10_000, 10_000), (7_000, 10_000),
      (7_000, 3_000), (3_000, 3_000), (3_000, 10_000), (0, 10_000)]
_NOTCH = [(200_000, 170_000), (220_000, 170_000), (220_000, MY),
          (212_000, MY), (210_000, 175_000), (208_000, MY),
          (200_000, MY)]
CONCAVE = [_U, _rotate(_U), _NOTCH, _mirror_x(_NOTCH), _LEFT, [SPOT],
           [(0, 50_000), (0, 60_000)]]

BOXES = [
    (0, *SPOT, *SPOT),                      # zero-area, on two points
    (1, 0, 0, 5_000, MY),                   # strip on mx = 0
    (2, 0, 80_000, 0, 100_000),             # zero-width, on mx = 0
    (3, 355_000, 50_000, MX, MY),           # on mx = 359999 and top
    (4, 100_000, 0, 200_000, 0),            # zero-height, on my = 0
    (5, 0, MY, MX, MY),                     # the whole top edge
    (6, MX, 0, MX, 0),                      # the lower-right corner
    (7, 0, 0, MX, MY),                      # the whole world
    (8, 1, 1, 1, 1),                        # zero-area, on no point
]


def _points():
    """Scattered points, every vertex and edge midpoint of every
    polygon, points on all four edges and corners, and the SPOT point
    twice with two neighbours one milli away."""
    pts = {((i * 2654435761 + 5) % 360_000, (i * 2246822519 + 11) % 180_000)
           for i in range(400)}
    for vs in HEXAGONS + CONCAVE:
        for i, (x1, y1) in enumerate(vs):
            x2, y2 = vs[(i + 1) % len(vs)]
            pts |= {(x1, y1), ((x1 + x2) // 2, (y1 + y2) // 2),
                    (x1 + 1, y1), (x1, y1 - 1)}
    for t in range(0, 180_000, 7_919):
        pts |= {(0, t), (MX, t), (t * 2, 0), (t * 2, MY)}
    pts |= {(0, 0), (MX, 0), (0, MY), (MX, MY),
            (SPOT[0] + 1, SPOT[1]), (SPOT[0], SPOT[1] - 1)}
    pts = sorted((x, y) for x, y in pts if 0 <= x <= MX and 0 <= y <= MY)
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    return rows + [(len(rows), *SPOT)]


def _on_segment(px, py, x1, y1, x2, y2):
    return ((x2 - x1) * (py - y1) == (px - x1) * (y2 - y1)
            and min(x1, x2) <= px <= max(x1, x2)
            and min(y1, y2) <= py <= max(y1, y2))


def _inside(px, py, vs):
    """Border-inclusive containment by winding number."""
    edges = [(vs[i], vs[(i + 1) % len(vs)]) for i in range(len(vs))]
    if any(_on_segment(px, py, *a, *b) for a, b in edges):
        return True
    wn = 0
    for (x1, y1), (x2, y2) in edges:
        side = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        if y1 <= py < y2 and side > 0:
            wn += 1
        elif y2 <= py < y1 and side < 0:
            wn -= 1
    return wn != 0


def _brute_counts(points, queries, contains):
    counts = {}
    for qid, q in queries:
        n = sum(contains(mx, my, q) for _, mx, my in points)
        if n:
            counts[qid] = n
    return counts


def _in_box(mx, my, box):
    xmin, ymin, xmax, ymax = box
    return xmin <= mx <= xmax and ymin <= my <= ymax


def _bbox(vs):
    xs, ys = [x for x, _ in vs], [y for _, y in vs]
    return min(xs), min(ys), max(xs), max(ys)


def _points_df(spark, rows):
    return spark.createDataFrame(rows, "doc_key bigint, mx bigint, my bigint")


def _boxes_df(spark, boxes):
    return spark.createDataFrame(
        boxes, "box_id bigint, xmin bigint, ymin bigint, "
               "xmax bigint, ymax bigint")


def _hexagons_df(spark, polys):
    cols = ", ".join(f"vx{i} bigint, vy{i} bigint" for i in range(6))
    rows = [(pid, *[c for v in vs for c in v], *_bbox(vs))
            for pid, vs in enumerate(polys)]
    return spark.createDataFrame(
        rows, f"poly_id bigint, {cols}, xmin bigint, ymin bigint, "
              "xmax bigint, ymax bigint")


def _concave_df(spark, polys):
    rows = [(pid, [x for x, _ in vs], [y for _, y in vs], *_bbox(vs))
            for pid, vs in enumerate(polys)]
    return spark.createDataFrame(
        rows, "poly_id bigint, vxs array<bigint>, vys array<bigint>, "
              "xmin bigint, ymin bigint, xmax bigint, ymax bigint")


def _counts(df, key):
    return {r[key]: r["cnt"] for r in df.collect()}


def _check(op, pts, queries, key, want):
    for bc in (True, False):
        assert _counts(op(pts, queries, bc), key) == want, f"broadcast={bc}"


def test_range_join_count_edges(spark):
    rows = _points()
    want = _brute_counts(rows, [(b[0], b[1:]) for b in BOXES], _in_box)
    assert want[0] == 2 and 8 not in want and want[7] == len(rows)
    _check(range_join_count, _points_df(spark, rows),
           _boxes_df(spark, BOXES), "box_id", want)


@pytest.mark.parametrize("op, to_df, polys", [
    (pip_join_count, _hexagons_df, HEXAGONS),
    (pip_join_concave_count, _concave_df, CONCAVE),
], ids=["convex", "concave"])
def test_pip_join_count_edges(spark, op, to_df, polys):
    rows = _points()
    want = _brute_counts(rows, list(enumerate(polys)), _inside)
    spot = next(i for i, vs in enumerate(polys) if set(vs) == {SPOT})
    assert want[spot] == 2
    _check(op, _points_df(spark, rows), to_df(spark, polys), "poly_id",
           want)


@pytest.mark.parametrize("op, queries", [
    (range_join_count, lambda s: _boxes_df(s, BOXES)),
    (pip_join_count, lambda s: _hexagons_df(s, HEXAGONS)),
    (pip_join_concave_count, lambda s: _concave_df(s, CONCAVE)),
], ids=["range", "convex", "concave"])
def test_empty_sides(spark, op, queries):
    pts = _points_df(spark, _points())
    qs = queries(spark)
    for p, q in ((pts.limit(0), qs), (pts, qs.limit(0))):
        for bc in (True, False):
            got = op(p, q, bc)
            assert got.collect() == []
            assert got.columns[-1] == "cnt"


# 600 points in SPOT's join cell (mx 122344..123749, my 64688..66093),
# enough to make it hot against the scattered fixture
_HOT = [(122_344 + (i * 37) % 1_406, 64_688 + (i * 53) % 1_406)
        for i in range(600)]
# crosses the hot cell's lower-left border
_HOT_BOX = (9, 123_000, 65_000, 130_000, 70_000)


def test_range_join_count_salted_edges(spark):
    """J8 against the brute force: the edge fixture plus a hot cell,
    the hot cell's points alone (every point in one cell), and each
    side empty, all on one plan whose hot cell splits."""
    rows = _points()
    rows += [(len(rows) + i, x, y) for i, (x, y) in enumerate(_HOT)]
    pts = _points_df(spark, rows)
    plan = plan_partitions(pts)
    assert max_splits(plan) > 1, "fixture: no cell was salted"
    boxes = BOXES + [_HOT_BOX]
    qs = _boxes_df(spark, boxes)
    hot = rows[-len(_HOT):]
    wants = [(side, _brute_counts(side, [(b[0], b[1:]) for b in boxes],
                                  _in_box)) for side in (rows, hot)]
    assert all(want[9] > 0 for _, want in wants)
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    try:
        # the cover broadcast, then shuffled (broadcasting switched off)
        for thr in (default, "-1"):
            spark.conf.set(key, thr)
            for side, want in wants:
                got = range_join_count_salted(_points_df(spark, side), qs,
                                              plan)
                assert _counts(got, "box_id") == want, f"threshold={thr}"
            for p, q in ((pts.limit(0), qs), (pts, qs.limit(0))):
                got = range_join_count_salted(p, q, plan)
                assert got.collect() == []
                assert got.columns[-1] == "cnt"
    finally:
        spark.conf.set(key, default)
