"""One-pass exact kNN join (J5/J6/J7 + W1/J9/F6): bound, probe, rank.

Re-design of the reference's two-round kNN join
(reference/src/main/scala/cs/purdue/edu/spatialrdd/impl/knnJoinRDD.scala:45-242)
as pure DataFrame operations.  The reference learns each query's kth
distance from a first local join, then re-joins the queries whose kth
circle crossed their partition (nextRound, knnJoinRDD.scala:63-140).
Here the bound comes from a count, before any join, so one bounded join
answers every query:

  layout  the slim point projection repartitions by (cell[, salt]) to
          the session shuffle width (and caches, on the eager path):
          partition sizing follows configuration, not core count, and
          hash(cell[, salt]) satisfies the pre-rank window's clustering,
          so the candidate stream is never exchanged before the rank.
  bound   one histogram of the points at the tile grid (config.TILE_TX x
          TILE_TY, finer than the join grid) becomes a summed-area table
          (SAT: 2-D prefix sums) shipped as one broadcast row.  Inside
          one projection each query picks, with 4 SAT lookups per
          candidate radius, the smallest candidate tile box around it
          that holds >= min(k, n) points.  The distance to that box's far corner
          (+1 milli) is an exact upper bound rm on its kth distance.
  probe   the join-grid cells covering q +- rm, minus those whose part
          of the box the SAT shows empty, join the points on
          (cell[, salt]) (the reference's `rkjoin`,
          RtreePartition.scala:294-324).  An int box prefilter and then
          dist2 <= rm^2 keep only rows that can rank.
  rank    a per-(cell[, salt], qid) pre-rank (row_number <= k, no
          exchange) caps what any one cell sends to the global qid
          window, whose row_number over (dist2, doc_key) pins a
          deterministic total order (the reference's sort+slice at
          knnJoinRDD.scala:217-231 is tie-unstable; ties are real here).

The eager and lazy paths run this same plan; they differ only in where
the SAT row comes from (a driver-side numpy build from one collected
histogram, or the same numpy build inside a one-partition mapInArrow).

Skew (J9): pass a SpatialPartitioning `plan` and the probe joins on
(cell, salt) — the data side hashes hot cells into `nsplits` salt
slices, the cover replicates across them (partitioner.salt_points /
salt_cover, the same rule as the salted range join J8; the reference
salts skewed partitions inside kNN round 2, knnJoinRDD.scala:120-215).
Only hot cells split: a uniform salt on every cell lost its gate A/B
(139.7 -> 268.0 s with 8 slices per cell, r5_ab4n_x2304.jsonl in
bench_records/), because the pre-rank keeps k rows per slice.

Predicates (F6): `pred` restricts the data side before the histogram —
the reference's `knnFilter(entry, k, z)` z-predicate
(SpatialRdd.scala:150); kNN is then exact among qualifying points.

All distances are float64 (dx*dx + dy*dy) with the same expression
shape as the DuckDB oracle -> bit-exact.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import config as C
from ..broadcast import decide
from ..cells import COVER_FANOUT, cover_cells, with_cell
from ..partitioner import max_splits, salt_cover, salt_points
from .tiles import tile_expr

# x/y are recomputed inline from the int milli coords with the exact
# expression shape of extract.py:65 (int subtract -> cast -> /1000.0),
# so dist2 is bit-identical to the x/y-column formulation while the
# candidate rows carry two INTs instead of two DOUBLEs
_X = "(CAST(mx - 180000 AS DOUBLE) / 1000.0)"
_Y = "(CAST(my - 90000 AS DOUBLE) / 1000.0)"
_D2 = (f"(qx - {_X}) * (qx - {_X}) + (qy - {_Y}) * (qy - {_Y})")

_TX, _TY = C.TILE_TX, C.TILE_TY

# candidate bound radii (tiles): 0, then 2^i and 3*2^i, so the picked
# box is at most 1.5x wider than the smallest that suffices.  The last
# radius reaches the far edge of the tile grid from a corner query, so
# every query finds a box holding all n points.
_REACH = 1 << (max(_TX, _TY) - 1).bit_length()
_RADII = sorted({0} | {r for i in range(_REACH.bit_length())
                       for r in (1 << i, 3 << i) if r <= _REACH})


def _sat(tile: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Flattened SAT of a tile histogram (distinct tile ids), with a
    zero row and column of padding: entry i*(TY+1)+j (0-based) holds the
    number of points in tiles with tile_x < i and tile_y < j, so the
    last entry is the total."""
    grid = np.zeros(_TX * _TY, np.int64)
    grid[tile] = cnt
    sat = np.zeros((_TX + 1, _TY + 1), np.int64)
    sat[1:, 1:] = grid.reshape(_TX, _TY).cumsum(0).cumsum(1)
    return sat.ravel()


def _sat_partition(batches):
    """mapInArrow body of the lazy path: the whole histogram (one
    partition) in, one SAT row out."""
    tiles, cnts = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for b in batches:
        tiles.append(b.column("tile").to_numpy())
        cnts.append(b.column("cnt").to_numpy())
    sat = _sat(np.concatenate(tiles), np.concatenate(cnts))
    yield pa.RecordBatch.from_arrays(
        [pa.array([sat], pa.list_(pa.int64()))], names=["sat"])


def _box_count(i0: str, i1: str, j0: str, j1: str) -> str:
    """Points in tiles [i0..i1] x [j0..j1] (inclusive): 4 lookups into
    the padded SAT column `sat` (element_at is 1-based)."""
    def at(i: str, j: str) -> str:
        return (f"element_at(sat, CAST(({i}) * {_TY + 1} + ({j}) + 1 "
                "AS INT))")
    return (f"({at(f'{i1} + 1', f'{j1} + 1')} - {at(i0, f'{j1} + 1')} "
            f"- {at(f'{i1} + 1', j0)} + {at(i0, j0)})")


def _tile_box(r: str, tx: str = "_tx", ty: str = "_ty"
              ) -> tuple[str, str, str, str]:
    """Tile bounds of the radius-r box around the query tile (tx, ty),
    clamped to the grid."""
    return (f"greatest({tx} - {r}, 0)", f"least({tx} + {r}, {_TX - 1})",
            f"greatest({ty} - {r}, 0)", f"least({ty} + {r}, {_TY - 1})")


def _bounded(queries: DataFrame, sat: DataFrame, k: int,
             n_groups: int) -> DataFrame:
    """Per query: the probe box q +- rm and kth2 = rm^2 (degrees^2).

    The radius pick runs over ARRAYS of queries (n_groups rows, hashed
    by qid), each joined to the one SAT row: a higher-order function
    cannot compile into the join's codegen stage, so every joined row is
    materialized, and one joined row per query would copy the whole
    array once per query.  `need` is min(k, n), n = the SAT's last
    entry."""
    need = f"least({k}, element_at(sat, -1))"
    tile = _tile_box("r", "q._tx", "q._ty")
    # first radius whose box holds `need` points; radii past it skip
    # their lookups
    pick = (f"aggregate(array({', '.join(map(str, _RADII))}), -1, "
            f"(a, r) -> CASE WHEN a >= 0 THEN a "
            f"WHEN {_box_count(*tile)} >= {need} THEN r ELSE -1 END)")
    i0, i1, j0, j1 = _tile_box("_r")
    return (queries.selectExpr(
                f"pmod(xxhash64(qid), {n_groups}) AS _g",
                "struct(qid, qmx, qmy, qx, qy, "
                f"(qmx * {_TX}) div {C.WORLD_MX} AS _tx, "
                f"(qmy * {_TY}) div {C.WORLD_MY} AS _ty) AS q")
            # an explicit repartition: AQE would coalesce these few
            # small rows into one task, but the pick is CPU, not bytes
            .repartition(n_groups, "_g")
            .groupBy("_g").agg(F.collect_list("q").alias("qs"))
            .crossJoin(F.broadcast(sat))
            .selectExpr(f"explode(transform(qs, q -> struct(q, {pick} AS _r)))"
                        " AS b")
            .select("b.q.*", "b._r")
            # exact milli bounds of the picked box (tile i covers mx in
            # [ceil(i*W/TX), ceil((i+1)*W/TX) - 1]); its far corner,
            # +1 milli of float guard, bounds the kth distance
            .selectExpr(
                "qid", "qmx", "qmy", "qx", "qy",
                f"({i0} * {C.WORLD_MX} + {_TX - 1}) div {_TX} AS _bx0",
                f"(({i1} + 1) * {C.WORLD_MX} + {_TX - 1}) div {_TX} - 1 "
                "AS _bx1",
                f"({j0} * {C.WORLD_MY} + {_TY - 1}) div {_TY} AS _by0",
                f"(({j1} + 1) * {C.WORLD_MY} + {_TY - 1}) div {_TY} - 1 "
                "AS _by1",
                "greatest(qmx - _bx0, _bx1 - qmx) AS _dxm",
                "greatest(qmy - _by0, _by1 - qmy) AS _dym",
                "CAST(ceil(sqrt(CAST(_dxm * _dxm + _dym * _dym "
                "AS DOUBLE))) + 1 AS BIGINT) AS rm")
            .selectExpr(
                "qid", "qx", "qy",
                "CAST(rm * rm AS DOUBLE) / 1.0E6 AS kth2",
                "greatest(0, qmx - rm) AS xmin",
                f"least({C.WORLD_MX - 1}, qmx + rm) AS xmax",
                "greatest(0, qmy - rm) AS ymin",
                f"least({C.WORLD_MY - 1}, qmy + rm) AS ymax"))


def _nonempty_cover(bq: DataFrame, sat: DataFrame) -> DataFrame:
    """Join-grid cells of each probe box, keeping only cells whose part
    of the box holds a point at tile resolution (the sFilter presence
    prune, X6 -> J7, answered from the same SAT).  A left semi join
    against the one SAT row, so the array never rides on a cover row."""
    cx, cy = f"(cell div {C.CELL_CY})", f"(cell % {C.CELL_CY})"

    def tiles(c: str, cells: int, world: int, lo: str, hi: str,
              t: int) -> tuple[str, str]:
        m0 = f"greatest({lo}, ({c} * {world} + {cells - 1}) div {cells})"
        m1 = (f"least({hi}, (({c} + 1) * {world} + {cells - 1}) "
              f"div {cells} - 1)")
        return f"(({m0}) * {t}) div {world}", f"(({m1}) * {t}) div {world}"

    i0, i1 = tiles(cx, C.CELL_CX, C.WORLD_MX, "xmin", "xmax", _TX)
    j0, j1 = tiles(cy, C.CELL_CY, C.WORLD_MY, "ymin", "ymax", _TY)
    return cover_cells(bq).join(
        F.broadcast(sat), on=F.expr(f"{_box_count(i0, i1, j0, j1)} > 0"),
        how="left_semi")


# ~24 B/row: (cell, doc_key) int64 + mx/my int32 in the serialized slim
# cache (see knn_join's slim projection)
_SLIM_CACHE_BYTES_PER_ROW = 24


def _warn_if_cache_exceeds_storage(spark, total_rows: int) -> bool:
    """Executor-sizing advisory (VERDICT r6 item 3): when the estimated
    slim-cache size exceeds the executors' aggregate on-heap capacity,
    eviction (even to tmpfs disk) was MEASURED at +29% on the 4N join
    wall (240.4 vs 188.2 s, 8 GiB executors, certified clean windows —
    bench_records/r6_knn_floor_4n_evlog.jsonl).  Warning only, no
    behavior change; returns whether it fired (for tests).  The SAT the
    eager path already builds supplies total_rows, so the check is
    free."""
    est = total_rows * _SLIM_CACHE_BYTES_PER_ROW
    try:
        vals = (spark.sparkContext._jsc.sc()
                .getExecutorMemoryStatus().values().iterator())
        agg = 0
        while vals.hasNext():
            agg += int(vals.next()._1())
    except Exception:
        return False
    if agg <= 0 or est <= agg:
        return False
    warnings.warn(
        f"knn_join: estimated slim cache "
        f"({est / 1e9:.1f} GB for {total_rows} rows at "
        f"{_SLIM_CACHE_BYTES_PER_ROW} B/row) exceeds aggregate executor "
        f"storage capacity ({agg / 1e9:.1f} GB); eviction cost a "
        "measured +29% on the join wall at the 1.05B-row gate "
        "(bench_records/r6_knn_floor_4n_evlog.jsonl) — size executor "
        "memory for the cache",
        stacklevel=3)
    return True


# set once the lineage check below has warned in this process
_lineage_warned = False


def _has_generate(points: DataFrame) -> bool:
    """Whether the analyzed lineage of `points` contains a Generate (an
    explode), whose output Catalyst's static size estimate does not
    model.  Falls back to True (-> the scale-safe sort-merge hint) if
    the internal API ever changes shape, and warns once per process
    naming the exception: the fallback changes the probe join's plan."""
    global _lineage_warned
    try:
        return "Generate" in (points._jdf.queryExecution()
                              .analyzed().toString())
    except Exception as e:
        if not _lineage_warned:
            _lineage_warned = True
            warnings.warn(
                "spatialgraft.ops.knn: the lineage check failed "
                f"({type(e).__name__}: {e}); lazy kNN probe joins take "
                "the sort-merge hint", RuntimeWarning, stacklevel=3)
        return True


def knn_join(points: DataFrame, queries: DataFrame, k: int = C.DEFAULT_K,
             broadcast_queries: bool | None = None,
             pred: Column | str | None = None,
             plan=None,
             materialize: bool = False) -> DataFrame:
    """For every query point (qid, qmx, qmy, qx, qy): its k nearest data
    points.  Returns (qid, doc_key, dist2, rnk), rnk 1..k by
    (dist2, doc_key); a query gets min(k, n) rows for n data points.

    pred: optional extra data-side predicate (knnFilter semantics, F6).
    plan: optional SpatialPartitioning -> the probe joins on
    (cell, salt) with per-hot-cell split factors (J9).
    broadcast_queries: None = auto size-gate of the cover (fan-out ~64,
    times the plan's hottest split) against the session broadcast
    threshold, from the optimizer's plan-size estimate — no job runs.
    True/False force.

    materialize=False (library default): plan construction is
    COMPLETELY lazy — no job runs, nothing is persisted, the returned
    DataFrame is a pure composable plan.  The tile histogram and its SAT
    are plan nodes (a lazy aggregate and a one-partition mapInArrow);
    each action recomputes the input lineage — callers who iterate
    should persist their input or pass materialize=True.

    materialize=True (driver/bench path): two actions.  The slim point
    projection is cached (SERIALIZED level — deserialized object-graph
    caching was a measured GC death spiral near the storage pool at
    263M rows) while the tile histogram is collected (O(#tiles)); the
    driver builds the SAT with numpy; the result is persisted and
    counted, and the slim cache is unpersisted before returning.
    The cache is MEMORY_AND_DISK, so a cache larger than memory spills
    to disk instead of failing, and it won its A/B at the x2304 gate
    (1.05B rows, 4 GiB executors): uncached walls read 139.7 -> 206.4 s
    at 4N (bench_records/r5_ab4n_x2304.jsonl).  Executor sizing still
    matters: eviction of a slim cache larger than the aggregate heap
    cost a measured +29% on the join wall (r6_knn_floor_4n_evlog.jsonl),
    so a warning fires when the ~24 B/row estimate exceeds it.  The
    cache also carries accurate InMemoryRelation stats, which the lazy
    path lacks (next paragraph).

    Scale footnote (materialize=False on exploded/generated inputs):
    Catalyst's static sizeInBytes of an explode() does not model the
    multiplicity, so a billion-row generated side could be estimated
    under autoBroadcastJoinThreshold and planted as a broadcast build
    — measured as a driver maxResultSize crash at x2304.  When the
    input lineage contains a Generate, the lazy path plants a merge
    (sort-merge) hint on the points side of the probe join, so Catalyst
    can never pick it as a broadcast build; parquet-backed inputs keep
    their unhinted plans
    (tests/test_knn_paths.py::test_lazy_generated_input_never_broadcast).
    """
    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k}")
    spark = points.sparkSession
    # a salted cover replicates each row per salt slice of its cell, so
    # the broadcast gate counts the hottest split
    bc_cover = decide(queries, broadcast_queries,
                      COVER_FANOUT * max_splits(plan))
    if pred is not None:
        points = points.where(pred if isinstance(pred, Column)
                              else F.expr(pred))

    # slim projection: feeds the histogram and the probe (the spans
    # column must not ride downstream).  It carries (cell, doc_key,
    # mx:int, my:int) — 24 bytes/row: the doubles are recomputed
    # bit-exactly from the milli ints (_X/_Y) and the salt column exists
    # only when a plan asks for it.  At 10^12 rows this is the join's
    # one row-count-sized data stream — its width IS the memory-bus bill.
    pts = with_cell(points).select(
        "cell", "doc_key",
        F.col("mx").cast("int").alias("mx"),
        F.col("my").cast("int").alias("my"))
    keys = ["cell"]
    if plan is not None:
        keys = ["cell", "salt"]
        pts = salt_points(pts, plan)
    # Repartition by (cell[, salt]) to the session shuffle width: the
    # partition count scales with configuration, not core count, and
    # hash(cell[, salt]) satisfies the pre-rank window's clustering, so
    # it sorts in place with NO exchange of the candidate stream.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = pts.repartition(n_parts, *keys)
    if materialize:
        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    hist = pts.select(tile_expr().alias("tile")).groupBy("tile").agg(
        F.count("*").alias("cnt"))

    smj_pts = False
    if not materialize:
        # Scale guard (VERDICT r5 item 1, see the docstring footnote):
        # generated lineage -> sort-merge on the points side.  The eager
        # path needs no guard: its cache carries real InMemoryRelation
        # stats and AQE re-plans from them.
        smj_pts = _has_generate(points)
        sat = hist.coalesce(1).mapInArrow(_sat_partition,
                                          "sat array<bigint>")
    else:
        h = hist.toArrow()
        sat_np = _sat(h.column("tile").to_numpy(),
                      h.column("cnt").to_numpy())
        _warn_if_cache_exceeds_storage(spark, int(sat_np[-1]))
        sat = spark.createDataFrame(pa.table(
            {"sat": pa.array([sat_np], pa.list_(pa.int64()))}))

    cover = _nonempty_cover(_bounded(queries, sat, k, n_parts), sat)
    if plan is not None:
        cover = salt_cover(cover, plan)
    if bc_cover:
        cover = F.broadcast(cover)
    pts_probe = pts.hint("merge") if smj_pts else pts

    # probe: the int box prefilter before any double arithmetic, then
    # the exact bound; projected to (keys, qid, doc_key, dist2) BEFORE
    # the pre-rank, whose sort streams exactly these rows
    wpre = Window.partitionBy(*keys, "qid").orderBy("dist2", "doc_key")
    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    result = (pts_probe.join(cover, on=keys, how="inner")
              .where("mx BETWEEN xmin AND xmax AND my BETWEEN ymin AND ymax")
              .selectExpr(*keys, "qid", "doc_key", "kth2",
                          f"{_D2} AS dist2")
              .where("dist2 <= kth2")
              .select(*keys, "qid", "doc_key", "dist2")
              .withColumn("prnk", F.row_number().over(wpre))
              .where(F.col("prnk") <= k)
              .select("qid", "doc_key", "dist2")
              .withColumn("rnk", F.row_number().over(w))
              .where(F.col("rnk") <= k))
    if not materialize:
        return result
    result = result.persist()
    result.count()
    pts.unpersist()
    return result
