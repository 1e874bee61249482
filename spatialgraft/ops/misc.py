"""Small operators rounding out the SURVEY §2 inventory.

F4  multiget           — exact point lookups via broadcast key join
                         (reference SpatialRdd.scala:92-112)
O1  nearest_k          — single-probe kNN, orderBy+limit
                         (reference RTree.scala:834-872)
O2  nearest            — 1-NN specialization (RTree.scala:828-829)
A2  count_all          — table size (SpatialRdd.scala:49-51)
A3  count_in_box       — filter+count (RTree.scala:877-878)
A4  cell_histogram     — per-cell stats feeding the scheduler
                         (joinScheduler.scala:19-24)
S4  sample_fraction    — uniform sample prep (SpatialSampleRDD.scala:34-51)
S5  to_wkt             — WKT text export (ToWKT.scala:27-40)
put/multiput/delete    — immutable mutation semantics as union /
                         anti-join (SpatialRdd.scala:64-89, 230-233; a
                         new DataFrame is returned, matching the
                         reference's persistent-index model)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import cell_expr, with_cell
from .range import range_filter


def multiget(points: DataFrame, keys: DataFrame,
             broadcast_keys: bool | None = None) -> DataFrame:
    """Exact lookups: keys(kmx, kmy) -> matching point rows.

    Equality on exact milli ints; the cell equi-join key makes the
    probe prunable when data is cell-partitioned.  broadcast_keys
    None = auto size-gate (spatialgraft.broadcast.decide, fanout 1 —
    each key maps to exactly one cell row): small key sets broadcast,
    a huge key DataFrame falls back to a shuffled join on cell instead
    of being built on the driver."""
    from ..broadcast import decide as _decide_broadcast
    k = keys.withColumn("cell", cell_expr("kmx", "kmy"))
    if _decide_broadcast(keys, broadcast_keys, fanout=1):
        k = F.broadcast(k)
    return (with_cell(points).join(
        k, on="cell", how="inner")
        .where((F.col("mx") == F.col("kmx")) &
               (F.col("my") == F.col("kmy")))
        .select("doc_key", "mx", "my"))


def nearest_k(points: DataFrame, qmx: int, qmy: int, k: int,
              pred: str | None = None) -> DataFrame:
    """Single-probe kNN: (doc_key, dist2, rnk) by (dist2, doc_key).

    `pred`: optional data-side predicate (the reference's knnFilter z,
    SpatialRdd.scala:150) — kNN among qualifying points only."""
    if pred is not None:
        points = points.where(pred)
    qx = (qmx - 180000) / 1000.0
    qy = (qmy - 90000) / 1000.0
    d2 = ((F.col("x") - qx) * (F.col("x") - qx) +
          (F.col("y") - qy) * (F.col("y") - qy))
    return (points.select("doc_key", d2.alias("dist2"))
            .orderBy("dist2", "doc_key").limit(k)
            .selectExpr("doc_key", "dist2",
                        "row_number() OVER (ORDER BY dist2, doc_key) "
                        "AS rnk"))


def nearest(points: DataFrame, qmx: int, qmy: int) -> DataFrame:
    return nearest_k(points, qmx, qmy, 1)


def count_all(points: DataFrame) -> int:
    return points.count()


def count_in_box(points: DataFrame, xmin: int, ymin: int,
                 xmax: int, ymax: int) -> DataFrame:
    return (range_filter(points, xmin, ymin, xmax, ymax)
            .agg(F.count("*").alias("cnt")))


def cell_histogram(points: DataFrame) -> DataFrame:
    """Per-cell row counts — the stats pass every scheduler decision
    reads (O(#cells) output, safe to collect at any scale)."""
    return with_cell(points).groupBy("cell").agg(
        F.count("*").alias("cnt"))


def sample_fraction(points: DataFrame, fraction: float,
                    seed: int = 42) -> DataFrame:
    return points.sample(withReplacement=False, fraction=fraction,
                         seed=seed)


def to_wkt(points: DataFrame) -> DataFrame:
    """(doc_key, wkt): POINT(x y) text export in milli precision."""
    return points.selectExpr(
        "doc_key",
        "printf('POINT(%.3f %.3f)', x, y) AS wkt")


def put(points: DataFrame, new_rows: DataFrame) -> DataFrame:
    """Insert: returns a NEW DataFrame (immutable semantics)."""
    return points.unionByName(new_rows, allowMissingColumns=True)


_MERGES = {"sum": F.sum, "min": F.min, "max": F.max}


def multiput(table: DataFrame, updates: DataFrame,
             key_cols: list[str], value_col: str,
             merge="sum", order_col: str | None = None) -> DataFrame:
    """Merge-on-key multiput: inserting an existing key combines the old
    and new values with `merge` (the reference's arbitrary user merge
    closure (V, V) => V on collision, SpatialRdd.scala:70-89 — README's
    SumFunction).  A new DataFrame is returned (immutable index
    semantics); a missing key is a plain insert.

    merge accepts, in increasing generality:
      - a named commutative aggregate: "sum" | "min" | "max";
      - a callable Column -> Column aggregate (any Spark aggregate);
      - a binary-fold SQL expression over `acc` and `v` (e.g.
        "acc * 2 + v", "concat(acc, v)") — the reference's arbitrary
        (V, V) => V.  Non-commutative folds need a deterministic order:
        the table value always folds FIRST, then updates ordered by
        `order_col` (required when `updates` may repeat a key).

    Shape at scale: the named/callable paths are one union + one
    partial/final agg shuffle on the key.  The fold path is one union +
    one collect_list agg on the key — fan-in per key is the update
    multiplicity for that key (bounded by the caller's batch), never
    table size."""
    cols = [*key_cols, value_col]
    if callable(merge):
        u = table.select(*cols).unionByName(updates.select(*cols))
        return u.groupBy(*key_cols).agg(
            merge(F.col(value_col)).alias(value_col))
    if merge in _MERGES:
        u = table.select(*cols).unionByName(updates.select(*cols))
        return u.groupBy(*key_cols).agg(
            _MERGES[merge](value_col).alias(value_col))
    # binary fold: old value first, then updates in order_col order.
    # Placeholder contract: `merge` must reference `acc` and `v` as bare
    # identifiers and must not contain string literals (the `v` rewrite
    # below is textual and would corrupt a quoted 'v'); a plain typo
    # like "avg" would otherwise fall through here and die with an
    # opaque lambda-analysis error instead of a clear one.
    if not isinstance(merge, str):
        raise TypeError(f"merge must be str or callable, got {merge!r}")
    if "'" in merge or '"' in merge:
        raise ValueError(
            "fold merge expressions must not contain string literals "
            f"(the v placeholder rewrite is textual): {merge!r}")
    import re
    if not (re.search(r"\bacc\b", merge) and re.search(r"\bv\b", merge)):
        raise ValueError(
            f"unknown merge {merge!r}: expected one of {set(_MERGES)}, "
            "a callable aggregate, or a fold expression over `acc` "
            "and `v` (e.g. 'acc * 2 + v')")
    ord_expr = (F.col(order_col) if order_col is not None
                else F.lit(0)).cast("long")
    u = (table.select(*cols)
         .withColumn("_src", F.lit(0).cast("long"))
         .withColumn("_ord", F.lit(0).cast("long"))
         .unionByName(updates
                      .select(*cols, ord_expr.alias("_ord"))
                      .withColumn("_src", F.lit(1).cast("long"))))
    fold = re.sub(r"\bv\b", "x._v", merge)
    vs = (u.groupBy(*key_cols)
          .agg(F.array_sort(F.collect_list(
              F.struct(F.col("_src").alias("s"),
                       F.col("_ord").alias("o"),
                       F.col(value_col).alias("_v")))).alias("_vs")))
    # _vs[0] (0-based) seeds the fold; slice (1-based) takes the rest
    return vs.selectExpr(
        *key_cols,
        f"aggregate(slice(_vs, 2, size(_vs) - 1), _vs[0]._v, "
        f"(acc, x) -> {fold}) AS {value_col}")


def delete(points: DataFrame, keys: DataFrame) -> DataFrame:
    """Delete by doc_key: left anti join, new DataFrame returned."""
    return points.join(keys.select("doc_key"), on="doc_key",
                       how="left_anti")
