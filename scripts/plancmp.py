"""Dump the NORMALIZED executed plan of one engine call.

Bisection tool for wall-clock anomalies on a co-tenant box and for
refactors that must not move a plan: when a reading moves, the first
question is "did the plan change?".  Run this at two git revisions (a
`git clone` or `git archive` copy for the old one) and diff the
outputs — expression ids, plan ids, cache-relation numbers and object
hashes are normalized away, so byte-identical files mean Catalyst
planned the same physical query.

With no CALL it dumps the gate-shaped kNN join (sf0.01 replicated 4x
by an explode, eager, broadcast_queries=False).  CALL names any call of
benchmark/workloads.CALLS (built exactly as the benchmark builds it),
or one of the three shapes the benchmark times only layer by layer:
range_salted (J8 over the exact cell plan), intersects and tiles_boxes.
A named call runs once (collected) before its plan is dumped, so
adaptive execution has fixed its final plan.

Banked baselines (sf0.01, local[4], 8 shuffle partitions):
  bench_records/plancmp_knn_two_stage.txt  the two-stage kNN join
      (ring join, split, SAT expansion, stage 2, union) it replaced
  bench_records/plancmp_knn_one_pass.txt   the one-pass kNN join (SAT
      row -> bound -> one bounded cover join -> pre-rank -> rank)
  bench_records/plancmp_pr4_{parent,change}_<CALL>.txt  every named
      call before and after the single cover-join refactor
Diff a new gate dump against the one-pass file first.

Round-6 precedent: the r6 2-core gate pair read kNN 3x slower than
r5's at both levels while PIP got FASTER; this tool proved HEAD and
the r5 commit plan-identical at the gate shape (eager, cached,
broadcast_queries=False, replicated-explode input), pinning the
anomaly on ambient steal, not code (BENCH_BASELINE.md round 6).

Usage: python scripts/plancmp.py OUT.txt [CALL]  (run from the repo root)
"""

import os
import re
import sys
import tempfile

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.join(os.getcwd(), "benchmark"))

from pyspark.sql import functions as F  # noqa: E402

import workloads as W  # noqa: E402
from spatialgraft import datagen  # noqa: E402
from spatialgraft.extract import with_geometry  # noqa: E402
from spatialgraft.ops import range as rops  # noqa: E402
from spatialgraft.ops import tiles as tops  # noqa: E402
from spatialgraft.ops.knn import knn_join  # noqa: E402
from spatialgraft.partitioner import plan_partitions  # noqa: E402
from spatialgraft.session import get_spark  # noqa: E402


def _knn_gate(spark, sf):
    base = with_geometry(datagen.documents_spans(spark, sf))
    rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4"))
    pts = (base.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("doc_key", F.col("doc_key") * rep + F.col("_r"))
        .drop("_r"))
    qs = datagen.knn_queries(spark, sf)
    return knn_join(pts, qs, k=10, broadcast_queries=False,
                    materialize=True)


def _range_salted(c):
    pts = W.points(c)
    return rops.range_join_count_salted(
        pts, datagen.query_boxes(c.spark, c.sf), plan_partitions(pts))


EXTRA = {
    "range_salted": _range_salted,
    "intersects": lambda c: rops.intersects_join(
        datagen.data_boxes(c.spark, c.sf),
        datagen.query_boxes(c.spark, c.sf)),
    "tiles_boxes": lambda c: tops.tiles_for_boxes(
        datagen.query_boxes(c.spark, c.sf)),
}


def main() -> None:
    out = sys.argv[1]
    name = sys.argv[2] if len(sys.argv) > 2 else None
    builds = {n: c.build for n, c in W.CALLS.items()} | EXTRA
    if name is not None and name not in builds:
        sys.exit(f"unknown call {name!r}; one of {sorted(builds)}")
    spark = get_spark("plancmp", cpus=4, shuffle_partitions=8)
    sf = os.environ["SPARK_GRAFT_SF_DIR"]
    if name is None:
        res = _knn_gate(spark, sf)
    else:
        with tempfile.TemporaryDirectory() as scratch:
            res = builds[name](W.Ctx(spark, sf, scratch))
            res.collect()
    plan = res._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+", "#X", plan)
    plan = re.sub(r"\(\d+\)", "(N)", plan)
    plan = re.sub(r"id=\d+", "id=X", plan)
    plan = re.sub(r"@[0-9a-f]+", "@X", plan)
    with open(out, "w") as f:
        f.write(plan)
    print("rows", res.count(), "->", out)
    spark.stop()


if __name__ == "__main__":
    main()
