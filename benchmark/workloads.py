"""The benchmark's workloads: which engine calls make one pass, what
each call's output must equal, and the inputs each one is run on.

A call goes through the engine's public functions, from the generated
parquet to the DataFrame a caller would consume; the harness ends it in a
sink.  Why these workloads (they stress different layers, so a change to
one layer shows on one workload and is predicted to be flat on the other):

  count_joins  only aggregates leave the engine: cell multicast, join and
               refine (cells, ops.range, ops.pip, partitioner) do the
               work; ops.knn does none.  Interior-cell counting should
               show here.
  knn          the kNN stage chain (ops.knn) dominates; no count join
               runs.  One-pass kNN should show here and nowhere else.

A run must fit the benchmark's time budget (every call costs two warm-up
calls and a timed call, and the first call of a session pays the JIT), so
some shapes are timed only layer by layer, in the traced run
(benchmark/layers.py): the salted range join and the pair-emitting and
writing layers (range pairs, intersects, tiles, index, checkpoint) on
count_joins' inputs, and kNN at k=150 and the spatio-textual kNN on
knn's.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.oracles import HOTSPOT
from spatialgraft.ops import knn as kops
from spatialgraft.ops import misc
from spatialgraft.ops import pip as pops
from spatialgraft.ops import range as rops

SLIM = ["doc_key", "mx", "my"]

# nearest_k probe and size, as in the engine's declared query
NEAREST = (160000, 105000, 25)
TEXTUAL_PRED = "lower(text) LIKE '%flag r%'"


class Ctx:
    """What a call needs: the session, the generated input directory and
    a scratch directory for the roots of writes."""

    def __init__(self, spark, sf_dir: str, scratch: str):
        self.spark = spark
        self.sf = sf_dir
        self.scratch = scratch
        self._ids = itertools.count()

    def fresh(self, kind: str) -> str:
        """A directory path nothing used before: every cold write and
        checkpoint starts from nothing."""
        return os.path.join(self.scratch, f"{kind}_{next(self._ids)}")


def points(ctx: Ctx, cols: list[str] = SLIM) -> DataFrame:
    """The full engine path: span synthesis, then Arrow extraction."""
    return with_geometry(datagen.documents_spans(ctx.spark, ctx.sf),
                         columns=cols)


@dataclass(frozen=True)
class Oracle:
    """DuckDB oracle of one call.  `sample` restricts the oracle's query
    side (and the engine rows compared) to ids with id % mod == 0 —
    each query's result is independent of the others, so a sampled
    comparison is exact for the ids it covers."""
    key: str
    sample: tuple[str, str, int] | None = None  # (table, id column, mod)
    out_id: str | None = None                     # id column of the output


@dataclass(frozen=True)
class Call:
    name: str
    build: Callable[[Ctx], DataFrame]
    oracle: Oracle
    # rows every kNN query must get (k), checked per query
    knn_k: int | None = None
    # per-call latency name reported by the traced run
    metric: str | None = None


CALLS = {c.name: c for c in [
    Call("range_count", lambda c: rops.range_join_count(
        points(c), datagen.query_boxes(c.spark, c.sf)),
        Oracle("range_join_count"), metric="range_count_s"),
    Call("pip_count", lambda c: pops.pip_join_count(
        points(c), datagen.polygons(c.spark, c.sf)),
        Oracle("pip_join_count"), metric="pip_count_s"),
    Call("pip_concave", lambda c: pops.pip_join_concave_count(
        points(c), datagen.polygons_concave(c.spark, c.sf)),
        Oracle("pip_concave", ("part", "p_partkey", 8), "poly_id"),
        metric="pip_concave_s"),
    Call("count_in_box", lambda c: misc.count_in_box(
        points(c, ["mx", "my"]), *HOTSPOT), Oracle("count_in_box")),
    Call("cell_histogram", lambda c: misc.cell_histogram(
        points(c, ["mx", "my"])), Oracle("cell_histogram")),
    Call("knn_k10", lambda c: kops.knn_join(
        points(c), datagen.knn_queries(c.spark, c.sf), k=10,
        materialize=True),
         Oracle("knn_join", ("orders", "o_orderkey", 128), "qid"),
         knn_k=10, metric="knn_k10_s"),
    Call("nearest_k", lambda c: misc.nearest_k(
        points(c, ["doc_key", "x", "y"]), *NEAREST), Oracle("nearest_k")),
]}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    calls: tuple[str, ...]
    # the traced run also times the pair-emitting and writing layers
    emit_layers: bool = False


WORKLOADS = {w.name: w for w in [
    Workload(
        "count_joins",
        "only aggregates leave the engine, so cell multicast, join and "
        "refine do the work and ops.knn does none",
        ("range_count", "pip_count", "pip_concave", "count_in_box",
         "cell_histogram"),
        emit_layers=True),
    Workload(
        "knn",
        "the kNN stage chain dominates and no count join runs",
        ("knn_k10", "nearest_k")),
]}
