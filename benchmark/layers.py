"""The traced run: one pass under job groups, then each layer on its own.

Layers are timed from outside, around calls into each module's public
functions.  To time an operator alone, the points are extracted, cached
and counted before the timer starts; counts are taken outside every
timer.  Metrics of layers a workload does not exercise read 0.

Which end-to-end figure each layer metric should move, and where:

  session.*            setup_s, both workloads
  datagen.*, extract.* docs_per_s, both; extract little on knn
  cells.*, range.*     count_joins (range_count_s)
  broadcast.decisions  count_joins (range and pip counts)
  pip.*                count_joins (pip_count_s, pip_concave_s)
  knn.*                knn (knn_k10_s)
  misc.*               docs_per_s on count_joins and knn

partitioner.*, range.salted_op_s, the pair-emitting and writing layers
(range.pairs_op_s, range.intersects_op_s, tiles.*, index.*,
checkpoint.*), knn.k150_op_s and knn.textual_op_s have no end-to-end
call of their own
(see benchmark/workloads.py); they are timed here only.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import check
import evlog
import workloads as W
from spatialgraft import datagen, index
from spatialgraft.broadcast import decide
from spatialgraft.cells import cover_cells, with_cell
from spatialgraft.checkpoint import checkpointed_range_join
from spatialgraft.oracles import HOTSPOT
from spatialgraft.ops import knn as kops
from spatialgraft.ops import misc
from spatialgraft.ops import pip as pops
from spatialgraft.ops import range as rops
from spatialgraft.ops import tiles as tops
from spatialgraft.partitioner import plan_partitions

# calls whose Spark jobs are broken down from the event log
TAGS = ("extract", "range.count", "range.pairs", "range.intersects",
        "pip.count", "pip.concave", "knn.k10", "knn.k150", "index.write",
        "checkpoint.cold")

# (name, unit, better) of every per-layer metric, in report order
METRICS: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"), ("session.warm_s", "s", "lower"),
    ("datagen.synth_s", "s", "lower"), ("datagen.docs", "count", "higher"),
    ("extract.slim_s", "s", "lower"),
    ("extract.docs_per_s", "docs/s", "higher"),
    ("cells.cover_rows", "count", "lower"), ("cells.cover_s", "s", "lower"),
    ("broadcast.decisions", "count", "higher"),
    ("partitioner.plan_s", "s", "lower"),
    ("partitioner.split_cells", "count", "lower"),
    ("range.count_op_s", "s", "lower"), ("range.salted_op_s", "s", "lower"),
    ("range.pairs_op_s", "s", "lower"),
    ("range.intersects_op_s", "s", "lower"),
    ("range.candidates", "count", "lower"),
    ("range.matched", "count", "higher"),
    ("range.match_ratio", "ratio", "higher"),
    ("pip.count_op_s", "s", "lower"), ("pip.concave_op_s", "s", "lower"),
    ("pip.candidates", "count", "lower"), ("pip.matched", "count", "higher"),
    ("pip.match_ratio", "ratio", "higher"),
    ("knn.k10_op_s", "s", "lower"), ("knn.k150_op_s", "s", "lower"),
    ("knn.textual_op_s", "s", "lower"),
    ("tiles.points_op_s", "s", "lower"), ("tiles.boxes_op_s", "s", "lower"),
    ("tiles.box_rows", "count", "lower"),
    ("misc.count_in_box_op_s", "s", "lower"),
    ("misc.cell_histogram_op_s", "s", "lower"),
    ("misc.nearest_k_op_s", "s", "lower"),
    ("index.write_s", "s", "lower"), ("index.read_s", "s", "lower"),
    ("index.bytes", "bytes", "lower"), ("index.files", "count", "lower"),
    ("checkpoint.cold_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.bytes", "bytes", "lower"),
] + [(f"{t}.{f}", u, b) for t in TAGS for f, u, b in (
    ("stages", "count", "lower"), ("tasks", "count", "lower"),
    ("cpu_core_s", "s", "lower"), ("gc_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("busy_frac", "ratio", "higher"))
] + [(c.metric, "s", "lower") for c in W.CALLS.values() if c.metric] + [
    ("peak_rss_mb", "MiB", "lower"),
    ("fail_rate", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("noise.steal_pct", "%", "lower"),
]

_UNITS = {n: u for n, u, _ in METRICS}


def with_units(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; a metric the workload did not
    measure reads 0."""
    return {n: (float(values.get(n, 0.0)), _UNITS[n]) for n, _, _ in METRICS}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under path."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


class _Layers:
    """Times layer calls under their own job groups and checks each
    output: against the reference pass where the same call ran end to
    end, else against the Spark digest of the DuckDB oracle's rows."""

    def __init__(self, spark, spans, parent: int, ref_digest: dict,
                 orc: check.Oracles):
        self.spark, self.spans, self.parent = spark, spans, parent
        self.sc = spark.sparkContext
        self.ref_digest, self.orc = ref_digest, orc
        self.m: dict[str, float] = {}
        self.tag_spans: dict[str, tuple[int, int]] = {}
        self.failures: dict[str, str] = {}
        self.checked = 0

    def timed(self, name: str, fn, tag: str | None = None):
        with self.spans.span(name, self.parent, self.sc,
                             tag or f"layer:{name}", kind="layer"):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        if tag:
            s = self.spans.items[-1]
            self.tag_spans[tag] = (int(s["start"] * 1000),
                                   int(s["end"] * 1000))
        return dt, out

    def op(self, metric: str, name: str, build, want: str,
           tag: str | None = None) -> None:
        """Time build() ended in the digest sink into `metric`; `want` is
        a call of the reference pass or an oracle key."""
        built = []
        self.checked += 1

        def run():
            built.append(build())
            return check.digest_sink(built[0])
        try:
            self.m[metric], got = self.timed(name, run, tag)
            exp = (self.ref_digest[want] if want in self.ref_digest else
                   check.oracle_digest(self.spark, self.orc, want, built[0]))
            if got != exp:
                self.failures[name] = f"digest differs from {want}"
        except Exception as e:  # a failed layer is counted, not fatal
            self.failures[name] = f"{type(e).__name__}: {e}"[:300]


def traced_run(wl: W.Workload, ctx: W.Ctx, spans, parent: int,
               ref_pass: list[dict], inputs: dict, orc: check.Oracles,
               run_pass) -> dict:
    """Run one traced pass, then every layer of the workload on its own.
    Returns the layer metrics, the traced pass, the span of each tag and
    the failed checks."""
    spark, sf = ctx.spark, ctx.sf
    ref_digest = {r["call"]: r["result"][0] for r in ref_pass if r["result"]}
    ref_rows = {r["call"]: r["result"][1] for r in ref_pass if r["result"]}

    # the restarted context forks new Python workers on first use
    with spans.span("warm:traced", parent, kind="warm"):
        W.points(ctx).count()
    with spans.span("pass:traced", parent, kind="pass") as psid:
        traced_pass = run_pass(wl, ctx, check.digest_sink, spans, psid,
                               spark.sparkContext, "call")
    with spans.span("layers", parent, kind="layers") as lsid:
        L = _Layers(spark, spans, lsid, ref_digest, orc)
        try:
            _measure_layers(wl, ctx, L, ref_rows, inputs)
        except Exception as e:  # counted as a failure; the run reports
            L.failures["layers"] = f"{type(e).__name__}: {e}"[:300]
    for r in traced_pass:
        if r["error"] or r["result"] != ref_digest.get(r["call"]):
            L.failures[f"traced.{r['call']}"] = (
                r["error"] or "digest differs from the reference pass")
    return {"metrics": L.m, "pass": traced_pass, "tag_spans": L.tag_spans,
            "failures": L.failures, "checked": len(traced_pass) + L.checked}


def _measure_layers(wl: W.Workload, ctx: W.Ctx, L: _Layers, ref_rows: dict,
                    inputs: dict) -> None:
    spark, sf, m = ctx.spark, ctx.sf, L.m
    calls = set(wl.calls)
    m["datagen.docs"] = inputs["n_docs"]
    m["datagen.synth_s"], _ = L.timed(
        "datagen.synth", lambda: _noop(datagen.documents_spans(spark, sf)))
    ext_s, _ = L.timed("extract", lambda: _noop(W.points(ctx)),
                       tag="extract")
    m["extract.slim_s"] = ext_s - m["datagen.synth_s"]
    m["extract.docs_per_s"] = inputs["n_docs"] / ext_s

    cached = W.points(ctx, ["doc_key", "mx", "my", "x", "y", "text"]
                      ).persist()
    cached.count()
    pts = cached.select(*W.SLIM)
    boxes = datagen.query_boxes(spark, sf)
    polys = datagen.polygons(spark, sf)
    concave = datagen.polygons_concave(spark, sf)
    queries = datagen.knn_queries(spark, sf)

    # the multicast sides the workload's operators size-gate, with fan-out
    sides = {"range_count": [(boxes, rops.BOX_COVER_FANOUT)],
             "pip_count": [(polys, 64)], "pip_concave": [(concave, 64)],
             "knn_k10": [(queries, 9), (queries, 64)]}
    m["broadcast.decisions"] = sum(
        decide(s, None, f) for c in calls for s, f in sides.get(c, []))

    if "range_count" in calls:
        m["cells.cover_s"], m["cells.cover_rows"] = L.timed(
            "cells.cover", lambda: cover_cells(boxes).count())
        cand = with_cell(pts).join(cover_cells(boxes), on="cell").count()
        matched = int(ref_rows["range_count"].column("cnt").to_numpy().sum())
        m["range.candidates"], m["range.matched"] = cand, matched
        m["range.match_ratio"] = matched / cand
        L.op("range.count_op_s", "range.count",
             lambda: rops.range_join_count(pts, boxes), "range_count",
             tag="range.count")
        # the salted join must give the unsalted join's rows
        m["partitioner.plan_s"], plan = L.timed(
            "partitioner.plan", lambda: plan_partitions(pts))
        m["partitioner.split_cells"] = sum(
            1 for _, n in plan.assignment.values() if n > 1)
        L.op("range.salted_op_s", "range.salted",
             lambda: rops.range_join_count_salted(pts, boxes, plan),
             "range_count")
    if "pip_count" in calls:
        L.op("pip.count_op_s", "pip.count",
             lambda: pops.pip_join_count(pts, polys), "pip_count",
             tag="pip.count")
        cand = with_cell(pts).join(cover_cells(polys), on="cell").count()
        matched = int(ref_rows["pip_count"].column("cnt").to_numpy().sum())
        m["pip.candidates"], m["pip.matched"] = cand, matched
        m["pip.match_ratio"] = matched / cand
    if "pip_concave" in calls:
        L.op("pip.concave_op_s", "pip.concave",
             lambda: pops.pip_join_concave_count(pts, concave),
             "pip_concave", tag="pip.concave")
    if "count_in_box" in calls:
        L.op("misc.count_in_box_op_s", "misc.count_in_box",
             lambda: misc.count_in_box(pts, *HOTSPOT), "count_in_box")
    if "cell_histogram" in calls:
        L.op("misc.cell_histogram_op_s", "misc.cell_histogram",
             lambda: misc.cell_histogram(pts), "cell_histogram")
    if "knn_k10" in calls:
        L.op("knn.k10_op_s", "knn.k10", lambda: kops.knn_join(
            pts, queries, k=10, materialize=True), "knn_k10", tag="knn.k10")
        L.op("knn.k150_op_s", "knn.k150", lambda: kops.knn_join(
            pts, queries, k=150, materialize=True), "knn_k150",
            tag="knn.k150")
        L.op("knn.textual_op_s", "knn.textual", lambda: kops.knn_join(
            cached.select(*W.SLIM, "text"), queries, k=5,
            pred=W.TEXTUAL_PRED, materialize=True), "spatio_textual_knn")
    if "nearest_k" in calls:
        L.op("misc.nearest_k_op_s", "misc.nearest_k",
             lambda: misc.nearest_k(cached.select("doc_key", "x", "y"),
                                    *W.NEAREST), "nearest_k")
    if wl.emit_layers:
        _measure_emit_layers(ctx, L, pts, boxes)
    cached.unpersist()


def _measure_emit_layers(ctx: W.Ctx, L: _Layers, pts, boxes) -> None:
    """The layers that emit every pair or write: range pairs, intersects,
    tiles, the persistent index and the checkpointed join."""
    spark, sf, m = ctx.spark, ctx.sf, L.m
    L.op("range.pairs_op_s", "range.pairs",
         lambda: rops.range_join(pts, boxes), "range_join_pairs",
         tag="range.pairs")
    L.op("range.intersects_op_s", "range.intersects",
         lambda: rops.intersects_join(datagen.data_boxes(spark, sf), boxes),
         "intersects_join", tag="range.intersects")
    L.op("tiles.points_op_s", "tiles.points",
         lambda: tops.assign_tiles_points(pts), "tiles_points")
    L.op("tiles.boxes_op_s", "tiles.boxes",
         lambda: tops.tiles_for_boxes(boxes), "tiles_boxes")
    m["tiles.box_rows"] = tops.tiles_for_boxes(boxes).count()

    path = ctx.fresh("idx")
    m["index.write_s"], _ = L.timed(
        "index.write", lambda: index.write_indexed(pts, path),
        tag="index.write")
    m["index.files"], m["index.bytes"] = _tree_size(path)
    L.op("index.read_s", "index.read",
         lambda: index.range_filter_indexed(spark, path, *HOTSPOT
                                            ).select("doc_key", "mx", "my"),
         "range_filter_indexed")
    shutil.rmtree(path, ignore_errors=True)

    # a fresh root: the cold run commits every stage, the resume reads them
    root = ctx.fresh("ckpt")
    L.op("checkpoint.cold_s", "checkpoint.cold",
         lambda: checkpointed_range_join(spark, sf, root),
         "checkpoint_range_join", tag="checkpoint.cold")
    m["checkpoint.bytes"] = _tree_size(root)[1]
    L.op("checkpoint.resume_s", "checkpoint.resume",
         lambda: checkpointed_range_join(spark, sf, root),
         "checkpoint_range_join")
    shutil.rmtree(root, ignore_errors=True)


def event_log_groups(log_dir: str, failures: dict[str, str]) -> dict:
    """Per-job-group totals of the traced run's event log.  Anything but
    one finished log is a failure: the breakdown would be lost."""
    logs = sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        failures["evlog"] = f"want one finished event log, found {logs}"
        return {}
    return evlog.parse(os.path.join(log_dir, logs[0]))


def finish(traced: dict, groups: dict, cores: int, untraced_pass_s: float,
           extra: dict, steal: list[float]) -> dict[str, float]:
    """Add the event-log breakdown, the traced per-call latencies and the
    tracing overhead to the layer metrics."""
    m = dict(traced["metrics"])
    m.update(extra)
    for tag, span in traced["tag_spans"].items():
        m.update(evlog.tag_metrics(tag, groups.get(tag), span, cores))
    for r in traced["pass"]:
        metric = W.CALLS[r["call"]].metric
        if metric and not r["error"]:
            m[metric] = r["wall_s"]
    m["trace.overhead_s"] = (sum(r["wall_s"] for r in traced["pass"])
                             - untraced_pass_s)
    if steal:
        m["noise.steal_pct"] = statistics.median(steal)
    return m
