"""One-pass kNN join: every path (lazy and eager, planned (J9),
data-side predicate (F6)) and every edge the synthetic tables
never reach (k >= n, no points, one coordinate, world-edge queries) is
checked bit-exactly against a brute-force cross-join twin."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.ops.knn import knn_join
from spatialgraft.partitioner import plan_partitions

_D2 = "(qx - x) * (qx - x) + (qy - y) * (qy - y)"


def _brute(points, queries, k, pred=None):
    pts = points.where(pred) if pred is not None else points
    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    return (queries.select("qid", "qx", "qy")
            .crossJoin(pts.select("doc_key", "x", "y"))
            .withColumn("dist2", F.expr(_D2))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("qid", "doc_key", "dist2", "rnk"))


def _assert_same(got_df, want_df):
    cols = ["qid", "doc_key", "dist2", "rnk"]
    got = got_df.toPandas().sort_values(cols).reset_index(drop=True)
    want = want_df.toPandas().sort_values(cols).reset_index(drop=True)
    assert len(got) == len(want)
    assert got[cols].equals(want[cols])


def test_ring_expansion_matches_brute_force(spark, sf_smoke):
    # sf0.001 is sparse: k=25 pushes most queries' SAT bound box many
    # tiles wide, so the probe spans many join cells
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=25), _brute(pts, qs, k=25))


def test_eager_deep_expansion_matches_brute_force(spark, sf_smoke):
    """EAGER-path deep SAT bound vs brute force: k=150 at sf0.001 makes
    every query's bound box span a large part of the world, so the
    driver-built SAT row, the radius pick and the wide cover all carry
    real work.  The k150 contract query runs this exact path
    (materialize=True)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=150, materialize=True),
                 _brute(pts, qs, k=150))


def test_fewer_points_than_k(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke)).where(
        F.col("doc_key") % 997 == 0)
    n = pts.count()
    assert 0 < n < 10
    qs = datagen.knn_queries(spark, sf_smoke).limit(7)
    got = knn_join(pts, qs, k=10)
    assert got.count() == 7 * n
    _assert_same(got, _brute(pts, qs, k=10))


def test_salted_knn_identical_and_nonvacuous(spark, sf_correct):
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs = datagen.knn_queries(spark, sf_correct)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    assert max(ns for _, ns in plan.assignment.values()) > 1, \
        "skew fixture produced no salted cells"
    _assert_same(knn_join(pts, qs, k=10, plan=plan),
                 knn_join(pts, qs, k=10))


def test_k150_matches_brute_force(spark, sf_smoke, sf_correct):
    """Reference-scale k (its benchmarks run k up to 200,
    reference README.md:51): k=150 exercises wide bound boxes at
    sf0.001 and the dense per-cell pre-rank at sf0.01 — both must stay
    bit-exact."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=150), _brute(pts, qs, k=150))

    pts1 = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs1 = datagen.knn_queries(spark, sf_correct).limit(100)
    _assert_same(knn_join(pts1, qs1, k=150), _brute(pts1, qs1, k=150))


def test_knn_pred_matches_filtered_brute_force(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    pred = "lower(text) LIKE '%flag r%'"
    _assert_same(knn_join(pts, qs, k=5, pred=pred),
                 _brute(pts, qs, k=5, pred=F.expr(pred)))


def test_lazy_construction_runs_no_jobs(spark, sf_smoke):
    """materialize=False must be a pure plan: no Spark job (histogram,
    count, or otherwise) during knn_join() itself, and nothing left
    persisted (the round-3 lazy path collected the histogram and leaked
    three cached DataFrames per call)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    jsc = spark.sparkContext._jsc.sc()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    cached_before = jsc.getPersistentRDDs().size()
    df = knn_join(pts, qs, k=10, materialize=False)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"lazy knn_join ran jobs {after - before}"
    # plan inspection is also job-free
    df._jdf.queryExecution().executedPlan().toString()
    assert set(tracker.getJobIdsForGroup(None)) == before
    # no hidden cache state left behind
    assert jsc.getPersistentRDDs().size() == cached_before


def test_stage2_cover_prune_wired(spark, sf_smoke):
    """VERDICT r4 item 6: the probe cover is presence-pruned (X6 ->
    J7).  Wiring check: the lazy plan carries the left-semi prune
    against the SAT row; the quantitative headroom on the sparse sf0.001
    fixture is large (most of the 32k cells hold no data, so most cover
    rows of wide bound boxes die before the probe).  Exactness of the
    pruned path is covered by the brute-force twins, which all run
    through it."""
    from spatialgraft import config as C
    from spatialgraft.sfilter import presence_cells
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    plan = (knn_join(pts, qs, k=25, materialize=False)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "LeftSemi" in plan, "cover prune not in lazy plan"
    present = presence_cells(pts)
    assert len(present) < 0.2 * C.N_CELLS, \
        "sf0.001 fixture unexpectedly dense; prune test is vacuous"


def test_lazy_equals_eager(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=10, materialize=False),
                 knn_join(pts, qs, k=10, materialize=True))


def _assert_no_raw_generate_broadcast(plan_str):
    """Every BroadcastExchange subtree that contains a Generate must
    also contain an Aggregate below it: broadcasting an O(#cells)
    aggregate OF generated lineage is safe by construction; broadcasting
    the raw generated row stream is the measured driver crash."""
    import re
    lines = plan_str.splitlines()
    art = [re.match(r"^[\s:+\-=*]*", ln).end() for ln in lines]
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = art[i]
        sub = []
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and art[j] <= depth:
                break
            sub.append(lines[j])
        body = "\n".join(sub)
        if "Generate" in body:
            assert "Aggregate" in body, (
                "raw generated lineage under a BroadcastExchange:\n"
                + ln + "\n" + body[:1500])


def test_lazy_generated_input_never_broadcast(spark, sf_smoke):
    """VERDICT r5 item 1: Catalyst's explode-blind sizeInBytes could
    plant a generated points side as a broadcast build (measured driver
    maxResultSize crash at 1.05B rows).  The lazy path must detect the
    Generate lineage and force sort-merge on the points side of both
    probe join (the only join the points side takes part in) — and
    must leave parquet-backed plans untouched."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    big = (pts.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                     F.lit(49))))
           .withColumn("doc_key", F.col("doc_key") * 50 + F.col("_r"))
           .drop("_r"))
    qs = datagen.knn_queries(spark, sf_smoke).limit(40)
    lazy = knn_join(big, qs, k=3, materialize=False)
    opt = lazy._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=merge") == 1, \
        "guard did not hint the probe join"
    _assert_no_raw_generate_broadcast(
        lazy._jdf.queryExecution().executedPlan().toString())
    # parquet-backed input keeps today's unhinted plans
    normal = knn_join(pts, qs, k=3, materialize=False)
    assert "strategy=merge" not in \
        normal._jdf.queryExecution().optimizedPlan().toString()
    # and the guarded plan is still bit-exact vs the eager path
    _assert_same(lazy, knn_join(big, qs, k=3, materialize=True))


class _HandleWithoutPlan:
    """A py4j DataFrame handle whose queryExecution raises, as if the
    internal plan API changed shape; every other call goes through."""

    def __init__(self, jdf):
        self._jdf = jdf

    def __getattr__(self, name):
        if name == "queryExecution":
            raise AttributeError("no queryExecution on this handle")
        return getattr(self._jdf, name)


def test_lineage_check_fallback_warns_once(spark, sf_smoke, monkeypatch):
    """ROADMAP item 5: when the lazy path cannot read the points'
    lineage it takes the sort-merge hint, with identical rows, and says
    so exactly once per process."""
    import warnings

    from spatialgraft.ops import knn
    monkeypatch.setattr(knn, "_lineage_warned", False)
    qs = datagen.knn_queries(spark, sf_smoke).limit(40)
    want = knn_join(with_geometry(datagen.documents_spans(spark, sf_smoke)),
                    qs, k=5)
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    pts._jdf = _HandleWithoutPlan(pts._jdf)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = [knn_join(pts, qs, k=5) for _ in range(2)]
    fired = [x for x in w if issubclass(x.category, RuntimeWarning)
             and "lineage check failed" in str(x.message)]
    assert len(fired) == 1
    assert "AttributeError: no queryExecution on this handle" in \
        str(fired[0].message)
    for g in got:
        assert "strategy=merge" in \
            g._jdf.queryExecution().optimizedPlan().toString()
        _assert_same(g, want)


def test_broadcast_gate_counts_salt(spark, sf_smoke, monkeypatch):
    """ADVICE r5: the cover's auto-broadcast gate must multiply the
    fan-out by the hottest salt split of the plan — on the kNN probe
    (J9) and the salted range join (J8) alike."""
    from spatialgraft import broadcast, cells
    from spatialgraft.broadcast import plan_size_bytes, threshold_bytes
    from spatialgraft.cells import COVER_FANOUT
    from spatialgraft.ops import knn
    from spatialgraft.ops import range as rops
    from spatialgraft.partitioner import SpatialPartitioning, max_splits
    qs = datagen.knn_queries(spark, sf_smoke)
    est, thr = plan_size_bytes(qs), threshold_bytes(spark)
    assert 0 < est * COVER_FANOUT <= thr, "fixture: unsalted cover must fit"
    big_salt = int(thr // (est * COVER_FANOUT) + 1)
    plan = SpatialPartitioning({0: (0, 1), 1: (0, big_salt)}, 1, 0)
    assert max_splits(plan) == big_salt and max_splits(None) == 1
    assert broadcast.decide(qs, None, COVER_FANOUT)
    assert not broadcast.decide(qs, None, COVER_FANOUT * big_salt)
    # explicit flags still win over the gate
    assert broadcast.decide(qs, True, COVER_FANOUT * big_salt) is True
    assert broadcast.decide(qs, False, COVER_FANOUT) is False

    fanouts = []

    def spy(side, flag, fanout):
        fanouts.append(fanout)
        return broadcast.decide(side, flag, fanout)

    monkeypatch.setattr(knn, "decide", spy)
    monkeypatch.setattr(cells, "decide", spy)
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    boxes = datagen.query_boxes(spark, sf_smoke)
    knn_join(pts, qs, k=3)
    knn_join(pts, qs, k=3, plan=plan)
    rops.range_join_count(pts, boxes)
    rops.range_join_count_salted(pts, boxes, plan)
    assert fanouts == [COVER_FANOUT, COVER_FANOUT * big_salt] * 2


def test_cache_sizing_advisory(spark):
    """VERDICT r6 item 3: the measured +29% eviction penalty is now a
    code-level advisory — fires iff the estimated slim cache exceeds
    aggregate executor storage; never changes behavior."""
    from spatialgraft.ops.knn import _warn_if_cache_exceeds_storage
    # tiny table: no warning
    assert _warn_if_cache_exceeds_storage(spark, 1000) is False
    # absurd row count (exabytes): must warn
    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fired = _warn_if_cache_exceeds_storage(spark, 10**17)
    assert fired is True
    assert any("slim cache" in str(x.message) for x in w)


# --- one-pass twins on inputs the synthetic tables never reach ---------

def _points(spark, rows):
    """(doc_key, mx, my) triples -> a points side with the x/y doubles
    derived exactly as extract.py derives them."""
    return spark.createDataFrame(
        rows, "doc_key bigint, mx bigint, my bigint").selectExpr(
        "doc_key", "mx", "my",
        "CAST(mx - 180000 AS DOUBLE) / 1000.0 AS x",
        "CAST(my - 90000 AS DOUBLE) / 1000.0 AS y")


def _queries(spark, rows):
    return spark.createDataFrame(
        rows, "qid bigint, qmx bigint, qmy bigint").selectExpr(
        "qid", "qmx", "qmy",
        "CAST(qmx - 180000 AS DOUBLE) / 1000.0 AS qx",
        "CAST(qmy - 90000 AS DOUBLE) / 1000.0 AS qy")


def _scatter(n, seed=1):
    """n deterministic points spread over the whole world."""
    return [(i, (i * 2654435761 + seed) % 360000,
             (i * 2246822519 + 7 * seed) % 180000) for i in range(n)]


def _twin(points, queries, k, **kw):
    """Both materialize modes against brute force."""
    want = _brute(points, queries, k)
    for mat in (False, True):
        _assert_same(knn_join(points, queries, k=k, materialize=mat,
                              **kw), want)


@pytest.mark.parametrize("k", [1, 10])
def test_one_pass_matches_brute_force(spark, sf_smoke, k):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    _twin(pts, datagen.knn_queries(spark, sf_smoke), k)


def test_eager_pred_matches_filtered_brute_force(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    pred = "lower(text) LIKE '%flag r%'"
    _assert_same(knn_join(pts, qs, k=5, pred=pred, materialize=True),
                 _brute(pts, qs, k=5, pred=F.expr(pred)))


def test_k_at_least_n(spark):
    """k >= n: every query gets all n points, ranked."""
    pts = _points(spark, _scatter(6))
    qs = _queries(spark, [(0, 5, 5), (1, 200000, 100000),
                          (2, 359999, 179999)])
    for k in (6, 40):
        _twin(pts, qs, k)


def test_knn_rejects_bad_k(spark):
    pts = _points(spark, _scatter(3))
    with pytest.raises(ValueError, match="k >= 1"):
        knn_join(pts, _queries(spark, [(0, 1, 1)]), k=0)


def test_empty_points_side(spark):
    pts = _points(spark, _scatter(20)).where("doc_key < 0")
    qs = _queries(spark, [(0, 1000, 1000), (1, 359999, 0)])
    for mat in (False, True):
        got = knn_join(pts, qs, k=3, materialize=mat)
        assert got.count() == 0
        assert got.columns == ["qid", "doc_key", "dist2", "rnk"]


def test_all_points_on_one_coordinate(spark):
    """Every point in one tile and one cell: all distances tie per
    query, so the (dist2, doc_key) canon alone decides the ranks."""
    pts = _points(spark, [(i, 123456, 65432) for i in range(40)])
    qs = _queries(spark, [(0, 123456, 65432), (1, 123000, 65000),
                          (2, 0, 0), (3, 359999, 179999)])
    for k in (1, 10):
        _twin(pts, qs, k)


def test_world_edge_queries(spark):
    """Queries on all four world edges and corners: the bound box and
    the probe cover clamp at 0 and WORLD-1 on every side."""
    pts = _points(spark, _scatter(400, seed=3)
                  + [(1000, 0, 0), (1001, 359999, 179999),
                     (1002, 0, 179999), (1003, 359999, 0)])
    edges = [(0, 0), (359999, 0), (0, 179999), (359999, 179999),
             (0, 90000), (359999, 90000), (180000, 0), (180000, 179999)]
    qs = _queries(spark, [(i, x, y) for i, (x, y) in enumerate(edges)])
    for k in (1, 10, 150):
        _twin(pts, qs, k)


def test_salt_and_plan_match_brute_force(spark, sf_correct):
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs = datagen.knn_queries(spark, sf_correct).limit(100)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    assert max(ns for _, ns in plan.assignment.values()) > 1, \
        "skew fixture produced no salted cells"
    want = _brute(pts, qs, k=10)
    for mat in (False, True):
        _assert_same(knn_join(pts, qs, k=10, plan=plan, materialize=mat),
                     want)


def _sql_execution_of(spark, job_ids):
    """job id -> id of the SQL execution (one per action) that ran it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out.update({j: e.executionId() for j in job_ids
                    if e.jobs().contains(j)})
    return out


def test_eager_runs_two_actions_and_leaves_only_result(spark, sf_smoke):
    """materialize=True runs exactly two actions — the tile-histogram
    collect and the result count — and every job it starts belongs to
    one of them; nothing but the returned result stays persisted."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cached_before = sc._jsc.sc().getPersistentRDDs().size()
    sc.setJobGroup("knn-guard", "eager knn_join")
    try:
        res = knn_join(pts, qs, k=10, materialize=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = tracker.getJobIdsForGroup("knn-guard")
    assert jobs, "no job ran in the group"
    execution_of = _sql_execution_of(spark, jobs)
    assert set(execution_of) == set(jobs), "a job outside any action"
    assert len(set(execution_of.values())) == 2
    assert sc._jsc.sc().getPersistentRDDs().size() == cached_before + 1
    assert res.is_cached
    assert res.count() == 10 * qs.count()
    res.unpersist()
    assert sc._jsc.sc().getPersistentRDDs().size() == cached_before
