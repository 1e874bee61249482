"""Benchmark harness.

Default mode: run the headline spatial suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf", ...}.

Measurement protocol (steady-state): every query shape is warmed once at
sf0.001 (codegen/JIT/python workers) and once at the target sf (plan-
size-specific JIT), then measured SPARK_GRAFT_BENCH_REPS (default 3)
times.  "queries" reports the per-query MEDIAN; "spread" reports
[min, max] across reps; "value" is the sum of medians.  This sandbox
shows 2-6x run-to-run wall-clock variance from co-tenant CPU steal
(BENCH_BASELINE.md), so a single-shot number is meaningless — the
median-of-3 with spread is the number of record.

--scaling mode: run the same engine pipeline in two fresh subprocess
clusters at N and 4N executors (local-cluster mode: real separate
executor JVMs) and report throughput at both plus scaling efficiency =
(thr_4N / thr_N) / 4 — the sandbox stand-in for the N->4N executor gate
(no real cluster here; see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def run_suite(sf_dir: str, cpus: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from spatialgraft.session import get_spark

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("spatialgraft-bench", cpus=cpus)
    qs = entrymod.queries()
    headline = [h for h in ["range_join_count", "range_join_pairs",
                            "knn_join", "pip_join_count", "tiles_points",
                            "tiles_boxes"] if h in qs]
    # extra queries (comma list, e.g. knn_k150): measured in the same
    # warm+rep loop but reported ONLY under "extra_queries" — the
    # headline value/docs_per_sec sum the fixed six alone, so records
    # stay comparable across rounds whether or not extras ran
    extra = [x for x in os.environ.get("SPARK_GRAFT_BENCH_EXTRA",
                                       "").split(",")
             if x and x in qs and x not in headline]
    measured = headline + extra

    # warm codegen/JIT for every operator shape (tiny sf) + python
    # workers + parquet footers, then once at the target sf (plan-size
    # dependent JIT) — all outside the measured region; at target scale
    # per-query JIT is noise, so steady-state is the honest number
    warm_t: dict[str, float] = {}
    for warm_sf in ("/root/testdata/sf0.001", sf_dir):
        for name in measured:
            t0 = time.perf_counter()
            qs[name](spark, warm_sf).count()
            warm_t[name] = round(time.perf_counter() - t0, 3)

    # preliminary single-pass line: if the caller's timeout kills the
    # measured reps below, its last-line parse still gets a valid
    # (warm-pass) record instead of nothing
    print(json.dumps({
        "metric": "spatial_suite_wall_sec", "unit": "sec",
        "value": round(sum(warm_t[n] for n in headline), 3),
        "queries": {n: warm_t[n] for n in headline},
        "reps": 1, "preliminary": True,
        "note": "warm pass (preliminary) — NOT the record; the "
                "median-of-reps line below supersedes this",
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
    }), flush=True)

    # every timed rep carries its own hypervisor-steal reading
    # (/proc/stat field 8 — spatialgraft/steal.py): the co-tenant
    # contention that swings walls 2-6x here is invisible to guest
    # load but IS tick-accounted by the kernel.  Measured correlation:
    # a 29.4 s knn rep read 6.0% steal (16% max 1-s spike) while the
    # 12.1 s reps in the same session read 0.24-0.31% — so the record
    # separates engine regressions from stolen windows per-rep.
    from spatialgraft.steal import StealTrace
    # ... and the record line brackets the measured region with a
    # memory-bus reading (spatialgraft/membw.py): the round-6
    # adjudication pinned every anomalous wide wall on a bus co-tenant
    # that steal ticks and CPU calibration both miss (quiet ~93 GB/s
    # at 8 procs on this box, observed as low as 23).  Bracketing, not
    # per-rep: the probe itself streams the bus for ~2 s, so running it
    # inside the rep loop would contaminate the walls it annotates.
    from spatialgraft import membw
    bw_pre = membw.probe(8)
    runs: dict[str, list[float]] = {n: [] for n in measured}
    steals: dict[str, list[float]] = {n: [] for n in measured}
    rows: dict[str, int] = {}
    for _ in range(reps):
        for name in measured:
            with StealTrace() as tr:
                t0 = time.perf_counter()
                rows[name] = qs[name](spark, sf_dir).count()
                runs[name].append(round(time.perf_counter() - t0, 3))
            steals[name].append(tr.summary()["steal_pct"])

    bw_post = membw.probe(8)
    medians = {n: round(statistics.median(v), 3) for n, v in runs.items()}
    spread = {n: [min(v), max(v)] for n, v in runs.items()}
    total = round(sum(medians[n] for n in headline), 3)

    n_docs = spark.sql(
        "SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber "
        f"FROM parquet.`{sf_dir}/lineitem.parquet`)").collect()[0][0]
    spark.stop()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "spatial_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {n: medians[n] for n in headline},
        "spread": {n: spread[n] for n in headline},
        "reps": reps,
        "sf": float(sf),
        "cpus": cpus,
        "n_docs": int(n_docs),
        "docs_per_sec": round(n_docs * len(headline) / total, 1),
        "result_rows": {n: rows[n] for n in headline},
        # per-rep hypervisor steal (% of machine, rep-aligned with the
        # walls behind "spread"): ~0.3% = clean, >2% = stolen window
        "steal_pct": {n: steals[n] for n in headline},
        # memory-bus triad GB/s bracketing the measured region
        # ([before, after]; quiet ~93 on this box): a post reading far
        # below pre flags a window that collapsed mid-suite
        "membw_p8_gbs": [bw_pre, bw_post],
    }
    if extra:
        out["extra_queries"] = {n: medians[n] for n in extra}
        out["extra_spread"] = {n: spread[n] for n in extra}
        out["extra_result_rows"] = {n: rows[n] for n in extra}
    return out


def run_scaling_workload(sf_dir: str, n_executors: int,
                         replicate: int) -> dict:
    """Scaling workload = the BASELINE.json metric verbatim: "spatial
    kNN-join + PIP-join throughput (docs/sec)" — the engine pipeline
    over the input replicated `replicate`x (spans synthesis -> Arrow
    extraction -> kNN join + PIP count; aggregate-only outputs so work,
    not result materialization, is measured).  The plain range-COUNT
    query is deliberately NOT in the gate workload: its 35-billion-pair
    probe stream is memory-bandwidth-bound, and on ONE physical box 32
    cores share the memory bus that a real 4-node cluster multiplies —
    measured per-core throughput drops ~38% from 8 to 32 local cores on
    that query while the ALU-bound kNN/PIP operators scale with the
    raw-CPU calibration.  (Capacity evidence for the range join is the
    x288 completion itself; see BENCH_BASELINE.md.)

    Runs on `local-cluster[n_executors, 8, mem]` — real separate
    executor JVMs (own GC, own python workers), the honest sandbox
    stand-in for an N- vs 4N-executor cluster (thread-mode local[n]
    shares one heap and measures GC contention, not scaling).  Shuffle
    width is fixed across levels so only executor count varies.
    Executor memory is fixed per executor (a real cluster's scale-out
    adds capacity with nodes); the workload is sized so the N level
    fits — kNN unpersists its intermediates eagerly, which is what
    made replicate >= 24 feasible at one executor."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import time as _t

    from pyspark.sql import functions as F
    from spatialgraft import datagen
    from spatialgraft.extract import with_geometry
    from spatialgraft.ops.knn import knn_join
    from spatialgraft.ops.pip import pip_join_count
    from spatialgraft.session import get_spark

    mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "20480"))
    # cores per executor: 8 mirrors a typical cluster node, but on this
    # co-tenant box the hypervisor throttles total CPU invisibly (guest
    # load stays ~0 while a busy-loop calibration measures 0.68-0.81
    # scaling from 8->32 processes) — a 2-core-executor pair (1x2 vs
    # 4x2 = 8 cores peak) stays under any plausible host cap at BOTH
    # levels, so the ratio measures the engine, not the hypervisor.
    cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "8"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    # the worker cap (master string) and the executor heap must agree —
    # without this the executors run on the 1g default
    os.environ["SPARK_GRAFT_EXECUTOR_MEM"] = f"{mem_mb}m"
    spark = get_spark(
        "spatialgraft-scaling",
        cpus=cores * n_executors,
        shuffle_partitions=64,
        master=f"local-cluster[{n_executors},{cores},{mem_mb}]")
    # wait for all executors to register before doing anything
    want = cores * n_executors
    for _ in range(60):
        if spark.sparkContext.defaultParallelism >= want:
            break
        _t.sleep(1)

    def points():
        base = with_geometry(datagen.documents_spans(spark, sf_dir))
        if replicate <= 1:
            return base
        return (base.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
            .withColumn("doc_key",
                        F.col("doc_key") * replicate + F.col("_r"))
            .drop("_r"))

    # The query sides replicate too (ids perturbed): work then scales
    # linearly while the cached point projection — the N level's real
    # capacity constraint — stays fixed, so the gate measures compute
    # scaling, not single-node cache capacity.
    qrep = int(os.environ.get("SPARK_GRAFT_QUERY_REP", "4"))

    def rep_ids(df, idcol):
        if qrep <= 1:
            return df
        return (df.withColumn("_qr", F.explode(
            F.sequence(F.lit(0), F.lit(qrep - 1))))
            .withColumn(idcol, F.col(idcol) * qrep + F.col("_qr"))
            .drop("_qr"))

    polys = rep_ids(datagen.polygons(spark, sf_dir), "poly_id")
    qs = rep_ids(datagen.knn_queries(spark, sf_dir), "qid")

    # Warm codegen/JIT for every operator shape on the un-replicated
    # input so the measured region contains only real work.  The warmup
    # must use the same lazy/eager shape as the measured run (each is a
    # different plan whose codegen the warmup exists to compile — ADVICE
    # r5: warming materialize=True while measuring the lazy variant
    # biased the recorded walls against it).
    knn_lazy = os.environ.get("SPARK_GRAFT_KNN_LAZY", "0") == "1"
    base = with_geometry(datagen.documents_spans(spark, sf_dir))
    pip_join_count(base, polys).count()
    knn_join(base, qs, k=10, materialize=not knn_lazy).count()

    # The queries run SEQUENTIALLY by default (SPARK_GRAFT_SCALE_CONC=1
    # restores the round-2 concurrent-threads protocol).  Measured this
    # round: at the WIDE level two concurrent pipelines co-schedule on
    # every executor and halve per-task execution memory in the big
    # sort stages — the kNN stage-1 sort went 659 -> 2,549 CPU core-s
    # with 160x the GC, and the concurrent 4N wall (311-491 s at x2304)
    # exceeded the serial sum (211 + 46 s) even in dirtier windows.
    # The N level never pays this (8 cores implicitly serialize the
    # jobs), so concurrency deflated only the 4N side of the gate.
    # Sequential per-op walls are also the faithful reading of the
    # BASELINE metric ("kNN-join + PIP-join throughput").
    # broadcast_queries=False: at this input scale the replicated ring
    # would be collected+built+shipped by the driver (serial seconds);
    # the cached points are already hash-partitioned by cell, so a
    # shuffled join moves only the small ring side — parallel.
    # SPARK_GRAFT_SCALE_OPS selects operators (default both) so the
    # gate can also be decomposed per operator.
    ops = os.environ.get("SPARK_GRAFT_SCALE_OPS", "pip,knn").split(",")
    from spatialgraft.ops.range import range_join_count
    boxes = rep_ids(datagen.query_boxes(spark, sf_dir), "box_id")
    # Gate defaults = the r4 engine (cached, unsalted, eager): round 5
    # A/B-measured every alternative at the 4N level on x2304
    # (bench_records/r5_ab4n_x2304.jsonl, one clean window) and the
    # incumbent won decisively — cache+nosalt 139.7 s vs nocache 206.4,
    # cache+salt8 268.0, nocache+salt8 223.9, lazy+salt8 349.8, lazy+
    # nosalt CRASH (Catalyst's static size estimate of the exploded
    # input misses the x2304 multiplicity, auto-broadcasts the 1.05B-
    # row side, dies on driver maxResultSize; the eager cache is what
    # prevents that — InMemoryRelation carries real stats).  salt=8
    # lost because the per-(cell,salt,qid) pre-rank keeps k rows PER
    # SLICE, feeding 8x the rows into the global rank (stage-1 went
    # 6.6 -> 103 s at 4N) — far more than the ~30 s stage-2 straggler
    # it removes.  Both losing knobs (uniform salt, cache off) are gone
    # from the engine; only the lazy shape stays selectable.
    # (knn_lazy is read above, before the warmup, so the warmup
    # compiles the same plan shape the measurement runs.)
    all_thunks = {
        "pip": lambda: pip_join_count(points(), polys).count(),
        "knn": lambda: knn_join(points(), qs, k=10,
                                broadcast_queries=False,
                                materialize=not knn_lazy).count(),
        # range is memory-bandwidth-bound (35-billion-pair probe
        # stream); kept out of the default gate workload (see
        # docstring) but selectable for the full-3-op bracket record
        "range": lambda: range_join_count(
            points(), boxes, broadcast_queries=False).count(),
    }
    from spatialgraft.steal import StealTrace
    from spatialgraft import membw
    thunks = [all_thunks[o] for o in ops]
    op_walls = {}
    op_steal = {}
    # bracket the leg with bus readings (round-6 adjudication: the bus
    # co-tenant is the contention channel steal ticks miss); the probe
    # streams the bus itself, so it runs outside the timed region only
    bw_pre = membw.probe(8)
    t0 = time.perf_counter()
    if os.environ.get("SPARK_GRAFT_SCALE_CONC", "0") == "1":
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
            rows = list(ex.map(lambda f: f(), thunks))
    else:
        rows = []
        for o, f in zip(ops, thunks):
            # per-op hypervisor-steal reading (spatialgraft/steal.py):
            # gate walls here have been invalidated by co-tenant bursts
            # that point-in-time probes missed (BENCH_BASELINE.md r6) —
            # the in-window tick trace settles it per op
            with StealTrace() as tr:
                t1 = time.perf_counter()
                rows.append(f())
                op_walls[o] = round(time.perf_counter() - t1, 2)
            s = tr.summary()
            op_steal[o] = {"steal_pct": s["steal_pct"],
                           "steal_max_1s_pct": s["steal_max_1s_pct"]}
    wall = time.perf_counter() - t0
    bw_post = membw.probe(8)
    # replicate is exact row multiplication — no need for another full
    # extraction pass just to count
    n_docs = base.count() * max(1, replicate)
    spark.stop()
    return {"executors": n_executors, "cores": cores * n_executors,
            "exec_mem_mb": mem_mb,
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(len(thunks) * n_docs / wall, 1),
            "n_docs": int(n_docs), "ops": ops, "qrep": qrep,
            "knn_lazy": knn_lazy,
            "rdd_compress": os.environ.get("SPARK_GRAFT_RDD_COMPRESS",
                                           "false"),
            "op_walls": op_walls or None,
            "op_steal": op_steal or None,
            # memory-bus triad GB/s bracketing the leg ([before,
            # after]; quiet ~93 at 8 procs on this box)
            "membw_p8_gbs": [bw_pre, bw_post],
            # executor shuffle dirs: local-cluster executors take
            # SPARK_LOCAL_DIRS (session.get_spark sets it to the tmpfs
            # dir), NOT spark.local.dir — record which was in effect
            "executor_local_dirs": os.environ.get(
                "SPARK_LOCAL_DIRS", "/tmp (spark default)"),
            "rows": rows}


def run_scaling(sf_dir: str, n_exec: int = 1, replicate: int = 24) -> dict:
    out = {}
    for ne in (n_exec, 4 * n_exec):
        env = dict(os.environ, SPARK_GRAFT_EXECUTORS=str(ne),
                   SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_REPLICATE=str(replicate))
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-one"],
            capture_output=True, text=True, env=env)
        lines = [ln for ln in r.stdout.strip().splitlines()
                 if ln.startswith("{")]
        if r.returncode != 0 or not lines:
            return {
                "metric": "scaling_efficiency_N_to_4N",
                "value": None,
                "error": f"level {ne} executors failed "
                         f"(rc={r.returncode})",
                "stderr_tail": r.stderr[-2000:],
                "replicate": replicate,
            }
        out[ne] = json.loads(lines[-1])
    thr_n = out[n_exec]["docs_per_sec"]
    thr_4n = out[4 * n_exec]["docs_per_sec"]
    eff = (thr_4n / thr_n) / 4 if thr_n else 0.0
    return {
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff, 3),
        "unit": "ratio",
        "N_executors": n_exec,
        "executor_cores": 8,
        "replicate": replicate,
        "docs_per_sec_N": thr_n,
        "docs_per_sec_4N": thr_4n,
        "wall_sec_N": out[n_exec]["wall_sec"],
        "wall_sec_4N": out[4 * n_exec]["wall_sec"],
        "n_docs": out[n_exec]["n_docs"],
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--scaling-one" in sys.argv:
        ne = int(os.environ.get("SPARK_GRAFT_EXECUTORS", "4"))
        rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "24"))
        print(json.dumps(run_scaling_workload(sf_dir, ne, rep)))
    elif "--scaling" in sys.argv:
        rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "24"))
        print(json.dumps(run_scaling(sf_dir, replicate=rep)))
    else:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(run_suite(sf_dir, cpus)))
