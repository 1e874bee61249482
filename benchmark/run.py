"""spatialgraft benchmark: one seeded workload, run as a closed loop.

    python3 benchmark/run.py --workload count_joins --seed 1 --seconds 5 \
        --trace 0

One driver process runs the engine on local[nproc].  Each timed call
starts only after the previous one returned, as callers that wait for
their result would.  A run:

  1. generates the workload's inputs from --seed (benchmark/gen.py);
  2. starts the session and runs two untimed warm-up passes at the target
     size: a reference pass that collects every call's rows, then a pass
     of the exact shape that is timed, each call ending in the digest
     sink (session start plus both passes is setup_s);
  3. runs whole passes until --seconds have elapsed, at least one, each
     call ending in a digest sink that must match the reference pass;
  4. with --trace 1, restarts the session with Spark's event log on,
     runs one more pass and then times each layer on its own
     (benchmark/layers.py);
  5. compares the reference rows with the DuckDB oracles, deletes its
     scratch directory, prints how many passes were timed and then one
     JSON line: the end-to-end metrics, or with --trace 1 the per-layer
     metrics.

End-to-end metrics, from the timed passes (median over passes):
  setup_s     session start plus both warm-up passes
  docs_per_s  generated docs x calls per pass / pass wall
  call_gm_s   geometric mean of the per-call median walls
  pass_cpu_s  CPU seconds the driver JVM and its Python workers spent
              per pass

The run record (per-call walls, steal per call, peak RSS, spans, session
settings, input record) is written to .bench_out/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import workloads as W  # noqa: E402
from spatialgraft.steal import StealTrace  # noqa: E402

E2E_UNITS = {"setup_s": "s", "docs_per_s": "docs/s", "call_gm_s": "s",
             "pass_cpu_s": "s"}


def run_call(call: W.Call, ctx: W.Ctx, sink, spans: harness.Spans,
             parent: int | None, sc=None, group_prefix: str | None = None
             ) -> dict:
    """Build the call's DataFrame and end it in `sink`; a call that raises
    is recorded, not fatal."""
    group = f"{group_prefix}:{call.name}" if group_prefix else None
    result, err = None, None
    with StealTrace() as tr, spans.span(call.name, parent, sc, group,
                                        kind="call"):
        t0 = time.perf_counter()
        try:
            result = sink(call.build(ctx))
        except Exception as e:
            err = f"{type(e).__name__}: {e}"[:300]
        wall = time.perf_counter() - t0
    return {"call": call.name, "wall_s": wall, "result": result,
            "steal_pct": tr.summary()["steal_pct"], "error": err}


def run_pass(wl: W.Workload, ctx, sink, spans, parent, sc=None,
             group_prefix=None) -> list[dict]:
    """One pass: the workload's calls in order, each after the last one
    returned."""
    return [run_call(W.CALLS[n], ctx, sink, spans, parent, sc, group_prefix)
            for n in wl.calls]


def oracle_check(wl: W.Workload, ref: dict, inputs: dict,
                 orc: check.Oracles) -> dict[str, str]:
    """call -> reason, for every reference output that differs from its
    oracle or breaks an invariant."""
    bad: dict[str, str] = {}
    for name in wl.calls:
        call, t = W.CALLS[name], ref.get(name)
        if t is None:
            continue
        o = call.oracle
        got = check.sample_rows(t, o.out_id, o.sample[2]) if o.sample else t
        why = check.same_rows(got, orc.rows(o.key, o.sample))
        if why is None and call.knn_k is not None:
            why = check.knn_rows_per_query(t, call.knn_k, inputs["n_docs"],
                                           inputs["n_queries"])
        if why:
            bad[name] = why
    if "range_count" in ref:
        # every matched pair is counted once
        got = int(ref["range_count"].column("cnt").to_numpy().sum())
        want = orc.scalar("count(*)", "range_join_pairs")
        if got != want:
            bad["range_count"] = f"sum(cnt) {got} != pairs {want}"
    return bad


def measure(wl: W.Workload, a, inputs: dict, scratch: str, cpus: int,
            spans: harness.Spans, settings: dict, orc: check.Oracles
            ) -> dict:
    """Everything that needs the session; returns the raw run."""
    spark = None
    traced = None
    try:
        with spans.span(f"workload:{wl.name}", kind="workload") as wl_sid:
            # set-up: session start, then the reference pass and a pass
            # of the timed shape (warm-up)
            t0 = time.perf_counter()
            spark = harness.start_session(f"sg-bench-{wl.name}", cpus)
            start_s = time.perf_counter() - t0
            settings["spark.local.dir"] = spark.conf.get("spark.local.dir")
            settings["spark.sql.shuffle.partitions"] = spark.conf.get(
                "spark.sql.shuffle.partitions")
            ctx = W.Ctx(spark, inputs["dir"], os.path.join(scratch, "work"))
            with spans.span("pass:reference", wl_sid, kind="pass") as psid:
                ref_pass = run_pass(wl, ctx, check.reference_sink, spans,
                                    psid)
            with spans.span("pass:warm", wl_sid, kind="pass") as psid:
                warm_pass = run_pass(wl, ctx, check.digest_sink, spans, psid)
            setup_s = time.perf_counter() - t0

            # timed region: whole passes until --seconds have elapsed
            passes: list[list[dict]] = []
            with harness.RssPeak() as rss:
                cpu0 = harness.tree_cpu_s()
                t_region = time.perf_counter()
                while (not passes or
                       time.perf_counter() - t_region < a.seconds):
                    with spans.span(f"pass:{len(passes)}", wl_sid,
                                    kind="pass") as psid:
                        passes.append(run_pass(wl, ctx, check.digest_sink,
                                               spans, psid))
                cpu_s = harness.tree_cpu_s() - cpu0

            if a.trace:
                import layers
                harness.enable_event_log(spark, os.path.join(scratch, "ev"))
                spark.stop()
                spark = harness.start_session(f"sg-bench-{wl.name}-traced",
                                              cpus)
                ctx = W.Ctx(spark, inputs["dir"],
                            os.path.join(scratch, "work"))
                traced = layers.traced_run(wl, ctx, spans, wl_sid, ref_pass,
                                           inputs, orc, run_pass)
    finally:
        # stopping the context also flushes the event log
        harness.stop_all(spark)
    return {"start_s": start_s, "setup_s": setup_s, "ref_pass": ref_pass,
            "warm_pass": warm_pass, "passes": passes, "peak_rss": rss.peak,
            "cpu_s": cpu_s, "traced": traced}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spatialgraft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    wl = W.WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".bench_scratch",
                           f"{wl.name}-{a.seed}-{os.getpid()}")
    try:
        inputs = gen.generate(a.seed, os.path.join(scratch, "in"))
        settings = harness.fit_session_env(scratch, cpus)
        settings["duckdb_threads"] = cpus
        spans = harness.Spans()
        orc = check.Oracles(inputs["dir"], cpus)
        try:
            raw = measure(wl, a, inputs, scratch, cpus, spans, settings, orc)
            # output checks, outside every timed region
            t_check = time.perf_counter()
            ref_pass, passes = raw["ref_pass"], raw["passes"]
            ref = {r["call"]: r["result"][1] for r in ref_pass
                   if r["result"]}
            failures = {r["call"]: r["error"] for r in ref_pass
                        if r["error"]}
            failures.update(oracle_check(wl, ref, inputs, orc))
            check_s = time.perf_counter() - t_check
        finally:
            orc.close()
        ref_digest = {r["call"]: r["result"][0] for r in ref_pass
                      if r["result"]}
        failed = len(failures)
        attempted = len(ref_pass)
        # the warm-up pass's digests are checked like the timed ones
        for r in (r for p in [raw["warm_pass"], *passes] for r in p):
            attempted += 1
            if not r["error"] and r["result"] != ref_digest.get(r["call"]):
                r["error"] = "digest differs from the reference pass"
            if r["error"]:
                failed += 1
                failures.setdefault(r["call"], r["error"])

        per_call = {n: [r["wall_s"] for p in passes for r in p
                        if r["call"] == n and not r["error"]]
                    for n in wl.calls}
        med = {n: statistics.median(v) for n, v in per_call.items() if v}
        pass_walls = [sum(r["wall_s"] for r in p) for p in passes
                      if not any(r["error"] for r in p)]
        pass_s = statistics.median(pass_walls) if pass_walls else 0.0
        e2e = {
            "setup_s": raw["setup_s"],
            # every call of both workloads scans the generated documents
            "docs_per_s": (inputs["n_docs"] * len(wl.calls) / pass_s
                           if pass_s else 0.0),
            "call_gm_s": (math.exp(statistics.fmean(
                math.log(v) for v in med.values()))
                if len(med) == len(wl.calls) else 0.0),
            # CPU seconds of the driver JVM and its Python workers
            "pass_cpu_s": raw["cpu_s"] / len(passes),
        }
        layer_metrics: dict[str, float] = {}
        if a.trace:
            import layers
            traced = raw["traced"]
            groups = layers.event_log_groups(os.path.join(scratch, "ev"),
                                             traced["failures"])
            # the event log counts as one more check
            attempted += traced["checked"] + 1
            failed += len(traced["failures"])
            failures.update(traced["failures"])
            layer_metrics = layers.finish(
                traced, groups, cpus, pass_s,
                {"session.start_s": raw["start_s"],
                 "session.warm_s": raw["setup_s"] - raw["start_s"],
                 "peak_rss_mb": raw["peak_rss"] / 2**20,
                 "fail_rate": failed / attempted},
                [r["steal_pct"] for p in passes for r in p])

        record = {
            "workload": wl.name, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "inputs": inputs, "session": settings,
            "session_start_s": raw["start_s"], "passes": len(passes),
            "pass_walls_s": pass_walls, "check_s": check_s,
            "peak_rss_mb": raw["peak_rss"] / 2**20,
            "calls": {n: {"median_s": med.get(n), "walls_s": per_call[n],
                          "steal_pct": [r["steal_pct"] for p in passes
                                        for r in p if r["call"] == n]}
                      for n in wl.calls},
            "failures": failures, "e2e": e2e, "layers": layer_metrics,
            "spans": spans.items,
        }
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"{wl.name}-seed{a.seed}-trace{a.trace}.json"),
                "w") as f:
            json.dump(record, f, indent=1)
        for call, why in failures.items():
            print(f"FAIL {call}: {why}", file=sys.stderr)

        if a.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                       layers.with_units(layer_metrics).items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
        print(f"timed passes: {len(passes)} of {len(wl.calls)} calls; "
              f"metrics are medians over them")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
