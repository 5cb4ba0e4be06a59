"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 10 --trace 0

Runs one workload against the engine on ``local[<cores>]`` from one
closed-loop client thread, checks every answer, and prints a report
followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that alternates untraced and traced units and reports the per-layer
metrics (see perfbench/README.md). ``--selftest`` corrupts one expected
answer and exits non-zero unless exactly that query's requests are counted
as failures.

Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout; generated tables and DuckDB answers are cached there.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "latency_p80_s": "s",
              "requests_per_s": "1/s", "examples_per_s": "1/s"}
FAMILIES = ["relational", "events", "timeseries", "stats_queries", "flatten"]
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "tables.warm_s": "s", "tables.memo_hit_ratio": "ratio",
    "plans.plan_s": "s", "plans.rows_scanned_per_row_returned": "ratio",
    "exec.s": "s", **{f"exec.s.{f}": "s" for f in FAMILIES},
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "deliver.s": "s", "deliver.rows": "count",
    "tfrecord.write_s": "s", "tfrecord.write_examples_per_s": "1/s",
    "tfrecord.bytes_per_example": "B",
    "streaming.land_s": "s", "streaming.land_examples_per_s": "1/s",
    "io.bytes_written_per_input_byte": "ratio",
    "stats.ndv_catalog_s": "s", "stats.ndv_max_rel_err": "ratio",
    "ml.train_linear_s": "s", "ml.auc": "ratio",
    "trace.overhead_ratio": "ratio",
    # peak RSS varies by a third between runs (JVM heap growth), so it is
    # reported per layer, without a bound
    "peak_rss_mb": "MB",
}


def _sweep_stale(cache: str) -> None:
    """Remove per-process scratch directories left by killed runs."""
    for d in os.listdir(cache) if os.path.isdir(cache) else []:
        tag, _, pid = d.rpartition("-")
        if tag in ("tmp", "tfrecord") and pid.isdigit() \
                and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def _environment(cache: str, tmp: str) -> int:
    """Point the engine, its JVM and its Python workers at the checkout
    and keep their scratch files inside it. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.makedirs(tmp, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores


def _setup(w) -> tuple[object, dict]:
    """One cold set-up: engine session, registry, workload warm-up."""
    import harness
    t0 = time.perf_counter()
    spark, get_spark_s = harness.cold_start("perfbench")
    t1 = time.perf_counter()
    from columnar_estimator_sample_spark import registry
    registry.queries()
    t2 = time.perf_counter()
    w.warm_up(spark)
    t3 = time.perf_counter()
    return spark, {"total": t3 - t0, "get_spark": get_spark_s,
                   "registry": t2 - t1, "warm": t3 - t2}


def run(args, cache: str, cores: int) -> dict:
    import check
    import harness
    import workloads
    w = workloads.WORKLOADS[args.workload](args.seed, args.seconds, cache,
                                           bool(args.trace))
    spark, setup = _setup(w)
    t0 = time.perf_counter()
    w.prepare()  # expected answers: the benchmark's own work
    phases = {"prepare": time.perf_counter() - t0}
    if args.selftest:
        victim = workloads.OLAP_POOL[0]
        w.expected[victim] = check.corrupt(w.expected[victim])
    records = []
    tracer, off = harness.Tracer(True), harness.Tracer(False)
    # peak RSS is a per-layer metric: untraced runs skip the /proc walks
    rss = harness.RssSampler() if args.trace else contextlib.nullcontext()
    try:
        with rss:
            t0 = time.perf_counter()
            w.prime(spark)
            t_loop = time.perf_counter()
            phases["prime"] = t_loop - t0
            units = w.units(spark, lambda u: tracer if args.trace and u % 2
                            else off)
            for u, reqs in enumerate(units):
                for r in reqs:
                    t0 = time.perf_counter()
                    try:
                        info, ok = r.fn(), True
                    except Exception:  # noqa: BLE001 - counted, reported
                        info, ok = {}, False
                        print(f"request {r.rid} failed:\n"
                              f"{traceback.format_exc()}", file=sys.stderr)
                    records.append({"rid": r.rid, "label": r.label, "unit": u,
                                    "traced": bool(args.trace and u % 2),
                                    "ok": ok,
                                    "latency": time.perf_counter() - t0,
                                    **info})
            loop_s = time.perf_counter() - t_loop
        report = None
        if args.trace and tracer.spans:
            path = os.path.join(cache, "traces",
                                f"{args.workload}-seed{args.seed}.ndjson")
            tracer.write_chrome_trace(path)
            report = _span_report(spark, path)
            for sp, self_s in zip(tracer.spans, tracer.self_times()):
                report[sp["name"]]["self_s"] = (
                    report[sp["name"]].get("self_s", 0.0) + self_s)
    finally:
        harness.shutdown(spark)
        close = getattr(w, "close", None)
        if close:
            close()
    return {"w": w, "records": records, "loop_s": loop_s, "setup": setup,
            "peak_rss": getattr(rss, "peak_bytes", 0), "span_report": report,
            "cores": cores, "phases": phases}


def _span_report(spark, path: str) -> dict[str, dict]:
    """The trace file read back through the engine's own trace pipeline
    (operators.flatten.flatten_trace -> trace_top_ops)."""
    from columnar_estimator_sample_spark.operators.flatten import (
        flatten_trace,
        trace_top_ops,
    )
    rows = trace_top_ops(flatten_trace(spark, path), k=20).collect()
    return {r["arg_name"]: r.asDict() for r in rows}


def end_to_end(res: dict) -> dict[str, float]:
    import harness
    recs = [r for r in res["records"] if not r["traced"]]
    lat = [r["latency"] for r in recs if r["ok"]] or [0.0]
    done = sum(r["ok"] for r in recs)
    examples = sum(r.get("examples", r.get("rows", 0)) for r in recs if r["ok"])
    loop_s = res["loop_s"]
    return {
        "setup_s": res["setup"]["total"],
        "latency_p50_s": harness.percentile(lat, 50),
        "latency_p80_s": harness.percentile(lat, 80),
        "requests_per_s": done / loop_s,
        "examples_per_s": examples / loop_s,
    }


def per_layer(res: dict) -> dict[str, float]:
    import harness
    setup, span = res["setup"], res["span_report"] or {}
    traced = [r for r in res["records"] if r["traced"] and r["ok"]]
    # overhead compares like with like: the traced-only training request
    # has no untraced twin
    plain = [r["latency"] for r in res["records"]
             if not r["traced"] and r["ok"]]
    same = [r["latency"] for r in traced if r["label"] != "train"]
    fams = getattr(res["w"], "families", {})

    def span_avg(name: str) -> float:
        return span[name]["avg_dur"] / 1e6 if name in span else 0.0

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def ratio(a, b) -> float:
        return a / b if b else 0.0

    c = [r["counters"] for r in traced if "counters" in r]
    builds = [r for r in traced if "build_jobs" in r]
    ingest = [r for r in traced if "write_s" in r]
    trains = [r for r in traced if r["label"] == "train"]
    exec_total = sum(x["exec_s"] for x in c)
    m = {
        "session.get_spark_s": setup["get_spark"],
        "registry.load_s": setup["registry"],
        "registry.build_s": span_avg("registry.build"),
        "registry.build_jobs": mean(r["build_jobs"] for r in builds),
        "tables.warm_s": setup["warm"],
        "tables.memo_hit_ratio": ratio(
            sum(r["build_jobs"] == 0 for r in builds), len(builds)),
        "plans.plan_s": span_avg("plans.plan"),
        "plans.rows_scanned_per_row_returned": ratio(
            sum(r["scan_rows"] for r in builds),
            sum(r["rows"] for r in builds)),
        "exec.s": mean(x["exec_s"] for x in c),
        "exec.jobs": mean(x["jobs"] for x in c),
        "exec.stages": mean(x["stages"] for x in c),
        "exec.tasks": mean(x["tasks"] for x in c),
        "exec.task_busy_s": mean(x["task_busy_s"] for x in c),
        "exec.core_util": ratio(sum(x["task_busy_s"] for x in c),
                                exec_total * res["cores"]),
        "exec.shuffle_write_mb": mean(x["shuffle_write_mb"] for x in c),
        "exec.spill_mb": mean(x["spill_mb"] for x in c),
        "exec.gc_s": mean(x["gc_s"] for x in c),
        "deliver.s": mean(max(r["collect_s"] - r["counters"]["exec_s"], 0.0)
                          for r in builds),
        "deliver.rows": mean(r["rows"] for r in builds),
        "tfrecord.write_s": span_avg("tfrecord.write"),
        "tfrecord.write_examples_per_s": ratio(
            sum(r["examples"] for r in ingest), sum(r["write_s"] for r in ingest)),
        "tfrecord.bytes_per_example": ratio(
            sum(r["shard_bytes"] for r in ingest),
            sum(r["examples"] for r in ingest)),
        "streaming.land_s": span_avg("streaming.land"),
        "streaming.land_examples_per_s": ratio(
            sum(r["examples"] for r in ingest), sum(r["land_s"] for r in ingest)),
        "io.bytes_written_per_input_byte": ratio(
            sum(r["landed_bytes"] for r in ingest),
            sum(r["shard_bytes"] for r in ingest)),
        "stats.ndv_catalog_s": span_avg("stats.ndv_catalog"),
        "stats.ndv_max_rel_err": max((r["ndv_rel_err"] for r in ingest),
                                     default=0.0),
        "ml.train_linear_s": span_avg("ml.train_linear"),
        "ml.auc": mean(r["auc"] for r in trains),
        "trace.overhead_ratio": ratio(
            harness.percentile(same, 50) if same else 0.0,
            harness.percentile(plain, 50) if plain else 0.0),
        "peak_rss_mb": res["peak_rss"] / 2**20,
    }
    for f in FAMILIES:
        m[f"exec.s.{f}"] = mean(r["counters"]["exec_s"] for r in builds
                                if fams.get(r.get("query")) == f)
    return m


def _print_report(args, res: dict, e2e: dict, layers: dict | None) -> None:
    recs = res["records"]
    n_fail = sum(not r["ok"] for r in recs)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cores {res['cores']}: {len(recs)} requests, {n_fail} failed, "
          f"error_rate {n_fail / max(len(recs), 1):.4f}, "
          f"loop {res['loop_s']:.2f} s, " + ", ".join(
              f"{k} {v:.2f} s" for k, v in res["phases"].items()))
    print("setup (s): " + ", ".join(f"{k} {v:.3f}"
                                    for k, v in res["setup"].items()))
    print("latencies (s): " + " ".join(
        f"{r['label']}={r['latency']:.3f}{'' if r['ok'] else '!'}"
        for r in recs))
    if not layers:
        for k, v in e2e.items():
            print(f"  {k:34s} {v:14.6f} {END_TO_END[k]}")
    else:
        for k, v in layers.items():
            print(f"  {k:34s} {v:14.6f} {PER_LAYER[k]}")
        print("spans (trace_top_ops over the trace file): name, total s, "
              "avg s, self total s")
        for name, row in (res["span_report"] or {}).items():
            print(f"  {name:22s} {row['total_dur'] / 1e6:10.3f} "
                  f"{row['avg_dur'] / 1e6:10.4f} {row['self_s']:10.3f}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["olap_warm", "tfrecord_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args(argv)
    if args.selftest and args.workload != "olap_warm":
        p.error("--selftest runs on olap_warm")
    if not os.path.isdir(os.path.join(ROOT, "columnar_estimator_sample_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    _sweep_stale(cache)
    tmp = os.path.join(cache, f"tmp-{os.getpid()}")
    cores = _environment(cache, tmp)
    try:
        res = run(args, cache, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    e2e = end_to_end(res)
    layers = per_layer(res) if args.trace else None
    _print_report(args, res, e2e, layers)
    recs = res["records"]
    failed = sum(not r["ok"] for r in recs)
    if args.selftest:
        from workloads import OLAP_POOL
        victim = OLAP_POOL[0]
        bad = {r["label"] for r in recs if not r["ok"]}
        n_victim = sum(r["label"] == victim for r in recs)
        ok = bad == {victim} and failed == n_victim
        print(f"selftest: {failed} failed requests, all of {victim}: {ok}")
        return 0 if ok else 1
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
