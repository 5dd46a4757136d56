"""One fresh benchmark process: start the session, load the registry,
run the workload's passes in a closed loop with one client, then check
every query's output. Prints one JSON line with the raw measurements.

Started by ``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Module-level dicts that only the bench-only cache mode fills; a run of
# the shipped program must leave every one of them empty.
BENCH_ONLY_CACHES = (
    ("glonassdatamining_spark.sources", "_TABLE_CACHE"),
    ("glonassdatamining_spark.sources", "_SPLIT_DONE"),
    ("glonassdatamining_spark.operators.spatiotemporal", "_FIXES_CACHE"),
    ("glonassdatamining_spark.operators.spatiotemporal", "_PADDED_CACHE"),
    ("glonassdatamining_spark.operators.spatiotemporal", "_WKB_FRAME_CACHE"),
)
MIN_WARM_PASSES = 4


def _load_conftest():
    """The repository's oracle connection and frame comparator."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_pass(tracer, spark, builders, order, data_dir, trace, pass_sid):
    """One pass: for each query, call its builder, then materialize the
    result with a JVM-side noop write. Returns per-query records and the
    DataFrames built (for the output check)."""
    sc = spark.sparkContext
    records, frames = {}, {}
    for q in order:
        qs = tracer.begin(q, "query", pass_sid)
        rec = {"ok": False}
        try:
            b = tracer.begin("build", "build", qs)
            if trace:
                sc.setJobGroup(tracer.group(b), f"{q} build")
            t0 = time.perf_counter()
            try:
                df = builders[q](spark, data_dir)
            finally:
                rec["build_s"] = time.perf_counter() - t0
                tracer.end(b)
            e = tracer.begin("exec", "exec", qs)
            if trace:
                sc.setJobGroup(tracer.group(e), f"{q} exec")
            t1 = time.perf_counter()
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                rec["exec_s"] = time.perf_counter() - t1
                tracer.end(e)
            rec["ok"] = True
            frames[q] = df
        except Exception:  # a failing query is counted, the run goes on
            rec["error"] = traceback.format_exc(limit=3)
        tracer.end(qs)
        rec["lat_s"] = rec.get("build_s", 0.0) + rec.get("exec_s", 0.0)
        records[q] = rec
    return records, frames


def _check(spark, builders, frames, queries, data_dir):
    """Untimed output check: oracle comparison where the query has a
    DuckDB oracle, else the recorded row count. Returns failures."""
    from glonassdatamining_spark import registry
    from workloads import ROWS_ONLY

    conftest = _load_conftest()
    con = conftest.oracle_con(data_dir)
    expected_rows = ROWS_ONLY[os.path.basename(data_dir.rstrip("/"))]
    failures = {}
    try:
        for q in queries:
            try:
                df = frames[q] if q in frames else builders[q](spark, data_dir)
                got = df.toPandas()
                if len(got) == 0:
                    raise AssertionError(f"{q}: empty result")
                oracle = registry.get(q).oracle
                if oracle is None:
                    if len(got) != expected_rows[q]:
                        raise AssertionError(
                            f"{q}: {len(got)} rows, expected {expected_rows[q]}")
                else:
                    conftest.compare_frames(got, con.execute(oracle).fetchdf(), q)
            except Exception:  # recorded as a failed check, next query runs
                failures[q] = traceback.format_exc(limit=3)
    finally:
        con.close()
    return failures


def _conditions(spark, args, cores):
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cores": cores,
        "master": spark.sparkContext.master,
        "sf": os.path.basename(args.data.rstrip("/")),
        "seed": args.seed,
        "seconds": args.seconds,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "python": sys.version.split()[0],
        "cache_tables_env": os.environ.get("SPARK_GRAFT_CACHE_TABLES"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from spans import GROUP_PREFIX, SparkStatus, Tracer, pass_layers, spark_spans, with_self_times
    from workloads import WORKLOADS

    tracer = Tracer()
    run_sid = tracer.begin("run", "run", workload=args.workload, seed=args.seed)
    setup_sid = tracer.begin("setup", "setup", run_sid)
    session_sid = tracer.begin("session.get_spark", "session", setup_sid)
    from glonassdatamining_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.end(session_sid)
    registry_sid = tracer.begin("registry.all_queries", "registry", setup_sid)
    from glonassdatamining_spark import registry

    builders = registry.all_queries()
    tracer.end(registry_sid)
    tracer.end(setup_sid)
    out = {"ready_mono": time.monotonic(),
           "session_s": tracer.duration(session_sid),
           "registry_s": tracer.duration(registry_sid)}
    try:
        sc = spark.sparkContext
        cores = sc.defaultParallelism
        queries = WORKLOADS[args.workload]["queries"]
        rng = random.Random(args.seed)
        status = SparkStatus(sc) if args.trace else None

        passes, frames = [], {}
        warm_start = None
        while True:
            # The cold pass runs in the listed order, as a batch job
            # would: first-touch costs (JIT, Python worker start) land on
            # the first queries, and a fixed order keeps each query's
            # cold time comparable across seeds. Warm passes are permuted.
            order = list(queries)
            if passes:
                rng.shuffle(order)
            p = len(passes)
            pass_sid = tracer.begin(f"pass{p}", "pass", run_sid, warm=p > 0)
            records, frames = _run_pass(tracer, spark, builders, order, args.data,
                                        args.trace, pass_sid)
            tracer.end(pass_sid)
            passes.append({"sid": pass_sid, "wall_s": tracer.duration(pass_sid),
                           "order": order, "queries": records})
            if status is not None:
                status.poll()
            if warm_start is None:
                warm_start = time.monotonic()
                continue
            if len(passes) - 1 >= MIN_WARM_PASSES and time.monotonic() - warm_start >= args.seconds:
                break

        if args.trace:
            sc.setJobGroup(f"{GROUP_PREFIX}check", "output check")
        failures = _check(spark, builders, frames, queries, args.data)

        leaks = [f"{mod}.{name}" for mod, name in BENCH_ONLY_CACHES
                 if getattr(importlib.import_module(mod), name, None)]
        out.update({
            "passes": [{k: v for k, v in p.items() if k != "sid"} for p in passes],
            "check_failures": failures,
            "bench_only_caches_filled": leaks,
            "conditions": _conditions(spark, args, cores),
        })
        if args.trace:
            modules = {q: registry.get(q).builder.__module__.rsplit(".", 1)[-1] for q in queries}
            names = sorted({m for w in WORKLOADS.values() for m in
                            (registry.get(q).builder.__module__.rsplit(".", 1)[-1]
                             for q in w["queries"])})
            per_pass = [pass_layers(tracer, status, p["sid"], cores, modules, names)
                        for p in passes[1:]]
            layers = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
            layers["session.start_s"] = out["session_s"]
            layers["registry.load_s"] = out["registry_s"]
            layers["trace.pass_s"] = statistics.median(p["wall_s"] for p in passes[1:])
            out["layers"] = layers
            tracer.end(run_sid)
            if args.trace_out:
                spans = with_self_times(tracer.spans + spark_spans(tracer, status))
                with open(args.trace_out, "w") as fh:
                    json.dump(spans, fh)
    finally:
        spark.stop()
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
