"""Feature-store benchmark: one closed-loop client over the public
``FeatureStore`` API and the Parquet version store.

    python3 fsbench/run.py --workload train_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the spans of the run are
written to ``fsbench/out/trace_<workload>_seed<seed>.json``.

A run: start Spark at ``local[min(4, cpus)]``, generate the inputs from the
seed, set the store up ``SETUP_REPEATS`` times (``setup_s`` is the median),
run one checked warm-up operation, then a fixed number of timed operations
(``ops_per_10s`` scaled by ``--seconds``, so every commit does the same
work), check every output against a brute-force oracle outside the timed
region, and stop Spark, waiting for the JVM to exit.

A traced run does the same work with every operation traced. It reports
per-layer self time (summing to the operations' wall time), Spark stage
metrics per API call, ``trace.op_s_p50`` to set against the untraced run's
``op_s_p50``, and ``trace.overhead_s``, the time spent in tracing code.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3
DRIVER_MEM = "1g"

OP_APIS = ("get_training_set", "get_online", "get", "append", "materialize_online",
           "dedup_batch", "knn_batch", "refresh_dedup_index", "refresh_vector_index")
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


def configure_env(work: Path) -> None:
    """Pin the Spark session before the package is imported: core count,
    shuffle partitions, driver heap, and every temporary path inside ``work``."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
    })
    time.tzset()
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric(value, unit):
    return {"value": value, "unit": unit}


def set_up(wl, work: Path) -> tuple[list[float], Path]:
    """Build a fresh store ``SETUP_REPEATS`` times; the last one
    stays for the timed loop."""
    times = []
    for r in range(SETUP_REPEATS):
        root = work / f"store{r}"
        t0 = time.perf_counter()
        wl.setup(root)
        times.append(time.perf_counter() - t0)
        if r < SETUP_REPEATS - 1:
            shutil.rmtree(root)
    return times, root


def run_ops(wl, tracer, n_ops: int, trace: bool) -> list[dict]:
    """The closed loop. Only ``op`` is timed; an operation that raises or
    returns a wrong output is failed."""
    ops = []
    for i in range(n_ops):
        prep = wl.prepare(i)
        rec = {"errors": []}
        tracer.active = trace
        t0 = time.perf_counter()
        try:
            with tracer.span("client.op"):
                out = wl.op(i, prep)
        except Exception as exc:
            traceback.print_exc()
            rec["errors"].append(f"op {i} raised {exc!r}")
            out = None
        rec["wall"] = time.perf_counter() - t0
        tracer.active = False
        if out is None:
            wl.advance(i, prep)
        else:
            rec.update((k, out[k]) for k in ("batch_s", "lookup_ms", "freshness_s"))
            rec["errors"] += [f"op {i}: {e}" for e in wl.check(i, prep, out)]
        ops.append(rec)
    return ops


def end_to_end(setup_times, ops, rss_mb, store_bytes, live_rows) -> dict:
    ops = [o for o in ops if "batch_s" in o]
    return {
        "setup_s": metric(median(setup_times), "s"),
        "op_s_p50": metric(median([o["wall"] for o in ops]), "s"),
        "batch_s_p50": metric(median([x for o in ops for x in o["batch_s"]]), "s"),
        "lookup_ms_p50": metric(median([x for o in ops for x in o["lookup_ms"]]), "ms"),
        "freshness_s_p50": metric(median([o["freshness_s"] for o in ops]), "s"),
        "peak_rss_mb": metric(rss_mb, "MiB"),
        "store_bytes_per_row": metric(store_bytes / live_rows, "B/row"),
    }


def per_layer(sc, tracer, client, ops, wl, start_s) -> tuple[dict, dict]:
    from tracing import stage_metrics, uncovered

    calls = [c for c in client.calls if c["traced"]]
    stages = stage_metrics(sc, {c["group"] for c in calls})
    m = {"session.start_s": metric(start_s, "s")}
    for api in OP_APIS:
        mine = [c for c in calls if c["api"] == api]
        m[f"store.{api}.calls"] = metric(len(mine), "count")
        m[f"store.{api}.s"] = metric(sum(c["s"] for c in mine), "s")
        m[f"store.{api}.driver_s"] = metric(sum(c.get("driver_s", c["s"]) for c in mine), "s")
        m[f"store.{api}.errors"] = metric(sum(c["error"] for c in mine), "count")
        st = [stages[c["group"]] for c in mine]
        for f in SPARK_FIELDS:
            unit = "s" if f.endswith("_s") else "bytes" if f.endswith("bytes") else "count"
            m[f"spark.{api}.{f}"] = metric(sum(s[f] for s in st), unit)
        m[f"spark.{api}.sched_wait_s"] = metric(
            sum(uncovered(c["start"], c["end"], s["intervals"]) for c, s in zip(mine, st)), "s")
    reg = [s for s in tracer.spans if s["name"].startswith("registry.")]
    for name in ("write_version", "read_version", "drop_version"):
        rs = [s for s in reg if s["name"] == f"registry.{name}"]
        m[f"registry.{name}.calls"] = metric(len(rs), "count")
        m[f"registry.{name}.s"] = metric(sum(s["end"] - s["start"] for s in rs), "s")
    m["registry.bytes_written"] = metric(sum(s.get("bytes_written", 0) for s in reg), "bytes")
    selfs = tracer.self_times()
    for layer in ("client", "store", "registry"):
        m[f"self.{layer}_s"] = metric(selfs.get(layer, 0.0), "s")
    walls = [o["wall"] for o in ops]
    m["trace.op_s"] = metric(sum(walls), "s")
    m["trace.op_s_p50"] = metric(median(walls), "s")
    m["trace.overhead_s"] = metric(tracer.overhead_s, "s")
    t = getattr(wl, "manifest_totals", None)
    m["dedup.verified_per_candidate"] = metric(
        t["fuzzy"] / t["candidates"] if t and t["candidates"] else 0.0, "ratio")
    m["dedup.candidates_per_doc"] = metric(
        t["candidates"] / t["docs"] if t and t["docs"] else 0.0, "ratio")
    rec = getattr(wl, "recall", {})
    m["dedup.recall"] = metric(median(rec.get("dedup", [])), "ratio")
    m["knn.recall_at_10"] = metric(median(rec.get("knn", [])), "ratio")
    return m, stages


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ml_feature_store_spark" / "store.py").is_file():
        print(f"fsbench: no ml_feature_store_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "out" / f"work_{args.workload}_{os.getpid()}"
    configure_env(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS, Client

    if args.workload not in WORKLOADS:
        shutil.rmtree(work)
        print(f"fsbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from ml_feature_store_spark.session import get_spark
    from ml_feature_store_spark.sources.registry import ParquetVersionStore
    from tracing import Tracer, dir_bytes, peak_rss_mb, wrap_version_store

    t0 = time.perf_counter()
    spark = get_spark("fsbench")
    start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = Tracer()
        if args.trace:
            wrap_version_store(ParquetVersionStore, tracer)
        client = Client(spark, tracer)
        wl = WORKLOADS[args.workload](spark, client, args.seed, work)
        setup_times, root = set_up(wl, work)
        warm_errors = wl.warm()
        n_ops = max(2, round(wl.ops_per_10s * args.seconds / 10))
        ops = run_ops(wl, tracer, n_ops, bool(args.trace))

        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())
        live_rows = sum(wl.fs.get_table_info(t).row_count for t in wl.source_tables())
        store_bytes = dir_bytes(root)
        if args.trace:
            metrics, stages = per_layer(sc, tracer, client, ops, wl, start_s)
            tracer.dump(HERE / "out" / f"trace_{args.workload}_seed{args.seed}.json",
                        master=sc.master, ops=ops, calls=client.calls, stages=stages)
        else:
            metrics = end_to_end(setup_times, ops, rss, store_bytes, live_rows)
        checked = [{"errors": warm_errors}] + ops
        for e in (e for o in checked for e in o["errors"][:5]):
            print(f"fsbench: {e}", file=sys.stderr)
        by_api: dict[str, list[float]] = {}
        for c in client.calls:
            by_api.setdefault(c["api"], []).append(c["s"])
        print(f"fsbench: master={sc.master} workload={args.workload} seed={args.seed} "
              f"start_s={start_s:.2f} setup_s={[round(x, 2) for x in setup_times]} "
              f"op_s={[round(o['wall'], 2) for o in ops]}\nfsbench: call_s_p50 "
              + " ".join(f"{a}={median(v):.3f}x{len(v)}" for a, v in by_api.items()),
              file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(bool(o["errors"]) for o in checked)
    print(json.dumps({"correct": failed == 0, "attempted": len(checked), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
