"""One benchmark run in a fresh process: start Spark with the package
imported, print ``READY``, run one workload's closed loop, and write the
raw per-operation results as JSON.  ``run.py`` launches it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_session(nproc: int, root: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(2 * nproc, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(root, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
        .getOrCreate()
    )


def _hwm_mb(pid: int) -> float:
    """High-water resident set size of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_metrics(tracer, op_id: int, summary: dict, records: int) -> dict:
    """Per-layer numbers of one traced operation."""
    from workloads import N_BUCKETS

    st = tracer.self_times(op_id)
    c = tracer.op_counters(op_id)
    encode = c.get("singer_io.encode_s", 0.0)
    changes = c.get("cdc.changes", 0)
    commits = sum(1 for s in tracer.spans if s[4] == op_id and s[0] == "state.commit")
    m = {
        "sync.discover_s": st.get("sync.discover", 0.0),
        "sources.read_plan_s": st.get("sources.read_plan", 0.0),
        "sources.scan_bytes": summary["spark.input_bytes"],
        "maps.apply_s": st.get("maps.apply", 0.0),
        "quality.expect_s": st.get("quality.expect", 0.0),
        "quality.jobs": summary["quality.jobs"],
        "singer_io.encode_s": encode,
        "singer_io.encode_calls": c.get("singer_io.encode_calls", 0),
        "singer_io.bytes_per_record": (
            c.get("singer_io.bytes", 0) / records if records else 0.0),
        "singer_io.fetch_wait_s": max(
            st.get("singer_io.stdout_write", 0.0) - encode
            - c.get("singer_io.output_write_s", 0.0), 0.0),
        "sinks.write_s": st.get("sinks.write", 0.0),
        "sinks.merge_s": st.get("sinks.merge", 0.0),
        "sinks.buckets_touched_share": c.get("sinks.buckets_touched", 0) / N_BUCKETS,
        "sinks.rows_rewritten_per_change": (
            c.get("sinks.rows_rewritten", 0) / changes if changes else 0.0),
        "state.commit_s": st.get("state.commit", 0.0),
        "state.commits": commits,
        "plans.build_s": c.get("plans.build_s", 0.0),
        "plans.eager_jobs": c.get("plans.eager_jobs", 0),
        "plans.eager_s": c.get("plans.eager_s", 0.0),
        "plans.action_s": c.get("plans.action_s", 0.0),
    }
    for k in ("spark.jobs", "spark.tasks", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.shuffle_write_bytes",
              "spark.spill_bytes", "spark.gc_s"):
        m[k] = summary[k]
    return m


def run(args, spark) -> dict:
    from tracing import StatusCollector, Tracer, install_layer_patches
    from workloads import Context, WORKLOADS

    tracer = Tracer() if args.trace else None
    collector = StatusCollector(spark) if args.trace else None
    ctx = Context(spark=spark, nproc=args.nproc, root=args.root, corpus=args.corpus,
                  seed=args.seed, collector=collector)
    phases = {}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](ctx)
    if hasattr(wl, "prepare"):
        wl.prepare()
    # operations on the measured inputs whose times are dropped: the first
    # ones run while the JVM is still compiling the hot paths, and a median
    # taken on that downward trend moves with how fast a run warms
    for k in range(getattr(wl, "warm_ops", 0)):
        wl.op(-1 - k)
    phases["prepare"] = time.perf_counter() - t

    ops: list[dict] = []
    t_loop = time.perf_counter()
    i = 0
    while True:
        # traced runs go untraced, traced, traced, untraced, ... so a
        # warming trend does not bias the overhead estimate
        traced = bool(args.trace) and i % 4 in (1, 2)
        rec: dict = {"traced": traced}
        ids0 = undo = None
        if traced:
            tracer.start_op(i)
            ctx.tracer = tracer
            ids0 = collector.job_ids()
            undo = install_layer_patches(tracer, spark)
        try:
            res = wl.op(i)
            rec.update(s=res.seconds, records=res.records, parts=res.parts,
                       attempted=res.attempted, failed=res.failed)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"# op {i} failed: {e!r}"[:2000], file=sys.stderr)
            rec.update(s=None, records=0, parts={}, attempted=1, failed=1)
        finally:
            if traced:
                undo()
                ctx.tracer = None
                tracer.end_op()
        if traced and rec["s"] is not None:
            summary = collector.summarize(collector.job_ids() - ids0)
            rec["layers"] = layer_metrics(tracer, i, summary, rec["records"])
        ops.append(rec)
        i += 1
        if time.perf_counter() - t_loop >= args.seconds and len(ops) >= max(
                getattr(wl, "min_ops", 1), 4 if args.trace else 1):
            break

    phases["loop"] = time.perf_counter() - t_loop
    t = time.perf_counter()
    wl.finish()
    phases["finish"] = time.perf_counter() - t
    if tracer is not None and args.trace_out:
        tracer.dump(args.trace_out)
    jvm = spark._jvm.ProcessHandle.current().pid()
    return {"ops": ops, "errors": ctx.errors, "phases_s": phases, "trace": args.trace,
            "peak_rss_mb": _hwm_mb(os.getpid()) + _hwm_mb(jvm)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    import tap_airbyte_wrapper_spark.plans  # noqa: F401  (the package, fully imported)
    import tap_airbyte_wrapper_spark.sync  # noqa: F401

    spark = build_session(args.nproc, args.root)
    spark.sparkContext.setLogLevel("ERROR")
    print("READY", flush=True)
    try:
        result = run(args, spark)
        with open(args.result, "w") as f:
            json.dump(result, f)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
