"""Benchmark of the engine's sync path and a slice of its query fleet.

    python3 perfbench/run.py --workload sync_cdc --seed 3 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, sf0.01

Run from the root of a checkout.  Each run gets a fresh temp root under
``--work-dir`` (default ``.perfbench/`` in the checkout) holding the
generated corpus, sink outputs, state files and Spark's local and
warehouse directories; it is deleted when the run ends.  The engine runs
in a child process (``worker.py``) started with the checkout root on
``PYTHONPATH``, so Spark's Python workers import the package whatever
their working directory.  ``setup_s`` is the time from starting that
process to a ready SparkSession with the package imported, the cost a
CLI user pays on every invocation.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer ones).  The line before it carries every
end-to-end metric under the names the workload defines, with unit and
sample count.  The exit code is 1 when any correctness check failed and
2 when the run could not start or completed no operation.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

# Scale factor of the generated corpus per workload (sf0.1 = 893k rows),
# and the tables each one reads.
SCALE = {"sync_stdout": 0.02, "sync_lake": 0.05, "sync_cdc": 0.02, "fleet_slice": 0.01}
TABLES = {"sync_stdout": ("events", "orders"), "sync_cdc": ("orders",)}
SMOKE_SCALE = 0.01
WORKER_TIMEOUT_S = 160  # the whole run must end within 180 s

# peak_rss_mb is reported on the named line but not here: the driver JVM's
# high-water mark on fleet_slice moved between 1.4 and 2.3 GB from run to
# run, wider than any bound a regression check could use.
END_TO_END = (("setup_s", "s"), ("op_s_p50", "s"), ("records_per_s", "rec/s"))
PER_LAYER = (
    ("sync.discover_s", "s"), ("sources.read_plan_s", "s"),
    ("sources.scan_bytes", "bytes"), ("maps.apply_s", "s"),
    ("quality.expect_s", "s"), ("quality.jobs", "count"),
    ("singer_io.encode_s", "s"), ("singer_io.encode_calls", "count"),
    ("singer_io.bytes_per_record", "bytes"), ("singer_io.fetch_wait_s", "s"),
    ("sinks.write_s", "s"), ("sinks.merge_s", "s"),
    ("sinks.buckets_touched_share", "ratio"),
    ("sinks.rows_rewritten_per_change", "ratio"),
    ("state.commit_s", "s"), ("state.commits", "count"),
    ("plans.build_s", "s"), ("plans.eager_jobs", "count"),
    ("plans.eager_s", "s"), ("plans.action_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"), ("trace.overhead_s", "s"))


class RunError(RuntimeError):
    """The run could not produce a result."""


def _percentile(values: list[float], p: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the process and everything it started (its session), and
    wait until they have ended."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # what is left of its session (the driver JVM, Python workers) holds
    # nothing the run still needs, and a JVM's graceful shutdown takes
    # 1.5 s or so of every run
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _spawn(root: str, argv: list[str], log) -> tuple[subprocess.Popen, float]:
    """Start the worker; returns it and its set-up time (start to READY)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [CHECKOUT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["TMPDIR"] = os.path.join(root, "tmp")
    # JVMs keep their temp files (and no perf-data file) inside the root
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env["PYTHONHASHSEED"] = "0"    # same dict layouts in every run
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py")] + argv,
        cwd=root, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
        start_new_session=True)
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                ready = time.perf_counter() - t0
                # keep draining, so a chatty child never blocks on a full pipe
                threading.Thread(target=shutil.copyfileobj,
                                 args=(proc.stdout, log), daemon=True).start()
                return proc, ready
        raise RunError("worker exited before its session was ready")
    except BaseException:
        _stop_group(proc)
        raise


def _tail(path: str, n: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run_once(workload: str, seed: int, seconds: float, trace: int,
             work_dir: str, data_dir: str | None, scale: float) -> dict:
    os.makedirs(work_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-", dir=work_dir)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(root, d))
    log_path = os.path.join(root, "worker.log")
    try:
        tables = TABLES.get(workload, datagen.TABLES)
        corpus = data_dir or os.path.join(root, "corpus")
        if not data_dir:
            datagen.write_tables(corpus, scale, seed, tables)
        nproc = len(os.sched_getaffinity(0))
        result_path = os.path.join(root, "result.json")
        argv = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--nproc", str(nproc), "--root", root, "--corpus", corpus,
                "--result", result_path]
        if trace:
            argv += ["--trace-out", os.path.join(
                work_dir, "traces", f"{workload}-seed{seed}.jsonl")]
        with open(log_path, "w") as log:
            proc, setup = _spawn(root, argv, log)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc)
            if rc != 0 or not os.path.exists(result_path):
                raise RunError(f"worker failed (exit {rc}):\n{_tail(log_path)}")
            with open(log_path, errors="replace") as f:   # the worker's own notes
                sys.stderr.writelines(ln for ln in f if ln.startswith("# "))
        with open(result_path) as f:
            raw = json.load(f)
        raw["setup_s"] = setup
        return raw
    finally:
        shutil.rmtree(root, ignore_errors=True)


def summarize(workload: str, raw: dict) -> dict:
    """End-to-end metrics (generic and workload-named) and per-layer
    medians from one run's raw results."""
    ops = raw["ops"]
    plain = [o for o in ops if not o["traced"] and o["s"] is not None]
    traced = [o for o in ops if o["traced"] and o["s"] is not None]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    secs = [o["s"] for o in plain]
    if not secs or (raw.get("trace") and not traced):
        raise RunError(f"no operation completed ({failed} of {attempted} failed)")
    op_s = statistics.median(secs)
    rate = statistics.median(o["records"] / o["s"] for o in plain)
    query_s = {}
    if workload == "fleet_slice":
        # a pass as the sum of per-query medians, so a slow spell on the
        # box costs one query one sample rather than the whole pass
        names = sorted({q for o in plain for q in o["parts"]})
        query_s = {q: statistics.median(o["parts"][q] for o in plain if q in o["parts"])
                   for q in names}
        if not query_s:
            raise RunError(f"no fleet query completed ({failed} of {attempted} failed)")
        op_s = sum(query_s.values())
        rate = statistics.median(o["records"] for o in plain) / op_s
    e2e = {
        "setup_s": (raw["setup_s"], "s", 1),
        "op_s_p50": (op_s, "s", len(secs)),
        "records_per_s": (rate, "rec/s", len(secs)),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", 1),
        "failed_share": (failed / attempted if attempted else 1.0, "ratio", attempted),
    }
    named = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
             "failed_share": e2e["failed_share"],
             "op_s": ([round(s, 4) for s in secs], "s", len(secs))}
    if workload in ("sync_stdout", "sync_lake"):
        named["records_per_s"] = e2e["records_per_s"]
    elif workload == "sync_cdc":
        named["resume_s_p50"] = e2e["op_s_p50"]
        # highest percentile with at least ten samples beyond it
        p = math.floor(100 * (1 - 10 / len(secs))) if len(secs) > 10 else None
        if p and p > 50:
            named[f"resume_s_p{p}"] = (_percentile(secs, p), "s", len(secs))
    elif workload == "fleet_slice":
        named["fleet_s"] = e2e["op_s_p50"]
        named["query_geomean_s"] = (
            statistics.geometric_mean(query_s.values()), "s", len(plain))
        named["query_s"] = (query_s, "s", len(plain))
    layers = {}
    if traced:
        for name, _ in PER_LAYER[:-1]:
            layers[name] = statistics.median(o["layers"][name] for o in traced)
        layers["trace.overhead_s"] = (
            statistics.median(o["s"] for o in traced) - statistics.median(secs))
    return {"e2e": e2e, "named": named, "layers": layers,
            "attempted": attempted, "failed": failed}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _named(s: dict) -> dict:
    return {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in s["named"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="existing corpus directory to read "
                    "instead of generating one from --seed")
    ap.add_argument("--work-dir", default=os.path.join(CHECKOUT, ".perfbench"),
                    help="parent of each run's temp root")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at sf0.01 with its checks")
    args = ap.parse_args()
    # a terminated launcher still stops its workers and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(CHECKOUT, "tap_airbyte_wrapper_spark", "__init__.py")):
        print(f"perfbench: no tap_airbyte_wrapper_spark package under {CHECKOUT}",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(args)
    if not args.workload:
        ap.error("--workload is required")
    scale = SCALE[args.workload]
    try:
        raw = run_once(args.workload, args.seed, args.seconds, args.trace,
                       args.work_dir, args.data_dir, scale)
        s = summarize(args.workload, raw)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for err in raw["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    correct = not raw["errors"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "scale": scale,
                      "phases_s": raw["phases_s"], "metrics": _named(s)}))
    if args.trace:
        metrics = {k: _metric(s["layers"][k], u) for k, u in PER_LAYER}
    else:
        metrics = {k: _metric(s["e2e"][k][0], u) for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))
    return 0 if correct else 1


def smoke(args) -> int:
    """Every workload once at sf0.01, checks on; exit 1 on any failure."""
    ok = True
    for w in SCALE:
        try:
            raw = run_once(w, args.seed, 0, 0, args.work_dir, args.data_dir,
                           SMOKE_SCALE)
            s = summarize(w, raw)
        except RunError as e:
            print(f"perfbench: {w}: {e}", file=sys.stderr)
            ok = False
            continue
        for err in raw["errors"]:
            print(f"perfbench: {w}: check failed: {err}", file=sys.stderr)
        good = not raw["errors"] and s["failed"] == 0
        ok = ok and good
        print(json.dumps({"workload": w, "correct": good, "attempted": s["attempted"],
                          "failed": s["failed"], "metrics": _named(s)}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
