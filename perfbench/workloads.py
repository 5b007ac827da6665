"""The benchmark's four workloads.

Each workload is a closed loop with one client: ``op`` issues one
operation (a sync, a resume cycle or a fleet pass) and returns only after
it completed.  An optional ``prepare`` and then ``warm_ops`` operations
whose times are dropped (the warm-up, on the measured inputs) run before
the loop, and ``finish`` after it.  Correctness checks run outside the
timed region: in ``op`` after its timer stops, or in ``finish``.  Every
check failure is appended to ``ctx.errors``.
"""

import glob
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tap_airbyte_wrapper_spark.state import BookmarkStore
from tap_airbyte_wrapper_spark.sync import Engine
from datagen import TABLES
from tracing import interval_union


@dataclass
class Context:
    spark: Any
    nproc: int
    root: str        # this run's temp root
    corpus: str      # directory of <table>.parquet
    seed: int
    errors: list[str] = field(default_factory=list)
    tracer: Any = None     # set while a traced operation runs
    collector: Any = None  # status-store reader, in traced runs

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def count(self, name: str, value: float) -> None:
        if self.tracer is not None:
            self.tracer.add(name, value)


@dataclass
class OpResult:
    seconds: float
    records: int
    parts: dict[str, float] = field(default_factory=dict)  # per-query seconds
    attempted: int = 1
    failed: int = 0


class ByteCounter:
    """Text sink for the stdout sync: counts bytes and, when asked,
    keeps the lines for checking and times its own writes."""

    def __init__(self, ctx: Context | None = None, keep: bool = False):
        self.bytes = 0
        self.lines: list[str] | None = [] if keep else None
        self._ctx = ctx

    def write(self, s: str) -> int:
        if self._ctx is not None and self._ctx.tracer is not None:
            t = time.perf_counter()
            self.bytes += len(s)
            self._ctx.tracer.add("singer_io.output_write_s", time.perf_counter() - t)
        else:
            self.bytes += len(s)
        if self.lines is not None:
            self.lines.append(s)
        return len(s)

    def flush(self) -> None:
        pass


def _table(ctx: Context, name: str) -> pa.Table:
    return pq.read_table(os.path.join(ctx.corpus, f"{name}.parquet"))


def _count_lines(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "*")):
        if os.path.basename(f).startswith(("_", ".")):
            continue
        with open(f, "rb") as fh:
            while chunk := fh.read(1 << 20):
                n += chunk.count(b"\n")
    return n


# ---------------------------------------------------------------- stdout


class SyncStdout:
    """Singer-stdout sync of ``events`` (INCREMENTAL from empty state) and
    ``orders`` (computed column, row filter, dropped column)."""

    name = "sync_stdout"
    warm_ops = 1  # the cold sync; the next ones are flat
    min_ops = 4   # syncs spread about 10% within a run

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.config = {
            "source": "dataset_dir",
            "source_config": {"path": ctx.corpus},
            "streams": ["events", "orders"],
            "replication_method": {"events": "INCREMENTAL"},
            "stream_maps": {"orders": {
                "o_total_k": "record['o_totalprice'] / 1000",
                "__filter__": "record['o_orderstatus'] != 'P'",
                "o_orderpriority": "__NULL__",
            }},
            "sink": {"type": "stdout"},
        }
        events, orders = _table(ctx, "events"), _table(ctx, "orders")
        self.expected = {
            "events": events.num_rows,
            "orders": pc.sum(pc.not_equal(orders["o_orderstatus"], "P")).as_py(),
        }
        self.max_ts = pc.max(events["ts"]).as_py().strftime("%Y-%m-%dT%H:%M:%S.%f")
        self.order_cols = sorted(
            [c for c in orders.column_names if c != "o_orderpriority"] + ["o_total_k"])
        self.bytes = None

    def _check_lines(self, lines: list[str]) -> None:
        ck = self.ctx.check
        msgs = []
        for line in lines:
            body = line.rstrip("\n")
            msg = json.loads(body)
            ck(json.dumps(msg, sort_keys=True, separators=(",", ":")) == body,
               f"stdout: line not in sorted-key form: {body[:80]}")
            msgs.append(msg)
        records: dict[str, int] = {}
        last_state = None
        for m in msgs:
            if m["type"] == "RECORD":
                records[m["stream"]] = records.get(m["stream"], 0) + 1
                if m["stream"] == "orders":
                    r = m["record"]
                    ck(sorted(r) == self.order_cols, f"stdout: orders keys {sorted(r)}")
                    ck(r["o_orderstatus"] != "P", "stdout: filtered row emitted")
                    ck(r["o_total_k"] == r["o_totalprice"] / 1000,
                       "stdout: computed column value")
            elif m["type"] == "STATE":
                last_state = m["value"]
        ck(records == self.expected,
           f"stdout: record counts {records} != {self.expected}")
        ck(msgs[0]["type"] == "SCHEMA" and msgs[-1]["type"] == "STATE",
           "stdout: message order")
        got = (last_state or {}).get("bookmarks", {}).get("events", {}).get("ts")
        ck(got == self.max_ts, f"stdout: final bookmark {got} != {self.max_ts}")

    def op(self, i: int) -> OpResult:
        # the first operation keeps its lines for the full check; the
        # output is deterministic, so later ones must match its size
        out = ByteCounter(self.ctx, keep=self.bytes is None)
        t0 = time.perf_counter()
        res = Engine(self.ctx.spark, self.config).sync(out=out)
        dt = time.perf_counter() - t0
        self.ctx.check(res.stream_counts == self.expected,
                       f"stdout: op {i} counts {res.stream_counts}")
        if self.bytes is None:
            self._check_lines(out.lines)
            self.bytes = out.bytes
        self.ctx.check(out.bytes == self.bytes,
                       f"stdout: op {i} wrote {out.bytes} bytes, not {self.bytes}")
        self.ctx.count("singer_io.bytes", out.bytes)
        return OpResult(dt, res.total_records)

    def finish(self) -> None:
        pass


# ------------------------------------------------------------------ lake


class SyncLake:
    """Full refresh of every corpus stream into the ``files`` sink, streams
    in parallel, with warn-mode expectations."""

    name = "sync_lake"
    warm_ops = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected = {t: pq.read_metadata(os.path.join(ctx.corpus, f"{t}.parquet")).num_rows
                         for t in TABLES}

    def _config(self, out: str) -> dict:
        return {
            "source": "dataset_dir",
            "source_config": {"path": self.ctx.corpus},
            "parallelism": self.ctx.nproc,
            "sink": {"type": "files", "path": out},
            "expectations": {
                "orders": [{"column": "o_orderkey", "kind": "unique"}],
                "lineitem": [
                    {"column": "l_orderkey", "kind": "not_null"},
                    {"column": "l_orderkey", "kind": "foreign_key",
                     "ref_stream": "orders", "ref_col": "o_orderkey"}],
            },
            "expectations_mode": "warn",
        }

    def op(self, i: int) -> OpResult:
        out = os.path.join(self.ctx.root, "lake", f"op{i}")
        t0 = time.perf_counter()
        res = Engine(self.ctx.spark, self._config(out)).sync()
        dt = time.perf_counter() - t0
        ck = self.ctx.check
        ck(res.stream_counts == self.expected,
           f"lake: op {i} counts {res.stream_counts}")
        for t, n in self.expected.items():
            got = _count_lines(os.path.join(out, t))
            ck(got == n, f"lake: op {i} {t} has {got} lines, source {n}")
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(dt, res.total_records)

    def finish(self) -> None:
        pass


# ------------------------------------------------------------------- cdc

N_BUCKETS = 64
HOT_BUCKETS = 8
_XXH = tuple(np.uint64(x) for x in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def merge_bucket(keys: np.ndarray) -> np.ndarray:
    """The merge sink's bucket of each bigint key, ``pmod(xxhash64(key),
    N_BUCKETS)``, computed as Spark's XXH64 (seed 42) does."""
    p1, p2, p3, p4, p5 = _XXH
    u = np.uint64
    with np.errstate(over="ignore"):
        k = keys.astype(np.int64).view(np.uint64) * p2
        k = ((k << u(31)) | (k >> u(33))) * p1
        h = (u(42) + p5 + u(8)) ^ k
        h = ((h << u(27)) | (h >> u(37))) * p1 + p4
        h ^= h >> u(33)
        h *= p2
        h ^= h >> u(29)
        h *= p3
        h ^= h >> u(32)
    return h.view(np.int64) % N_BUCKETS


class SyncCdc:
    """Resume cycles of a changelog source into the bucketed ``merge``
    sink.  Changes target a seeded set of hot buckets, so each batch
    rewrites a minority of the snapshot; change files accumulate across
    cycles."""

    name = "sync_cdc"
    min_ops = 3   # a median of three cycles after prepare's warm-up cycle

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed + 1)
        self.cl = os.path.join(ctx.root, "changelog")
        self.changes = os.path.join(self.cl, "changes", "orders")
        self.out = os.path.join(ctx.root, "merged")
        self.state_path = os.path.join(ctx.root, "state", "state.json")
        self.config = {
            "source": "changelog",
            "source_config": {"path": self.cl,
                              "primary_keys": {"orders": ["o_orderkey"]}},
            "replication_method": {"orders": "INCREMENTAL"},
            "state_path": self.state_path,
            "sink": {"type": "merge", "path": self.out, "n_buckets": N_BUCKETS},
            # the landing gate: a violating batch never reaches the snapshot
            "expectations": {"orders": [
                {"column": "o_orderkey", "kind": "not_null"},
                {"column": "o_orderkey", "kind": "unique"}]},
            "expectations_mode": "fail",
        }
        self.cursor = 0
        self.cycle = 0

    def prepare(self) -> None:
        os.makedirs(os.path.join(self.cl, "base"), exist_ok=True)
        os.makedirs(self.changes, exist_ok=True)
        base_path = os.path.join(self.cl, "base", "orders.parquet")
        shutil.copyfile(os.path.join(self.ctx.corpus, "orders.parquet"), base_path)
        base = pq.read_table(base_path)
        self.schema = base.schema.remove_metadata()
        self.live = base.to_pandas().set_index("o_orderkey", drop=False)
        self.live.index.name = None
        self.live["_cursor"] = 0
        self.batch = max(len(self.live) // 75, 100)    # 400 changes at sf0.02
        self.hot = self.rng.choice(N_BUCKETS, HOT_BUCKETS, replace=False)
        keys = self.live.index.to_numpy()
        self.hot_live = set(keys[np.isin(merge_bucket(keys), self.hot)].tolist())
        self.next_key = int(keys.max()) + 1
        Engine(self.ctx.spark, self.config).sync()     # initial snapshot v0
        self._cycle()                                  # warm-up cycle

    def _next_batch(self) -> pa.Table:
        """Append one change file: updates, deletes and inserts with
        rising ``_cursor``; applies the same changes to the replay."""
        import pandas as pd

        n_upd, n_del = self.batch * 6 // 10, self.batch * 2 // 10
        n_ins = self.batch - n_upd - n_del
        pool = np.sort(np.fromiter(self.hot_live, dtype=np.int64))
        picked = self.rng.choice(pool, n_upd + n_del, replace=False)
        upd_keys, del_keys = picked[:n_upd], picked[n_upd:]
        ins_keys = np.empty(0, dtype=np.int64)
        while len(ins_keys) < n_ins:   # fresh keys that land in hot buckets
            cand = np.arange(self.next_key, self.next_key + 16 * n_ins, dtype=np.int64)
            self.next_key += 16 * n_ins
            ins_keys = np.concatenate([ins_keys, cand[np.isin(merge_bucket(cand), self.hot)]])
        ins_keys = ins_keys[:n_ins]
        self.hot_live.difference_update(del_keys.tolist())
        self.hot_live.update(ins_keys.tolist())

        upd = self.live.loc[upd_keys].copy()
        upd["o_totalprice"] = np.round(self.rng.uniform(1000, 500000, n_upd), 2)
        upd["o_orderstatus"] = self.rng.choice(["F", "O", "P"], n_upd)
        upd["_op"] = "update"
        dele = self.live.loc[del_keys].copy()
        dele["_op"] = "delete"
        ins = pd.DataFrame({
            "o_orderkey": ins_keys,
            "o_custkey": self.rng.integers(0, 1000, n_ins),
            "o_orderstatus": self.rng.choice(["F", "O", "P"], n_ins),
            "o_totalprice": np.round(self.rng.uniform(1000, 500000, n_ins), 2),
            "o_orderdate": pd.to_datetime(
                self.rng.integers(9131, 11535, n_ins), unit="D").astype("datetime64[us]"),
            "o_orderpriority": self.rng.choice(["1-URGENT", "5-LOW"], n_ins),
            "_op": "insert",
        }, index=ins_keys)
        batch = pd.concat([upd, dele, ins]).sample(frac=1.0, random_state=self.cycle)
        batch["_cursor"] = np.arange(self.cursor + 1, self.cursor + 1 + len(batch))
        self.cursor += len(batch)

        applied = batch[batch["_op"] != "delete"].drop(columns="_op")
        self.live = pd.concat([self.live.drop(index=picked), applied])

        cols = self.schema.names + ["_op", "_cursor"]
        table = pa.Table.from_pandas(batch[cols], preserve_index=False)
        table = table.cast(pa.schema(list(self.schema) + [
            pa.field("_op", pa.string()), pa.field("_cursor", pa.int64())]))
        pq.write_table(table, os.path.join(self.changes, f"c{self.cycle:05d}.parquet"))
        self.cycle += 1
        return table

    def _cycle(self) -> OpResult:
        table = self._next_batch()
        t0 = time.perf_counter()
        res = Engine(self.ctx.spark, self.config).sync()
        dt = time.perf_counter() - t0
        self.ctx.check(res.stream_counts.get("orders") == table.num_rows,
                       f"cdc: cycle {self.cycle} synced {res.stream_counts}, "
                       f"batch {table.num_rows}")
        if self.ctx.tracer is not None:
            layout = self.merge_layout()
            self.ctx.count("cdc.changes", table.num_rows)
            self.ctx.count("sinks.buckets_touched", layout["buckets_touched"])
            self.ctx.count("sinks.rows_rewritten", layout["rows_rewritten"])
        return OpResult(dt, table.num_rows)

    def op(self, i: int) -> OpResult:
        return self._cycle()

    def merge_layout(self) -> dict[str, float]:
        """Buckets the last merge rewrote, read from the current version:
        carried-forward files are hard links into the previous one."""
        from tap_airbyte_wrapper_spark.sinks import list_merge_versions

        vdir = os.path.join(self.out, "orders",
                            f"v{list_merge_versions(self.out, 'orders')[-1]}")
        touched = rows = 0
        for b in glob.glob(os.path.join(vdir, "__bkt=*")):
            new = [f for f in glob.glob(os.path.join(b, "*.parquet"))
                   if os.stat(f).st_nlink == 1]
            if new:
                touched += 1
                rows += sum(pq.read_metadata(f).num_rows for f in new)
        return {"buckets_touched": touched, "rows_rewritten": rows}

    def finish(self) -> None:
        from tap_airbyte_wrapper_spark.sinks import read_merge_snapshot

        cols = self.schema.names + ["_cursor"]
        got = read_merge_snapshot(self.ctx.spark, self.out, "orders").toPandas()
        got = got[cols].sort_values("o_orderkey").reset_index(drop=True)
        want = self.live[cols].sort_values("o_orderkey").reset_index(drop=True)
        if len(got) != len(want):
            self.ctx.errors.append(
                f"cdc: snapshot has {len(got)} rows, replay {len(want)}")
        else:
            for c in cols:
                a, b = got[c].to_numpy(), want[c].to_numpy()
                if np.issubdtype(b.dtype, np.datetime64):
                    a = a.astype("datetime64[us]").astype(np.int64)
                    b = b.astype("datetime64[us]").astype(np.int64)
                self.ctx.check(np.array_equal(a, b),
                               f"cdc: snapshot column {c} differs from replay")
        bm = BookmarkStore.load(self.state_path).get_bookmark("orders", "_cursor")
        self.ctx.check(bm == self.cursor, f"cdc: bookmark {bm} != last cursor {self.cursor}")


# ----------------------------------------------------------------- fleet

# The slice: a TPC-H anchor, a sliced-test sweep (its time is mostly plan
# build over the layered tail expressions), a token aggregate and a keyed
# merge.  knn_lsh_verified (an Arrow-UDF similarity join) is left out: its
# cold start and four passes cost about 15 s a run, which the benchmark's
# time budget does not have.
FLEET = ("q1_pricing_summary", "welch_sliced_orders", "token_stats",
         "merge_upsert_orders")


class FleetSlice:
    """A fixed slice of the query fleet through the noop sink, with
    ``clearCache()`` between queries; an operation is one pass."""

    name = "fleet_slice"
    warm_ops = 3  # the cold pass, and two more: welch's plan build warms slowly
    min_ops = 5   # per-query medians over five passes (about 18 s)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rows: dict[str, int] = {}
        self.checked: set[str] = set()

    def op(self, i: int) -> OpResult:
        from tap_airbyte_wrapper_spark.plans import QUERIES

        from oracle import OracleGate

        spark, tracer = self.ctx.spark, self.ctx.tracer
        collector = self.ctx.collector if tracer is not None else None
        gate = None
        parts: dict[str, float] = {}
        failed = 0
        for name in FLEET:
            t0 = time.perf_counter()
            try:
                if collector is not None:
                    ids0 = collector.job_ids()
                    t0 = time.perf_counter()
                df = QUERIES[name](spark, self.ctx.corpus)
                t1 = time.perf_counter()
                if collector is not None:
                    ids1 = collector.job_ids()
                    t1b = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # counted, the rest of the pass still runs
                failed += 1
                print(f"# fleet query {name} failed: {e!r}"[:2000], file=sys.stderr)
                spark.catalog.clearCache()
                continue
            if collector is not None:
                eager = collector.summarize(ids1 - ids0)
                eager_s = min(interval_union(eager["intervals"]), t1 - t0)
                tracer.add("plans.build_s", (t1 - t0) - eager_s)
                tracer.add("plans.eager_s", eager_s)
                tracer.add("plans.eager_jobs", eager["spark.jobs"])
                tracer.add("plans.action_s", t2 - t1b)
                parts[name] = (t1 - t0) + (t2 - t1b)
            else:
                parts[name] = t2 - t0
            if name not in self.checked:
                gate = gate or OracleGate(self.ctx.corpus, self.ctx.nproc)
                pdf = df.toPandas()
                self.rows[name] = len(pdf)
                err = gate.compare(name, pdf)
                if err:
                    self.ctx.errors.append(f"fleet: {err}")
                self.checked.add(name)
            spark.catalog.clearCache()
        return OpResult(sum(parts.values()), sum(self.rows.get(n, 0) for n in FLEET), parts,
                        attempted=len(FLEET), failed=failed)

    def finish(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (SyncStdout, SyncLake, SyncCdc, FleetSlice)}
