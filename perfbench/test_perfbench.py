"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test runs every workload once at sf0.01 with its correctness
checks on (about four minutes on four cores); the rest are fast.
"""

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import Tracer, _covered  # noqa: E402


def test_datagen_is_seeded():
    a, b = datagen.make_tables(0.001, 5), datagen.make_tables(0.001, 5)
    c = datagen.make_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_self_time_excludes_children():
    tr = Tracer()
    tr.spans = [["op", 0.0, 10.0, None, 1], ["a", 1.0, 5.0, 0, 1],
                ["b", 2.0, 3.0, 1, 1], ["a", 4.0, 8.0, 0, 1]]
    st = tr.self_times(1)
    assert st["op"] == pytest.approx(10 - 7)      # children cover [1, 8]
    assert st["a"] == pytest.approx((4 - 1) + 4)  # first a loses b's 1 s
    assert st["b"] == pytest.approx(1)


def test_merge_bucket_matches_spark_xxhash64():
    import numpy as np

    from workloads import merge_bucket

    # pmod(xxhash64(k), 64) from Spark 4.1 for these bigint keys
    keys = np.array([0, 1, 42, -7, 123456789, 2**40])
    assert merge_bucket(keys).tolist() == [44, 50, 30, 25, 63, 29]


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert _covered([(0, 2)], 1, 10) == pytest.approx(1)


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sync_cdc",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout == ""


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"),
                    reason="set PERFBENCH_SMOKE=1 to run every workload once")
def test_smoke(tmp_path):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke",
                        "--work-dir", str(tmp_path)],
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.count('"correct": true') == 4
