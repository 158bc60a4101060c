"""Self-tests of the benchmark's own statistics and ledger code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from ledger import SERVICE_THREADS, steal_pct, tree_cpu_s  # noqa: E402
from query_mix import compare_rows  # noqa: E402
from stats import interval_union, percentile, quartile_spread, tail  # noqa: E402


def test_tail_takes_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == ("p90", pytest.approx(90.1))
    assert tail(xs[:40])[0] == "p75"
    assert tail(xs[:20]) == ("p50", pytest.approx(10.5))
    assert tail(xs[:1000] * 10)[0] == "p99"


def test_tail_falls_back_to_max_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == ("max", 3.0)
    assert tail([float(i) for i in range(19)]) == ("max", 18.0)


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = list(rng.random(37))
    for q in (0, 10, 50, 75, 99.9, 100):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_interval_union():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert interval_union([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10.0)
    assert interval_union([(1, 2), (2, 3)]) == pytest.approx(2.0)
    assert interval_union([(5, 6), (0, 1)]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        interval_union([(2, 1)])


def test_quartile_spread():
    assert quartile_spread([10.0] * 5) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_compare_rows_ignores_order_and_last_digits():
    assert compare_rows([(1, 0.1 + 0.2), (2, None)], [(2, None), (1, 0.3)]) is None
    assert compare_rows([(1, 40.191562)], [(1, 40.191563)]) is None
    assert compare_rows([(1, 0.3)], [(1, 0.32)]) is not None
    assert compare_rows([(1,)], [(1,), (1,)]) is not None


def test_tree_cpu_counts_children_live_and_reaped():
    import subprocess

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_s(os.getpid()) - before < 0.45:
            assert time.monotonic() < deadline, "live child's CPU time not counted"
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.95


def test_steal_pct_and_service_thread_names():
    assert steal_pct((10, 1000), (60, 2000)) == pytest.approx(5.0)
    assert steal_pct((10, 1000), (10, 1000)) == 0.0
    for name in ("C1 CompilerThre", "C2 CompilerThre", "GC Thread#3", "G1 Conc#0", "VM Thread"):
        assert SERVICE_THREADS.match(name)
    for name in ("Executor task l", "Thread-3", "dag-scheduler-e", "java"):
        assert not SERVICE_THREADS.match(name)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from apachebeamkmeans_spark.session import get_spark
    from ledger import RETAIN_CONF

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark("perfbench-selftest", cpus=2,
                  extra_conf={**RETAIN_CONF, "spark.local.dir": str(local)})
    yield s
    s.stop()


def test_ledger_counts_aqe_groupby_as_two_jobs_three_stages(spark):
    from ledger import SparkProbe

    probe = SparkProbe(spark, None)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    first = probe.next_job_id()
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    jobs = probe.jobs(first, probe.next_job_id())
    assert len(jobs) == 2
    assert sum(j.stages for j in jobs) == 3
    assert sum(j.skipped for j in jobs) == 1
    assert all(j.end >= j.start > 0 for j in jobs)


def test_twin_hash_matches_engine(spark):
    from pyspark.sql import functions as F

    import twin
    from apachebeamkmeans_spark.functions.hashing import hash01

    ids = np.array([0, 1, 7, 123456789])
    got = [r[0] for r in spark.createDataFrame([(int(i),) for i in ids], "id long")
           .select(hash01(F.col("id"), "5-2")).collect()]
    assert got == list(twin.hash01(ids, "5-2"))
