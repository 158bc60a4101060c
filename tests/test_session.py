"""Session factory and conf scopes: `get_spark` starts zip-free Python
workers behind a version guard, and every temporary conf override
(session.scoped_conf / driver_loop_conf) restores the session exactly,
including when scopes overlap across threads."""

from __future__ import annotations

import logging
import os
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from apachebeamkmeans_spark import session
from apachebeamkmeans_spark.session import driver_loop_conf, scoped_conf, worker_conf

AQE = "spark.sql.adaptive.enabled"
UNSET_KEY = "spark.apachebeamkmeans.test.scopedConf"
WAIT_S = 60


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_outside_any_archive(spark):
    """A Python worker of a `get_spark` session imports pyspark from
    outside Spark's zip and holds no zipimporter, so a task's
    `importlib.invalidate_caches()` re-reads no archive."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            n = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
            yield pd.DataFrame({"file": [pyspark.__file__], "zips": [n]})

    rows = spark.range(2, numPartitions=2).mapInPandas(probe, "file string, zips int").collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r["file"] and ".jar" not in r["file"], r["file"]
        assert r["zips"] == 0


def test_worker_conf_needs_matching_pyspark_versions():
    conf = worker_conf("4.1.2", "4.1.2", "/src")
    assert conf == {"spark.python.daemon.module": "apachebeamkmeans_spark._worker",
                    "spark.executorEnv.PYTHONPATH": "/src"}
    assert worker_conf("4.1.2", "4.0.1", "/src") == {}
    assert worker_conf("4.1.2", None, "/src") == {}


def test_worker_choice_is_logged_once(caplog):
    session._zip_free_conf.cache_clear()
    with caplog.at_level(logging.INFO, logger=session.__name__):
        first = session._zip_free_conf()
        assert session._zip_free_conf() == first
    recs = [r for r in caplog.records if hasattr(r, "zip_free_workers")]
    assert len(recs) == 1 and recs[0].zip_free_workers == bool(first)


def test_python_udf_runs_with_cwd_outside_the_repo(tmp_path):
    """A driver started from another directory, with the package on its
    own sys.path only, still starts the package's worker daemon."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from apachebeamkmeans_spark.session import get_spark

spark = get_spark("cwd-probe", cpus=1)
assert spark.conf.get("spark.python.daemon.module") == "apachebeamkmeans_spark._worker"

def double(batches):
    for pdf in batches:
        yield pd.DataFrame({{"x": pdf["id"] * 2}})

print("ROWS", sorted(r.x for r in spark.range(3).mapInPandas(double, "x long").collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [0, 2, 4]" in out.stdout


def test_overlapped_driver_loops_restore_aqe(spark):
    """The second entrant reads the first one's "false" on entry and
    exits last; the session must still end with AQE on."""
    assert spark.conf.get(AQE) == "true"
    first_in = threading.Event()
    first_out = threading.Event()
    both_in = threading.Barrier(2, timeout=WAIT_S)

    def first():
        with driver_loop_conf(spark):
            first_in.set()
            both_in.wait()
        first_out.set()

    def second():
        assert first_in.wait(WAIT_S)
        with driver_loop_conf(spark):
            assert spark.conf.get(AQE) == "false"
            both_in.wait()
            assert first_out.wait(WAIT_S)
            return spark.conf.get(AQE)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_first, fut_second = pool.submit(first), pool.submit(second)
        fut_first.result()
        held_after_first_exit = fut_second.result()
    assert spark.conf.get(AQE) == "true"
    assert held_after_first_exit == "false"  # the first exit restored nothing


def test_scope_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, UNSET_KEY, "on"):
        assert spark.conf.get(UNSET_KEY) == "on"
        with scoped_conf(spark, UNSET_KEY, "on"):  # nested join
            assert spark.conf.get(UNSET_KEY) == "on"
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scope_restores_on_exception(spark):
    with pytest.raises(ZeroDivisionError):
        with driver_loop_conf(spark):
            assert spark.conf.get(AQE) == "false"
            1 / 0
    assert spark.conf.get(AQE) == "true"


def test_conflicting_value_from_another_thread_raises(spark):
    def enter_b():
        with scoped_conf(spark, UNSET_KEY, "b"):
            pass

    with scoped_conf(spark, UNSET_KEY, "a"):
        with ThreadPoolExecutor(max_workers=1) as pool:
            with pytest.raises(RuntimeError, match="held"):
                pool.submit(enter_b).result()
        assert spark.conf.get(UNSET_KEY) == "a"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scope_stress_many_threads(spark):
    """More threads than cores churn one key with a short switch
    interval: every reader inside a scope sees the held value, and the
    key ends unset — a lost depth update would leak or unset early."""
    def churn():
        seen = set()
        for _ in range(40):
            with scoped_conf(spark, UNSET_KEY, "x"):
                seen.add(spark.conf.get(UNSET_KEY, None))
        return seen

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [pool.submit(churn) for _ in range(16)]
            seen = set().union(*(f.result(timeout=WAIT_S) for f in futs))
    finally:
        sys.setswitchinterval(interval)
    assert seen == {"x"}
    assert spark.conf.get(UNSET_KEY, None) is None


def test_pq_index_train_leaves_aqe_as_found(spark, sf_dir, tmp_path):
    """AnnIndex.train's PQ tier overlaps the coarse and PQ trainers in
    two threads, each inside driver_loop_conf."""
    from apachebeamkmeans_spark.ann import AnnIndex
    from apachebeamkmeans_spark.sources import io

    before = spark.conf.get(AQE, None)
    emb = io.read_table(spark, sf_dir, "embeddings")
    AnnIndex.train(spark, emb, str(tmp_path / "idx"), k=4, pq_m=8,
                   pq_ksub=16)
    assert spark.conf.get(AQE, None) == before
