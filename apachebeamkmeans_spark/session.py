"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32);
the same configuration keys are the ones that matter on a real
multi-executor cluster (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import functools
import logging
import os
import re
import threading
import zipfile
from contextlib import contextmanager

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

WORKER_DAEMON = "apachebeamkmeans_spark._worker"


def worker_conf(installed: str, bundled: str | None, package_parent: str) -> dict[str, str]:
    """Spark conf for zip-free Python workers (`_worker`): the daemon
    module, and the directory holding this package on the workers'
    PYTHONPATH so the daemon starts whatever the cwd. Empty unless the
    installed pyspark version equals the one bundled in Spark's worker
    zip, because the workers then import the installed one. With it
    empty Spark runs its stock daemon, whose reused workers keep paying
    a full collection of the unfrozen import heap after every task."""
    if bundled != installed:
        return {}
    return {
        "spark.python.daemon.module": WORKER_DAEMON,
        "spark.executorEnv.PYTHONPATH": package_parent,
    }


def _bundled_pyspark_version() -> str | None:
    """`__version__` of `$SPARK_HOME/python/lib/pyspark.zip`, or None."""
    from pyspark.find_spark_home import _find_spark_home

    path = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    try:
        with zipfile.ZipFile(path) as z:
            text = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__\b[^=]*=\s*['\"]([^'\"]+)['\"]", text)
    return m.group(1) if m else None


@functools.lru_cache(maxsize=1)
def _zip_free_conf() -> tuple[tuple[str, str], ...]:
    import pyspark

    installed, bundled = pyspark.__version__, _bundled_pyspark_version()
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf = worker_conf(installed, bundled, parent)
    if conf:
        log.info("zip-free python workers on", extra={"zip_free_workers": True})
    else:
        log.info(
            "zip-free python workers off: pyspark %s, bundled %s", installed, bundled,
            extra={"zip_free_workers": False, "pyspark_installed": installed,
                   "pyspark_bundled": bundled},
        )
    return tuple(conf.items())


def get_spark(
    app_name: str = "apachebeamkmeans_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is on so runtime statistics can coalesce shuffle partitions,
    convert sort-merge joins to broadcast, and split skewed partitions
    — the knobs that matter most at 100 TB.

    Python workers start zip-free (`worker_conf`) when the installed
    pyspark matches the one Spark bundles; their daemon has the Arrow
    stack imported and frozen, so the collection after each task walks
    only what the task made. Otherwise the stock daemon keeps the full
    per-task collection.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in [*_zip_free_conf(), *(extra_conf or {}).items()]:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (id(session), key) -> [held value, value before the scope, depth]
_held: dict[tuple[int, str], list] = {}
_held_lock = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Hold SQL conf `key` at `value` inside the block, then restore the
    session's previous value (unsetting a key that was unset).

    The conf is session-global, so overlapping scopes share one hold:
    the first entrant saves and sets, same-value entrants from any
    thread only join, and the last one out restores. A different value
    requested while the key is held raises RuntimeError, conf untouched.
    """
    slot = (id(spark), key)
    with _held_lock:
        held = _held.get(slot)
        if held is None:
            prev = spark.conf.get(key, None)
            spark.conf.set(key, value)
            held = _held[slot] = [value, prev, 0]
        elif held[0] != value:
            raise RuntimeError(
                f"{key} is held at {held[0]!r} by another scope; "
                f"cannot scope it to {value!r}"
            )
        held[2] += 1
    try:
        yield
    finally:
        with _held_lock:
            held[2] -= 1
            if held[2] == 0:
                del _held[slot]
                if held[1] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, held[1])


def driver_loop_conf(spark: SparkSession):
    """Scope `spark.sql.adaptive.enabled=false` around a sequential
    driver loop whose every round runs a small aggregate exchange
    (`dedup` label propagation, the `textstats` BPE trainer — r18,
    guide §2.4 "remove shuffles/stages outright" applied to scheduling
    rounds).

    Rationale: such an exchange carries a few rows per task — nothing
    AQE can ever re-optimize — yet under AQE each collect of it runs
    as TWO scheduled jobs (the materialized map stage, then the
    re-planned result stage). Measured at sf0.1 when the Lloyd step
    still shuffled: ivf_train 11 jobs → 6 at identical results. This is
    not a local-mode constant: any cluster pays one extra scheduling
    round-trip per round for a shuffle that cannot need adaptation. A
    loop without an exchange (the Lloyd step, `lloyd._lloyd_step`)
    needs no scope."""
    return scoped_conf(spark, "spark.sql.adaptive.enabled", "false")
