"""Python-worker daemon without archive entries on `sys.path`, over a
frozen heap.

Spark starts its Python workers with its bundled `pyspark.zip`, the
py4j source zip and the spark-core jar on `PYTHONPATH`. Each entry
gets a `zipimporter`, and every task's `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`) makes each of them re-read
its whole archive directory: about 0.1 s per task on a 4-vCPU VM. This
module drops those entries before pyspark is imported, so the workers
load the installed pyspark (`session.get_spark` sets this daemon only
when its version equals the bundled one), then runs the stock daemon.
The jar holds no Python file. Run as `python -m`.

A reused worker runs a full `gc.collect()` after every task
(`pyspark.daemon`). With pyspark, numpy, pyarrow and pandas imported
that collection walks about 73k tracked objects: 18–23 ms of CPU per
task on a 4-vCPU VM, more than a small Arrow batch costs. So the
daemon imports the Arrow stack once (`pyspark.daemon` brings in
`pyspark.worker` and numpy; pyarrow and pandas are imported here)
and then calls `gc.freeze()`. The workers it forks inherit the frozen
generation, so their per-task collection walks only objects made
after the fork (under 1k) and they do not import pandas or pyarrow
again. Garbage a task makes is still collected.
"""

import sys


def _archived(path: str) -> bool:
    return any(path.endswith(ext) or ext + "/" in path for ext in (".zip", ".jar"))


sys.path[:] = [p for p in sys.path if not _archived(p)]
for _path in [p for p in sys.path_importer_cache if _archived(p)]:
    del sys.path_importer_cache[_path]

if __name__ == "__main__":
    import gc

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()
