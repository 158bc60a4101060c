"""Python-worker daemon without archive entries on `sys.path`.

Spark starts its Python workers with its bundled `pyspark.zip`, the
py4j source zip and the spark-core jar on `PYTHONPATH`. Each entry
gets a `zipimporter`, and every task's `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`) makes each of them re-read
its whole archive directory: about 0.1 s per task on a 4-vCPU VM. This
module drops those entries before pyspark is imported, so the workers
load the installed pyspark (`session.get_spark` sets this daemon only
when its version equals the bundled one), then runs the stock daemon.
The jar holds no Python file. Run as `python -m`.
"""

import sys


def _archived(path: str) -> bool:
    return any(path.endswith(ext) or ext + "/" in path for ext in (".zip", ".jar"))


sys.path[:] = [p for p in sys.path if not _archived(p)]
for _path in [p for p in sys.path_importer_cache if _archived(p)]:
    del sys.path_importer_cache[_path]

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
