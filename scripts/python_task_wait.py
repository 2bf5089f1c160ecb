"""Reproducer for the fixed wait each Python task pays before its
function runs.

An identity ``mapInArrow`` over 16 cached one-row partitions is timed
against the same job with no Python stage (a noop write of the cached
rows), after a warm-up round, so the worker daemon and its workers are
already running and reused. The difference spread over the tasks is
the per-task wait. Then one Python task reports what its worker holds:
every ``zipimporter`` in ``sys.path_importer_cache`` (archive and entry
count) and what one ``importlib.invalidate_caches()`` costs there.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Through
CPython 3.12, ``zipimporter.invalidate_caches()`` re-reads the whole
central directory of its archive (3.13 made it lazy), and PySpark puts
``$SPARK_HOME/python/lib/pyspark.zip``, py4j's zip and the spark-core
jar on each worker's PYTHONPATH, ahead of anything the package sets.

Usage: python scripts/python_task_wait.py [rounds] [N]
Runs on local[N] (default 4); prints a report and one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TASKS = 16


def _identity(batches):  # noqa: ANN001, ANN202
    yield from batches


def _worker_probe(batches):  # noqa: ANN001, ANN202
    """One row: the worker's zipimporters and invalidate_caches() cost."""
    import importlib
    import json
    import sys
    import time
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    importers = [
        {"path": path, "entries": len(getattr(imp, "_files", None) or {})}
        for path, imp in sys.path_importer_cache.items()
        if isinstance(imp, zipimport.zipimporter)
    ]
    walls = []
    for _ in range(5):
        t = time.perf_counter()
        importlib.invalidate_caches()
        walls.append(time.perf_counter() - t)
    info = {
        "python": sys.version.split()[0],
        "zipimporters": importers,
        "invalidate_caches_ms": sorted(walls)[len(walls) // 2] * 1e3,
    }
    yield pa.RecordBatch.from_pydict({"info": [json.dumps(info)]})


def main(rounds: int = 5, cores: int = 4) -> dict:
    from webxtract.session import get_spark

    spark = get_spark(
        "python-task-wait",
        master=f"local[{cores}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    rows = spark.range(N_TASKS, numPartitions=N_TASKS).cache()
    rows.count()
    jobs = {
        "jvm": rows,
        "python": rows.mapInArrow(_identity, rows.schema),
    }

    def run(df) -> float:  # noqa: ANN001
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    for df in jobs.values():
        run(df)  # warm: worker daemon, workers, classes
    walls: dict[str, list[float]] = {k: [] for k in jobs}
    for _ in range(rounds):
        for k, df in jobs.items():
            walls[k].append(run(df))
    med = {k: statistics.median(v) for k, v in walls.items()}
    # local[cores] runs `cores` tasks at a time
    wait_ms = (med["python"] - med["jvm"]) * cores / N_TASKS * 1e3

    info = json.loads(
        spark.range(1, numPartitions=1)
        .mapInArrow(_worker_probe, "info string")
        .collect()[0]["info"]
    )
    spark.stop()
    res = {
        "cores": cores,
        "tasks": N_TASKS,
        "rounds": rounds,
        "jvm_job_s": med["jvm"],
        "python_job_s": med["python"],
        "per_task_wait_ms": wait_ms,
        **info,
    }
    print(f"local[{cores}], {N_TASKS} one-row tasks, median of {rounds} rounds")
    print(f"  JVM-only job       {med['jvm']:.3f} s")
    print(f"  identity mapInArrow {med['python']:.3f} s")
    print(f"  per-task wait      {wait_ms:.0f} ms")
    print(f"worker (Python {info['python']}): {len(info['zipimporters'])} zipimporters")
    for imp in info["zipimporters"]:
        print(f"  {imp['entries']:6d} entries  {imp['path']}")
    print(f"  importlib.invalidate_caches(): {info['invalidate_caches_ms']:.1f} ms")
    print(json.dumps(res))
    return res


if __name__ == "__main__":
    main(*[int(a) for a in sys.argv[1:3]])
