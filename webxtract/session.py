"""SparkSession factory with scale-appropriate defaults.

Centralizes every config that affects correctness (timezone, ANSI mode)
or 100TB-scale behavior (AQE, Arrow batch size, partition byte caps) so
tests, bench and production jobs agree. On a local master the driver
heap, the shuffle partitions and the Tungsten page size follow the
thread count: the page is the smallest power of two, at least 1 MiB,
whose 8,192 pages cover the heap (1 MiB at local[4], not the ~64 MB
Spark would give each task's sorts, aggregates and Arrow queues).

A new SparkContext also gets its Python workers started in the
background: right after the package zip is shipped, a daemon thread
runs one small job (job group ``webxtract-python-workers``) whose
``mapInArrow`` imports ``webxtract.kernels`` and pyarrow's pandas shim
on every executor slot. PySpark's worker daemon, its forked workers and
their imports are then ready while the driver reads, builds and plans
the first real job, whose first Python stage takes the idle workers
instead of starting them. ``get_spark`` never waits for that job.
"""

from __future__ import annotations

import logging
import os
import re
import threading

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

from webxtract.config import ARROW_MAX_RECORDS_PER_BATCH

WARMUP_GROUP = "webxtract-python-workers"

log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "webxtract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when that variable
    is set; on a real cluster it is supplied by spark-submit and must be
    left None. The conf is ``session_conf``'s: the heap, the shuffle
    partitions and the page size (``spark.buffer.pageSize``) follow the
    thread count of a local master (``local_threads``), the page size
    through the heap the session gets, an ``extra_conf``
    ``spark.driver.memory`` included. A non-local master keeps Spark's
    page size. ``extra_conf`` overrides any of them.
    """
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        master = f"local[{local_threads(f'local[{cpus}]')}]"

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _ship_package(spark):
        _start_python_workers(spark)
    return spark


def session_conf(
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds a session of ``master`` with:
    the package's settings, then ``extra_conf`` over them."""
    n_threads = local_threads(master)
    conf = {
        # Determinism: frozen zone for all timestamp/date arithmetic.
        "spark.sql.session.timeZone": "UTC",
        # Tolerant date parsing (try_to_date-style null-on-miss) mirrors the
        # reference's try-in-order parser (validators/base.py:56-98).
        "spark.sql.ansi.enabled": "false",
        # Runtime re-planning: coalesce small shuffle partitions, split skew.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for all pandas UDF exchange; small batches because rows
        # carry multi-KB..MB html blobs.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        # Bound scan-task size by bytes, not row count: one task must not
        # swallow all the whale documents (SURVEY.md §4.3.1).
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            if shuffle_partitions is not None
            else n_threads or 32
        ),
        # Driver heap cap (-Xmx); the driver JVM hosts every local[N]
        # executor thread: 2 GB per thread, at most 64g.
        "spark.driver.memory": f"{min(64, 2 * (n_threads or 16))}g",
        # No Python call-site capture: with it on, every wrapped F.* and
        # DataFrame call walks the Python stack and makes 3 extra Py4J
        # round trips (building run_pipeline: ~2,650 round trips, not
        # ~1,750). Error messages lose only the Python call site.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    conf.update(extra_conf or {})
    if n_threads is not None:
        # Tungsten page size. Spark's default divides the execution
        # memory by threads x 16, 64 MB at local[4] with an 8g heap, and
        # every sort, aggregate, join, window and Arrow row queue of
        # every task takes one such page, however few rows it holds.
        # Here: the smallest power of two, at least 1 MiB, for which a
        # task's 8,192 pages still cover the heap the session gets.
        page = _page_size_mib(_mebibytes(conf["spark.driver.memory"]))
        conf.setdefault("spark.buffer.pageSize", f"{page}m")
    return conf


def _page_size_mib(heap_mib: int) -> int:
    """The Tungsten page size, in MiB, for a driver heap of ``heap_mib``
    MiB: the smallest power of two, at least 1, whose 8,192 pages (the
    page table of one task) cover the heap."""
    mib = 1
    while mib * 8192 < heap_mib:
        mib *= 2
    return mib


def _mebibytes(size: str) -> int:
    """MiB in a JVM memory string (``4g``, ``512m``, ``2048``: no unit
    means MiB, as for ``spark.driver.memory``), rounded up."""
    m = re.fullmatch(r"(\d+)(?:([kmgtp])b?)?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {size!r}")
    n, unit = int(m.group(1)), m.group(2) or "m"
    if unit == "k":
        return -(-n // 1024)
    return n * 1024 ** "mgtp".index(unit)


def local_threads(master: str | None) -> int | None:
    """Executor threads of a ``local``, ``local[N]``, ``local[N,F]`` or
    ``local[*]`` master, at least 1; ``*`` or a count that is not a
    number means every CPU of the host. None for a non-local master."""
    m = re.fullmatch(r"local(?:\[([^\],]*)(?:,[^\]]*)?\])?", master or "")
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    return max(1, int(n)) if n.isdigit() else os.cpu_count() or 1


def _ship_package(spark: SparkSession) -> bool:
    """Ship the webxtract package to Python workers.

    Executors unpickle the extraction UDFs by module reference, so the
    package must be importable on every worker — the in-code equivalent
    of ``spark-submit --py-files webxtract.zip``. Idempotent per
    SparkContext: True when this call added the zip, False when the
    context already had it. ``get_spark`` starts the context's Python
    workers after a True (``_start_python_workers``), so workers are
    forked only once the zip is on their path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_webxtract_shipped", False):
        return False
    import pathlib
    import tempfile

    zip_path = pathlib.Path(tempfile.gettempdir()) / "webxtract_pyfiles.zip"
    build_pyfiles_zip(str(zip_path))
    sc.addPyFile(str(zip_path))
    sc._webxtract_shipped = True
    return True


def _start_python_workers(spark: SparkSession) -> None:
    """Start one small job on a daemon thread, in job group
    ``WARMUP_GROUP``: ``defaultParallelism`` one-row partitions through
    one ``mapInArrow`` of ``_warm_worker``. It starts PySpark's worker
    daemon and one worker per executor slot, which return to the
    daemon's idle pool for the next Python stage, and loads the JVM's
    first-job classes. Returns at once. A failed warm-up is logged and
    changes nothing else: the first Python stage then starts the
    workers itself. A warm-up cut short by ``spark.stop()`` ends with
    no Python warning or traceback (the JVM logs its task aborts, as for
    any job running at stop)."""
    sc = spark.sparkContext

    def run() -> None:
        try:
            sc.setJobGroup(WARMUP_GROUP, "start the Python workers", False)
            n = sc.defaultParallelism
            df = spark.range(n, numPartitions=n).mapInArrow(_warm_worker, "id long")
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            if not _stopped(sc):
                log.warning(
                    "Python worker warm-up failed; the first Python stage starts "
                    "the workers instead",
                    exc_info=True,
                )

    sc._webxtract_warmup = threading.Thread(target=run, name=WARMUP_GROUP, daemon=True)
    sc._webxtract_warmup.start()


def wait_for_python_workers(spark: SparkSession) -> None:
    """Wait, at most 60 s, until the warm-up job of ``spark``'s
    context (job group ``WARMUP_GROUP``) has ended; a no-op when it has
    ended already or was never started. A driver that exits on an error
    calls this first: the JVM's shutdown then aborts no warm-up task,
    so the error is not followed by Spark's task-abort traces. The job
    is waited for, not cancelled: cancelling aborts its write, and
    Spark logs that abort as ERROR traces of its own."""
    thread = getattr(spark.sparkContext, "_webxtract_warmup", None)
    if thread is not None:
        thread.join(60)


def _warm_worker(batches):  # noqa: ANN001, ANN201
    """The warm-up's ``mapInArrow`` function: import the kernels and
    build one Arrow array over Python objects (pyarrow imports pandas
    on the first), as every kernel's first batch would; pass the batch
    through."""
    import pyarrow as pa

    import webxtract.kernels  # noqa: F401

    pa.array(["warm"])
    yield from batches


def _stopped(sc) -> bool:  # noqa: ANN001
    """The SparkContext is stopped or stopping (its JVM side may already
    be gone)."""
    jsc = sc._jsc
    if jsc is None:
        return True
    try:
        return jsc.sc().isStopped()
    except Py4JError:
        return True


def build_pyfiles_zip(zip_path: str) -> str:
    """Build the ``--py-files`` archive: every .py in the webxtract
    package, rooted so ``import webxtract`` resolves from the zip —
    except ``oracles.py``, the DuckDB oracle SQL that only the driver
    and tests read. Used in-code by ``_ship_package`` and offline by
    ``python -m webxtract.cli --build-pyfiles`` for spark-submit."""
    import pathlib
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            if py == pkg_dir / "oracles.py":
                continue
            zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    return zip_path
