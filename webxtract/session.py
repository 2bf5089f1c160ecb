"""SparkSession factory with scale-appropriate defaults.

Centralizes every config that affects correctness (timezone, ANSI mode)
or 100TB-scale behavior (AQE, Arrow batch size, partition byte caps) so
tests, bench and production jobs agree.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from webxtract.config import ARROW_MAX_RECORDS_PER_BATCH


def get_spark(
    app_name: str = "webxtract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when that variable
    is set; on a real cluster it is supplied by spark-submit and must be
    left None. The heap and shuffle-partition defaults follow the thread
    count of a local master (``local_threads``).
    """
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        master = f"local[{local_threads(f'local[{cpus}]')}]"
    n_threads = local_threads(master)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    # Local-mode heap default: 2 GB per executor thread (the driver JVM
    # hosts every local[N] executor thread), i.e. standard executor
    # sizing (4-8 GB per 2-4-core executor) applied to local mode and
    # derived from the configured core count, not a constant. Raised
    # from 1 GB/thread on an interleaved A/B of the 100k-doc pipeline
    # (4 alternating JVMs): warm-pass walls 14.25 s mean / 75-151 s GC
    # (32g) vs 11.73 s mean / 7-45 s GC (64g) at 32 threads — the
    # details layer's short-lived allocation makes GC the binding
    # constraint whenever cores are contended, and a young gen of
    # 1 GB/thread (NewRatio=1 below) absorbs it. Override via
    # WEBXTRACT_DRIVER_MEM; cluster executors size
    # spark.executor.memory per their own core count instead.
    # (capped at 64g: half this machine class's RAM — the A/B saw no
    # further win past 64g, and -Xms must stay clear of the OS +
    # Python-worker footprint whatever core count the env reports)
    driver_mem = os.environ.get(
        "WEBXTRACT_DRIVER_MEM", f"{min(64, 2 * (n_threads or 16))}g"
    )

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
        # local mode: driver heap hosts all executor threads, each of
        # which deserializes its own copy of the (large) task binary —
        # size generously on the 128 GiB sandbox
        "spark.driver.memory": driver_mem,
        # Throughput GC: G1's pause-time-targeted collection left
        # stage-level GC time equal to task CPU time (event-log
        # measured: 42 core-s GC vs 39 core-s CPU on the validator
        # stage). ParallelGC on the same 100k-doc pipeline: 112s -> 50s
        # typical, 20s best (ZGC measures similarly; ParallelGC is the
        # standard batch-throughput choice). Measured while the document
        # rules were still Catalyst expressions; not re-measured since.
        # Executor option is a no-op in local mode but documents the
        # cluster setting (a real executor would pin -Xms to
        # spark.executor.memory the same way).
    }
    if extra_conf:
        conf.update(extra_conf)
    # -Xms == -Xmx with adaptive sizing off: ParallelGC otherwise starts
    # from the tiny default initial heap and spends the first ~2 full
    # passes growing it under allocation pressure — measured 565 core-s
    # of GC in one 128-task stage on the default ramp vs 8.6 core-s with
    # the heap pinned (100k-doc pipeline: first-pass wall 87.6s -> 49.1s,
    # steady state 11.8s -> 7.7s). A long-running cluster executor pays
    # the ramp once; pinning makes every task see steady-state GC.
    # Each role pins to ITS OWN effective memory (tests pass 4g driver
    # via extra_conf; executors default to Spark's 1g unless set) —
    # pinning executors to the driver size would exceed executor -Xmx
    # on a real cluster and kill every executor at launch. An explicit
    # extraJavaOptions in extra_conf wins.
    # -XX:NewRatio=1: with adaptive sizing off, ParallelGC's static
    # default (NewRatio=2) gives the young gen only 1/3 of the heap —
    # measured on the 100k-doc pipeline (min-of-5, quiet box): warm
    # wall 32.2s -> 22.7-25.2s and per-pass GC 250-600 -> 75-113 core-s
    # just from giving the young gen half the heap (measured while the
    # document rules were still Catalyst expressions; not re-measured
    # since). Fixed -Xmn24g/-Xmn28g cut GC further in single passes but
    # did not beat the walls and leave the old gen too small for the
    # resident broadcast/task state — rejected.
    conf.setdefault(
        "spark.driver.extraJavaOptions",
        f"-XX:+UseParallelGC -Xms{conf['spark.driver.memory']}"
        " -XX:-UseAdaptiveSizePolicy -XX:NewRatio=1",
    )
    # executors: pin -Xms ONLY when the executor heap is explicitly
    # configured here — this process cannot see cluster-side defaults
    # (spark-defaults.conf / spark-submit), and guessing would set
    # -Xms above a smaller cluster-side -Xmx and kill every executor
    exec_mem = conf.get("spark.executor.memory")
    exec_opts = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:NewRatio=1"
    if exec_mem:
        exec_opts += f" -Xms{exec_mem}"
    conf.setdefault("spark.executor.extraJavaOptions", exec_opts)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


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


def _ship_package(spark: SparkSession) -> None:
    """Ship the webxtract package to Python workers.

    Executors unpickle the extraction UDFs by module reference, so the
    package must be importable on every worker — the in-code equivalent
    of ``spark-submit --py-files webxtract.zip``. Idempotent per session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_webxtract_shipped", False):
        return
    import pathlib
    import tempfile

    zip_path = pathlib.Path(tempfile.gettempdir()) / "webxtract_pyfiles.zip"
    build_pyfiles_zip(str(zip_path))
    sc.addPyFile(str(zip_path))
    sc._webxtract_shipped = True


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
