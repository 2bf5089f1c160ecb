"""Session construction: thread-count parsing of local masters, the
config a session gets, the contents of the shipped --py-files archive,
and the background start of a new context's Python workers."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_threads_tolerates_star_and_zero():
    from webxtract.session import local_threads

    cpus = os.cpu_count() or 1
    assert local_threads("local[*]") == cpus
    assert local_threads("local[0]") == 1
    assert local_threads("local[4]") == 4
    assert local_threads("local[2,3]") == 2
    assert local_threads("local") == 1
    # a non-numeric SPARK_GRAFT_CPUS lands here as local[<value>]
    assert local_threads("local[many]") == cpus
    assert local_threads("yarn") is None
    assert local_threads(None) is None


def test_pyfiles_zip_ships_contract_not_oracles(tmp_path):
    from webxtract.session import build_pyfiles_zip

    names = zipfile.ZipFile(build_pyfiles_zip(str(tmp_path / "w.zip"))).namelist()
    assert "webxtract/contract.py" in names
    assert "webxtract/ops/validators.py" in names
    assert "webxtract/oracles.py" not in names


def test_session_adds_no_jvm_flags_and_extra_conf_wins(spark):
    conf = spark.sparkContext.getConf()
    # conftest passes 4g through extra_conf over the derived 8g (local[4])
    assert conf.get("spark.driver.memory") == "4g"
    # Spark itself fills both options with its module and IPv6 flags; the
    # session adds no heap (-Xms...) or GC (-XX:...) flag to either
    for role in ("driver", "executor"):
        opts = conf.get(f"spark.{role}.extraJavaOptions", "").split()
        assert [o for o in opts
                if o.startswith("-X") and o != "-XX:+IgnoreUnrecognizedVMOptions"] == []


def test_page_size_is_smallest_power_of_two_covering_the_heap():
    """On a local master the Tungsten page is the smallest power of two,
    at least 1 MiB, whose 8,192 pages (one task's page table) cover the
    driver heap the session gets, derived or set in extra_conf."""
    from webxtract.session import _mebibytes, session_conf

    masters = [f"local[{n}]" for n in range(1, 65)] + ["local[*]"]
    heaps = (None, {"spark.driver.memory": "4g"}, {"spark.driver.memory": "1536m"},
             {"spark.driver.memory": "64g"})
    for master in masters:
        for extra in heaps:
            conf = session_conf(master, None, extra)
            page = _mebibytes(conf["spark.buffer.pageSize"])
            heap = _mebibytes(conf["spark.driver.memory"])
            assert page & (page - 1) == 0 and 1 <= page <= 64, (master, extra, page)
            assert 8192 * page >= heap, (master, extra, page)
            assert page == 1 or 8192 * page // 2 < heap, (master, extra, page)
    pages = {n: session_conf(f"local[{n}]", None, None)["spark.buffer.pageSize"]
             for n in (4, 32, 64)}
    assert pages == {4: "1m", 32: "8m", 64: "8m"}


def test_page_size_extra_conf_wins_and_non_local_keeps_spark_default():
    from webxtract.session import session_conf

    extra = {"spark.buffer.pageSize": "64m", "spark.driver.memory": "2g"}
    assert session_conf("local[4]", None, extra)["spark.buffer.pageSize"] == "64m"
    for master in ("yarn", "spark://host:7077", None):
        assert "spark.buffer.pageSize" not in session_conf(master, None, None)


def test_shared_local4_session_pages_are_1_mib(spark):
    # the conftest session: local[4] with a 4g heap
    memory_manager = spark.sparkContext._jsc.sc().env().memoryManager()
    assert memory_manager.pageSizeBytes() == 1 << 20


# Runs in a fresh interpreter: the shared test session's warm-up job ran
# long before this test and may have left the status store's retained jobs.
_WARMUP_PROBE = textwrap.dedent("""
    import json, logging, sys, threading, time
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from webxtract.session import WARMUP_GROUP, get_spark

    warnings = []
    handler = logging.Handler()
    handler.emit = lambda r: warnings.append([r.getMessage(), r.exc_info[0].__name__])
    logging.getLogger("webxtract.session").addHandler(handler)

    def session():
        return get_spark("warmup-probe", master="local[2]", extra_conf={
            "spark.ui.enabled": "false", "spark.driver.memory": "1g"})

    def join_warmups():
        for t in threading.enumerate():
            if t.name == WARMUP_GROUP:
                t.join(60)

    def identity(batches):
        yield from batches

    res = {}
    spark = session()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(WARMUP_GROUP)]
        if (jobs and all(j.status == "SUCCEEDED" for j in jobs)) or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    res["statuses"] = [j.status for j in jobs]
    res["tasks"] = [tracker.getStageInfo(s).numTasks for j in jobs for s in j.stageIds]
    res["default_parallelism"] = sc.defaultParallelism
    # a second get_spark on the same context starts no second warm-up
    session()
    join_warmups()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    res["jobs_after_second_call"] = len(tracker.getJobIdsForGroup(WARMUP_GROUP))
    spark.stop()

    # a warm-up cut short by spark.stop() logs no warning
    session().stop()
    join_warmups()
    res["warnings_after_stop"] = list(warnings)

    # a warm-up that fails is logged, and the session still runs Python
    range_ = SparkSession.range
    SparkSession.range = lambda *a, **k: 1 / 0
    spark = session()
    join_warmups()
    SparkSession.range = range_
    res["warnings_after_failure"] = list(warnings)
    res["rows"] = spark.range(4, numPartitions=2).mapInArrow(identity, "id long").count()
    spark.stop()
    res["alive"] = sum(t.name == WARMUP_GROUP for t in threading.enumerate())
    print(json.dumps(res))
""")


def test_new_context_starts_python_workers_once():
    """A new context runs exactly one warm-up job of defaultParallelism
    tasks, and it succeeds; a second get_spark on that context starts
    none. A warm-up stopped by ``spark.stop()`` ends without a traceback
    or warning; one that fails logs a warning and leaves the session
    working."""
    out = subprocess.run(
        [sys.executable, "-c", _WARMUP_PROBE, REPO],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["statuses"] == ["SUCCEEDED"], res
    assert res["tasks"] == [res["default_parallelism"]] == [2], res
    assert res["jobs_after_second_call"] == 1, res
    assert res["warnings_after_stop"] == [], res
    [(message, error)] = res["warnings_after_failure"]
    assert message.startswith("Python worker warm-up failed"), message
    assert error == "ZeroDivisionError"
    assert res["rows"] == 4
    assert res["alive"] == 0, res
    assert "Traceback" not in out.stderr, out.stderr[-3000:]
