"""Session construction: thread-count parsing of local masters, the
config a session gets, and the contents of the shipped --py-files
archive."""

from __future__ import annotations

import os
import zipfile


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
