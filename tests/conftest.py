import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUN_DATE = "2026-01-15"
N_ROWS = 600


@pytest.fixture(scope="session")
def spark():
    from webxtract.session import get_spark

    spark = get_spark(
        app_name="webxtract-tests",
        master="local[4]",
        shuffle_partitions=4,
        # UI on (random port): the audit's per-task wall_ms reads the
        # driver's status store, which tests/test_cli.py's submissions
        # keep with the UI off, so both settings are exercised
        extra_conf={"spark.ui.port": "0", "spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture
def many_partitions(spark):
    """The session with 16 shuffle partitions that AQE may not coalesce,
    so a shuffle-partitioned kernel sees many small partitions. Both
    settings are restored afterwards: the spark fixture is shared by
    the whole session."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="session")
def corpus(tmp_path_factory):
    """Synthetic corpus on disk: (pages_path, expected pandas frame)."""
    from webxtract.synth import gen_pages, to_parquet

    root = tmp_path_factory.mktemp("corpus")
    pages, expected = gen_pages(N_ROWS, RUN_DATE)
    pages_path = str(root / "pages.parquet")
    to_parquet(pages, pages_path)
    return pages_path, expected


@pytest.fixture(scope="session")
def run_date():
    return dt.date.fromisoformat(RUN_DATE)
