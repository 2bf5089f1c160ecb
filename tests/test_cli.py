"""spark-submit --py-files deployment test (north_rule launch shape).

Launches a REAL ``spark-submit --py-files webxtract.zip cli.py …``
subprocess from a neutral working directory with the repo stripped
from PYTHONPATH, so the only way ``import webxtract`` can resolve —
driver and executors both — is the shipped zip. Then re-submits with a
fresh run id to prove idempotent resume (second run: 0 urls). The
reference's deployment analog is its `gcloud run deploy` recipe
(README.md:93-99); here the deployable unit is the py-files archive."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 120


def _spark_submit() -> str | None:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    return shutil.which("spark-submit")


def _last_json(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in output:\n{stdout[-2000:]}")


@pytest.fixture(scope="module")
def submit_env(tmp_path_factory):
    """(spark-submit path, staging dir with cli.py + zip + pages)."""
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not found")
    stage = tmp_path_factory.mktemp("submit")

    # archive built through the CLI's own offline flag
    zip_path = str(stage / "webxtract.zip")
    out = subprocess.run(
        [sys.executable, "-m", "webxtract.cli", "--build-pyfiles", zip_path],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert json.loads(out.stdout)["pyfiles"] == zip_path

    # the submitted script lives OUTSIDE the repo: its directory (which
    # spark-submit prepends to sys.path) contains no webxtract package
    shutil.copy(os.path.join(REPO, "webxtract", "cli.py"), stage / "cli.py")

    from webxtract.synth import gen_pages, to_parquet

    pages, _ = gen_pages(N_PAGES, "2026-01-15")
    to_parquet(pages, str(stage / "pages.parquet"), chunk_rows=32)
    return submit, stage


def _submit(submit, stage, run_id, extra=()):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=2g",
        "--py-files", str(stage / "webxtract.zip"),
        str(stage / "cli.py"),
        "--input", str(stage / "pages.parquet"),
        "--output", str(stage / "out"),
        "--audit", str(stage / "audit"),
        "--run-id", run_id,
        "--num-partitions", "4",
        *extra,
    ]
    out = subprocess.run(
        cmd, cwd=str(stage), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return _last_json(out.stdout)


def test_spark_submit_pyfiles_and_resume(submit_env, spark):
    submit, stage = submit_env

    m1 = _submit(submit, stage, "r1")
    assert m1["urls"] == N_PAGES
    assert m1["parse_failures"] >= 0
    assert m1["metrics_errors"] == []

    # resume: everything is committed, the second run processes nothing
    m2 = _submit(submit, stage, "r2")
    assert m2["urls"] == 0
    assert m2["metrics_errors"] == []

    out_df = spark.read.parquet(str(stage / "out"))
    assert out_df.select("url").distinct().count() == N_PAGES
    assert {r["run_id"] for r in out_df.select("run_id").distinct().collect()} == {"r1"}

    audit = spark.read.parquet(str(stage / "audit"))
    rows = audit.filter(audit.run_id == "r1").collect()
    assert sum(r["url_count"] for r in rows) == N_PAGES
    # the task walls come from the driver's status store, which the
    # submissions keep with the UI off
    assert all(r["wall_ms"] is not None and r["wall_ms"] > 0 for r in rows)


def test_cli_pipeline_mode_local(submit_env, spark, tmp_path):
    """--mode pipeline through the same entry, in-process via --local
    (getOrCreate reuses the test session; a third JVM boot buys no
    extra coverage)."""
    _, stage = submit_env
    from webxtract.cli import main

    rc = main([
        "--local", "4",
        "--input", str(stage / "pages.parquet"),
        "--output", str(tmp_path / "out"),
        "--audit", str(tmp_path / "audit"),
        "--run-id", "p1",
        "--mode", "pipeline",
        "--run-date", "2026-01-15",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == N_PAGES
    assert "success" in out.columns and "validation_summary" in out.columns


def test_cli_requires_args():
    from webxtract.cli import _parse_args

    with pytest.raises(SystemExit):
        _parse_args(["--input", "x"])  # missing output/audit/run-id
    a = _parse_args(["--build-pyfiles", "z.zip"])  # offline flag needs nothing else
    assert a.build_pyfiles == "z.zip"


def test_cli_rejects_num_partitions_in_pipeline_mode(monkeypatch, capsys):
    """The pipeline partitions once, at spark.sql.shuffle.partitions; a
    --num-partitions pre-partition would add a second exchange of the
    raw pages, so the CLI refuses it before any Spark session starts."""
    import webxtract.session
    from webxtract.cli import main

    def no_session(*a, **k):  # noqa: ANN002, ANN003, ANN202
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(webxtract.session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        main([
            "--local", "2", "--input", "x", "--output", "o", "--audit", "a",
            "--run-id", "r", "--mode", "pipeline", "--num-partitions", "4",
        ])
    assert exc.value.code == 2
    assert "spark.sql.shuffle.partitions" in capsys.readouterr().err


def test_cli_error_exit_leaves_no_warmup_task(tmp_path):
    """A CLI run that fails while building its job (a malformed
    --run-date) exits non-zero with its own ValueError, and the JVM's
    shutdown aborts no task of the session's Python-worker warm-up: the
    CLI waits for that job before it re-raises."""
    from webxtract.synth import gen_pages, to_parquet

    pages, _ = gen_pages(20, "2026-01-15")
    to_parquet(pages, str(tmp_path / "pages.parquet"))
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [
            sys.executable, "-m", "webxtract.cli", "--local", "2",
            "--input", str(tmp_path / "pages.parquet"),
            "--output", str(tmp_path / "out"), "--audit", str(tmp_path / "audit"),
            "--run-id", "bad-date", "--mode", "pipeline", "--run-date", "2026-13-45",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0
    assert "ValueError: run_date must be a YYYY-MM-DD date, got '2026-13-45'" in out.stderr
    assert "Python worker exited unexpectedly" not in out.stderr
    assert "Aborting commit" not in out.stderr
