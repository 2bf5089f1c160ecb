"""perfbench's own tests: the BENCHMARK.json schema, the parsers, seeded
inputs, and a tiny-scale run of each workload (Spark, a few minutes).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, sparkstats  # noqa: E402
from perfbench.job import LADDER  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    return run.declared()


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def test_benchmark_json_schema(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["command"][1].startswith(bench["paths"][0] + "/")
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(bounds.values())


def test_every_layer_metric_belongs_to_a_workload(bench):
    for m in bench["per_layer"]:
        assert any(m["name"].startswith(p) for ps in run.OWNED.values() for p in ps), m


def test_sql_metric_and_timestamp_parsing():
    v = "total (min, med, max (stageId: taskId))\n11.8 s (2.9 s, 3.0 s, 3.0 s (stage 0.0: task 1))"
    assert sparkstats.duration_total_s(v) == pytest.approx(11.8)
    assert sparkstats.duration_total_s("697 ms") == pytest.approx(0.697)
    assert sparkstats.duration_total_s("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90.0
    assert sparkstats.ts("1970-01-01T00:00:01.250GMT") == 1.25


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, pa_ = inputs.pipeline_inputs(7, 0, 120, [str(tmp_path / "a")], 3)
    b, pb = inputs.pipeline_inputs(7, 0, 120, [str(tmp_path / "b")], 3)
    assert pa_ == pb and a.equals(b)
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    c, _ = inputs.pipeline_inputs(8, 0, 120, [str(tmp_path / "c")], 3)
    assert not c["extracted_text"].equals(a["extracted_text"])

    plants, props = inputs.curate_inputs(7, 0, 150, str(tmp_path / "docs"), 2)
    import pandas as pd

    docs = pd.read_parquet(tmp_path / "docs").set_index("doc_id")["text"]
    assert len(docs) == props["docs"] and docs.index.is_unique
    assert plants["exact"] and all(docs[c] == docs[s] for c, s in plants["exact"])
    assert all(docs[c] != docs[s] for c, s in plants["near"])
    assert all(docs[c].startswith(docs[s]) for c, s in plants["superset"])


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ------------------------------------------------------- tiny-scale runs


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setitem(run.WORKLOADS, "curate_corpus", {"base_pages": 150, "files": 2})
    monkeypatch.setitem(run.WORKLOADS, "pipeline_batch", {"pages": 150, "files": 2})


def test_curate_corpus_end_to_end(tiny, bench, capsys):
    assert run.main(["--workload", "curate_corpus", "--seed", "3", "--seconds", "0",
                     "--trace", "0"]) == 0
    res = _last_json(capsys.readouterr().out)
    assert res["correct"] and res["attempted"] == 1 and res["failed"] == 0
    assert list(res["metrics"]) == [m["name"] for m in bench["end_to_end"]]
    assert all(v["value"] > 0 for v in res["metrics"].values())
    # the job's JVM and PySpark's daemon and workers were stopped and reaped
    with pytest.raises(ChildProcessError):
        os.waitpid(-1, os.WNOHANG)


def test_pipeline_batch_traced(tiny, bench, capsys):
    assert run.main(["--workload", "pipeline_batch", "--seed", "3", "--seconds", "0",
                     "--trace", "1"]) == 0
    res = _last_json(capsys.readouterr().out)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert list(m) == [x["name"] for x in bench["per_layer"]]
    assert m["ops.validators.exec_s"] != 0 and m["ops.extract.exec_s"] != 0
    assert m["ops.extract.rows.html"] > 0
    # the ladder's layer deltas are reported beside the full job's write
    assert m["trace.ladder_sum_s"] == pytest.approx(sum(m[f"{n}.exec_s"] for n in LADDER))
    assert m["trace.ladder_residual_s"] == pytest.approx(
        m["audit.write.exec_s"] - m["trace.ladder_sum_s"])
    # curation layers do not run in this workload
    assert m["dedup.exact_dedup.exec_s"] == 0
