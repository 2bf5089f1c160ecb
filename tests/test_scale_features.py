"""Scale-feature tests: salting/partitioning, audit lineage rows,
idempotent resume, streaming ingest, multimodal plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_partition_by_url_balances(spark, corpus):
    from webxtract.audit import partition_by_url

    pages_path, _ = corpus
    df = partition_by_url(spark.read.parquet(pages_path), 8)
    sizes = (
        df.groupBy(F.spark_partition_id().alias("pid")).count().toPandas()
    )
    assert len(sizes) == 8
    # deterministic salt -> reasonably balanced (no partition > 3x mean)
    assert sizes["count"].max() <= 3 * sizes["count"].mean()


def test_audit_and_resume(spark, corpus, tmp_path):
    from webxtract.audit import resume_filter, run_extraction_job

    pages_path, _ = corpus
    pages = spark.read.parquet(pages_path)
    half = pages.limit(200)
    out = str(tmp_path / "out")
    audit = str(tmp_path / "audit")

    m1 = run_extraction_job(half, out, audit, "run-1", spark, num_partitions=4)
    assert m1["urls"] == 200
    assert m1["metrics_errors"] == []

    # resume: second run over the FULL input must only process the rest
    remaining = resume_filter(pages, out, spark)
    assert remaining.count() == pages.count() - 200

    m2 = run_extraction_job(pages, out, audit, "run-2", spark, num_partitions=4)
    # metrics are PER RUN (the resumed increment), never cumulative
    assert m2["urls"] == pages.count() - 200

    committed = spark.read.parquet(out)
    assert committed.count() == pages.count()  # no duplicates after resume
    assert committed.select("url").distinct().count() == pages.count()

    audit_df = spark.read.parquet(audit).toPandas()
    assert set(audit_df["run_id"]) == {"run-1", "run-2"}
    r1 = audit_df[audit_df["run_id"] == "run-1"]
    assert r1["url_count"].sum() == 200
    assert (r1["bytes_in"] >= 0).all()
    # wall_ms: per write-task scheduler wall, non-null and plausible
    assert audit_df["wall_ms"].notna().all()
    assert (audit_df["wall_ms"] > 0).all()
    assert (audit_df["wall_ms"] < 600_000).all()
    # run-2's audit covers ONLY run-2's increment
    r2 = audit_df[audit_df["run_id"] == "run-2"]
    assert r2["url_count"].sum() == pages.count() - 200

    # third run is a no-op (fully idempotent)
    assert resume_filter(pages, out, spark).count() == 0


def test_num_partitions_with_transform_raises_before_any_job(spark, corpus, tmp_path):
    """``num_partitions`` with a ``transform`` would shuffle the raw pages
    and then the transform's own partitioning again: it is refused
    before any Spark job starts, and nothing is written."""
    import os

    from webxtract.audit import run_extraction_job
    from webxtract.pipeline import run_pipeline

    pages = spark.read.parquet(corpus[0])
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    group = "num-partitions-with-transform"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with pytest.raises(ValueError, match="num_partitions is for the default extract"):
            run_extraction_job(pages, out, str(tmp_path / "audit"), "np", spark,
                               num_partitions=4, transform=run_pipeline)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(group) == []
    assert tracker.getJobIdsForGroup("webxtract-write-np") == []
    assert not os.path.exists(out)


def test_audit_read_back_lists_only_this_run(spark, corpus, tmp_path):
    """With 20 prior runs committed, a job lists the history once (the
    resume anti-join's done-set) and its audit reads back only its own
    ``run_id=`` directory, whose name Spark escapes (':' and '/')."""
    import os

    from webxtract.audit import run_extraction_job
    from webxtract.ops.extract import extract_pages

    pages = spark.read.parquet(corpus[0])
    old = pages.limit(60)
    out = str(tmp_path / "out")
    runs = spark.range(20).select(F.format_string("old-%02d", "id").alias("run_id"))
    (
        extract_pages(old).withColumn("partition_id", F.spark_partition_id())
        .crossJoin(runs).repartition(2)
        .write.partitionBy("run_id").parquet(out)
    )

    def parquet_files(d: str) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out, d)))

    history = sum(parquet_files(d) for d in os.listdir(out) if d.startswith("run_id="))
    assert history == 40

    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    before = metrics.METRIC_FILES_DISCOVERED().getCount()
    run_id = "2026-10-17T09:00:00/a:b"
    m = run_extraction_job(
        pages, out, str(tmp_path / "audit"), run_id, spark, num_partitions=2
    )
    discovered = metrics.METRIC_FILES_DISCOVERED().getCount() - before

    this_run = parquet_files("run_id=2026-10-17T09%3A00%3A00%2Fa%3Ab")
    assert discovered <= history + this_run
    audit = spark.read.parquet(str(tmp_path / "audit")).toPandas()
    assert set(audit["run_id"]) == {run_id}
    assert audit["url_count"].sum() == m["urls"] == pages.count() - 60


def test_audit_leg_reads_status_store_not_rest_or_python_rows(
    spark, corpus, tmp_path, monkeypatch
):
    """The post-write leg takes task walls from the driver's status store
    and builds no frame from Python rows: with the REST client and
    ``createDataFrame`` both raising, a job and its all-resumed rerun
    succeed, the audit rows equal a groupBy over the written ``run_id=``
    directory, and each url_count / wall_ms is its write task's
    ``recordsWritten`` / duration in the status store."""
    import urllib.request

    from pyspark.sql import SparkSession

    from webxtract import audit as A

    def refuse(*args, **kwargs):
        raise AssertionError("the audit leg must not call this")

    pages = spark.read.parquet(corpus[0]).limit(240)
    out, aud = str(tmp_path / "out"), str(tmp_path / "audit")
    with monkeypatch.context() as m:
        m.setattr(urllib.request, "urlopen", refuse)
        m.setattr(SparkSession, "createDataFrame", refuse)
        m1 = A.run_extraction_job(pages, out, aud, "pin-1", spark, num_partitions=3)
        m2 = A.run_extraction_job(pages, out, aud, "pin-2", spark, num_partitions=3)
    assert (m1["urls"], m1["metrics_errors"]) == (240, [])
    assert (m2["urls"], m2["metrics_errors"]) == (0, [])

    got = spark.read.parquet(aud)
    assert {r.run_id for r in got.select("run_id").distinct().collect()} == {"pin-1"}
    want = (
        spark.read.parquet(f"{out}/run_id=pin-1")
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("url_count"),
            F.sum("n_bytes").alias("bytes_in"),
            F.sum(F.col("parse_failure").cast("long")).alias("parse_failures"),
        )
    )
    cols = ["partition_id", "url_count", "bytes_in", "parse_failures"]
    assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())

    tasks = [
        t
        for att in A._write_stage_attempts(spark, "webxtract-write-pin-1")
        for t in att["tasks"].values()
    ]
    written = {
        t["index"]: t["taskMetrics"]["outputMetrics"]["recordsWritten"] for t in tasks
    }
    assert {r.partition_id: r.url_count for r in got.collect()} == {
        i: n for i, n in written.items() if n
    }
    walls = {t["index"]: float(t["duration"]) for t in tasks}
    for r in got.collect():
        assert r.wall_ms == walls[r.partition_id] > 0


def test_empty_reruns_append_no_audit_file(spark, corpus, tmp_path):
    """Three runs over the same pages: the two all-resumed reruns succeed
    with urls == 0 and leave the audit table holding only the first
    run's files."""
    import os

    from webxtract.audit import run_extraction_job

    pages = spark.read.parquet(corpus[0]).limit(40)
    out, aud = str(tmp_path / "out"), str(tmp_path / "audit")

    def audit_files() -> list[str]:
        return sorted(f for f in os.listdir(aud) if f.endswith(".parquet"))

    assert run_extraction_job(pages, out, aud, "a", spark, num_partitions=2)["urls"] == 40
    first = audit_files()
    assert first
    for run_id in ("b", "c"):
        m = run_extraction_job(pages, out, aud, run_id, spark, num_partitions=2)
        assert (m["urls"], m["metrics_errors"]) == (0, [])
    assert audit_files() == first
    rows = spark.read.parquet(aud).collect()
    assert {r.run_id for r in rows} == {"a"}
    assert sum(r.url_count for r in rows) == 40


def test_audit_parquet_columns_are_audit_schema(spark, corpus, tmp_path):
    """The written audit table has AUDIT_SCHEMA's (name, type) pairs, in
    order. Nullability is not compared: a parquet write marks every
    column nullable."""
    from webxtract.audit import run_extraction_job
    from webxtract.schemas import AUDIT_SCHEMA

    pages = spark.read.parquet(corpus[0]).limit(20)
    aud = str(tmp_path / "audit")
    run_extraction_job(pages, str(tmp_path / "out"), aud, "s", spark, num_partitions=2)
    written = spark.read.parquet(aud).schema
    assert [(f.name, f.dataType) for f in written] == [
        (f.name, f.dataType) for f in AUDIT_SCHEMA
    ]


def test_task_wall_failures_are_reported_not_fatal(spark, corpus, tmp_path, monkeypatch):
    """A status-store read that raises, or returns fewer walls than the
    write had tasks, leaves the job committed with NULL wall_ms where a
    wall is missing, and names the failure in ``metrics_errors``."""
    from webxtract import audit as A

    pages = spark.read.parquet(corpus[0]).limit(60)
    read_attempts = A._write_stage_attempts

    def broken(spark, group):
        raise RuntimeError("status store unavailable")

    def short(spark, group):
        attempts = read_attempts(spark, group)
        tasks = attempts[-1]["tasks"]
        del tasks[min(tasks)]
        return attempts

    cases = (
        ("raise", broken, 2, "task walls: RuntimeError: status store unavailable"),
        ("short", short, 1, "task walls: 1 of 2 write tasks in the status store"),
    )
    for name, stub, null_walls, error in cases:
        out, aud = str(tmp_path / name / "out"), str(tmp_path / name / "audit")
        monkeypatch.setattr(A, "_write_stage_attempts", stub)
        m = A.run_extraction_job(pages, out, aud, name, spark, num_partitions=2)
        monkeypatch.undo()
        assert (m["urls"], m["metrics_errors"]) == (60, [error])
        assert spark.read.parquet(out).count() == 60
        rows = spark.read.parquet(aud).collect()
        assert sum(r.url_count for r in rows) == 60
        assert sum(r.wall_ms is None for r in rows) == null_walls


def _run_groupby(spark, out: str, run_id: str) -> list:
    """The audit rows a committed ``run_id=`` directory must have, less
    ``wall_ms``: a groupBy over the written rows by write task."""
    return sorted(
        spark.read.parquet(f"{out}/run_id={run_id}")
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("url_count"),
            F.sum("n_bytes").alias("bytes_in"),
            F.sum(F.col("parse_failure").cast("long")).alias("parse_failures"),
        )
        .select(F.lit(run_id).alias("run_id"), "*")
        .collect()
    )


def _audit_of(spark, aud: str, run_id: str) -> list:
    cols = ["run_id", "partition_id", "url_count", "bytes_in", "parse_failures"]
    rows = spark.read.parquet(aud).filter(F.col("run_id") == run_id)
    return sorted(rows.select(cols).collect())


def test_same_run_id_rerun_commits_once(spark, corpus, tmp_path):
    """A rerun under a run_id that already committed writes nothing and
    leaves that run's audit rows as they were: one groupBy over its
    ``run_id=`` directory, not two."""
    from webxtract.audit import run_extraction_job

    pages = spark.read.parquet(corpus[0]).limit(40)
    out, aud = str(tmp_path / "out"), str(tmp_path / "audit")
    assert run_extraction_job(pages, out, aud, "r1", spark, num_partitions=2)["urls"] == 40
    m = run_extraction_job(pages, out, aud, "r1", spark, num_partitions=2)
    assert (m["urls"], m["metrics_errors"]) == (0, [])
    assert spark.read.parquet(out).count() == 40
    audit = _audit_of(spark, aud, "r1")
    assert audit == _run_groupby(spark, out, "r1")
    assert sum(r.url_count for r in audit) == 40
    assert spark.read.parquet(aud).count() == len(audit)


def test_rerun_restores_missing_audit_rows(spark, corpus, tmp_path):
    """An attempt that committed its output but lost its audit rows:
    the same-run_id rerun restores them from the committed partition,
    with NULL wall_ms and the reason in metrics_errors."""
    import glob
    import os

    from webxtract.audit import run_extraction_job

    pages = spark.read.parquet(corpus[0]).limit(40)
    out, aud = str(tmp_path / "out"), str(tmp_path / "audit")
    run_extraction_job(pages, out, aud, "r1", spark, num_partitions=2)
    for f in glob.glob(os.path.join(aud, "*.parquet")):
        os.remove(f)
    m = run_extraction_job(pages, out, aud, "r1", spark, num_partitions=2)
    assert m["urls"] == 0
    assert m["metrics_errors"] and "r1" in m["metrics_errors"][0]
    assert spark.read.parquet(out).count() == 40
    assert _audit_of(spark, aud, "r1") == _run_groupby(spark, out, "r1")
    assert all(r.wall_ms is None for r in spark.read.parquet(aud).collect())


def test_audited_stream_replay_leaves_output_and_audit(spark, corpus, tmp_path):
    """A microbatch replayed after its commit record is lost (the
    stream died after foreachBatch returned) writes nothing again:
    output files and audit rows are unchanged."""
    import os

    from webxtract.streaming import start_audited_extraction_stream

    src = spark.read.parquet(corpus[0]).limit(60)
    drops, out = str(tmp_path / "drops"), str(tmp_path / "out")
    aud, ckpt = str(tmp_path / "audit"), str(tmp_path / "ckpt")
    src.coalesce(1).write.parquet(drops)

    def snapshot() -> tuple:
        files = sorted(
            os.path.relpath(os.path.join(d, f), out)
            for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
        )
        return files, sorted(spark.read.parquet(aud).collect())

    start_audited_extraction_stream(spark, drops, out, aud, ckpt).awaitTermination(300)
    before = snapshot()
    assert spark.read.parquet(out).count() == 60
    assert _audit_of(spark, aud, "batch-0") == _run_groupby(spark, out, "batch-0")
    commit = os.path.join(ckpt, "commits", "0")
    os.remove(commit)
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    start_audited_extraction_stream(spark, drops, out, aud, ckpt).awaitTermination(300)
    assert os.path.exists(commit)  # batch 0 ran again
    assert snapshot() == before


def test_batch_and_stream_share_one_audit_table(spark, corpus, tmp_path):
    """The batch job and the audited stream commit into one flat audit
    table that reads back as one frame; the stream's rows carry their
    write tasks' walls."""
    from webxtract.audit import run_extraction_job
    from webxtract.streaming import start_audited_extraction_stream

    pages = spark.read.parquet(corpus[0])
    drops, aud = str(tmp_path / "drops"), str(tmp_path / "audit")
    run_extraction_job(pages.limit(30), str(tmp_path / "bout"), aud, "b1", spark,
                       num_partitions=2)
    pages.limit(50).coalesce(1).write.parquet(drops)
    sout = str(tmp_path / "sout")
    start_audited_extraction_stream(
        spark, drops, sout, aud, str(tmp_path / "ckpt")
    ).awaitTermination(300)

    rows = spark.read.parquet(aud).collect()
    by_run: dict = {}
    for r in rows:
        by_run.setdefault(r.run_id, []).append(r)
    assert set(by_run) == {"b1", "batch-0"}
    assert sum(r.url_count for r in by_run["b1"]) == 30
    assert sum(r.url_count for r in by_run["batch-0"]) == 50
    assert _audit_of(spark, aud, "batch-0") == _run_groupby(spark, sout, "batch-0")
    assert all(r.wall_ms is not None and r.wall_ms > 0 for r in rows)


def test_audited_stream_logs_metrics_errors(spark, corpus, tmp_path, monkeypatch, caplog):
    """A microbatch whose wall read fails still commits, with NULL
    wall_ms, and logs its metrics_errors at WARNING with its run_id."""
    import logging

    from webxtract import audit as A
    from webxtract.streaming import start_audited_extraction_stream

    def broken(spark, group):
        raise RuntimeError("status store unavailable")

    drops, aud = str(tmp_path / "drops"), str(tmp_path / "audit")
    spark.read.parquet(corpus[0]).limit(20).coalesce(1).write.parquet(drops)
    monkeypatch.setattr(A, "_write_stage_attempts", broken)
    with caplog.at_level(logging.WARNING, logger="webxtract.streaming"):
        start_audited_extraction_stream(
            spark, drops, str(tmp_path / "out"), aud, str(tmp_path / "ckpt")
        ).awaitTermination(300)
    rows = spark.read.parquet(aud).collect()
    assert sum(r.url_count for r in rows) == 20
    assert all(r.wall_ms is None for r in rows)
    assert any(
        "batch-0" in r.getMessage() and "status store unavailable" in r.getMessage()
        for r in caplog.records
    )


def test_audit_rows_and_run_overwrite_live_in_audit():
    """One commit body: only webxtract/audit.py builds audit rows or
    sets a partition overwrite mode."""
    from pathlib import Path

    import webxtract

    root = Path(webxtract.__file__).parent
    found = [
        f"{p.relative_to(root)}: {pat}"
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).as_posix() != "audit.py"
        for pat in ("audit_rows(", "partitionOverwriteMode")
        if pat in p.read_text(encoding="utf-8")
    ]
    assert found == []


def test_streaming_extraction(spark, corpus, tmp_path):
    from webxtract.streaming import start_extraction_stream

    pages_path, expected = corpus
    # file-stream sources need a directory of drops, not a single file
    drops = str(tmp_path / "drops")
    spark.read.parquet(pages_path).repartition(3).write.parquet(drops)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_extraction_stream(spark, drops, out, ckpt)
    q.awaitTermination(300)
    res = spark.read.parquet(out).toPandas().set_index("url").sort_index()
    exp = expected.set_index("url").sort_index()
    assert len(res) == len(exp)
    for url in exp.index[:50]:
        g = res.loc[url, "extracted_text"]
        e = exp.loc[url, "extracted_text"]
        assert (g if pd.notna(g) else None) == (e if pd.notna(e) else None)


def test_hot_host_salting_spreads_partitions(spark):
    """partition_by_url's salt must spread one hot host's pages across
    multiple partitions (Zipf hosts otherwise serialize into one task),
    while staying deterministic across runs."""
    from pyspark.sql import functions as F

    from webxtract.audit import partition_by_url

    rows = [(f"https://hot.example.org/page{i}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "url string")
    parts = (
        partition_by_url(df, 16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in parts}
    assert len(sizes) >= 2           # the hot host is NOT one task
    assert max(sizes.values()) < 2000
    # ...but bounded locality: one host lands in at most 4 shard
    # buckets (the (host, shard) key), not scattered over all 16
    assert len(sizes) <= 4
    # deterministic: same input -> same spread
    parts2 = (
        partition_by_url(df, 16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert sizes == {r["pid"]: r["count"] for r in parts2}


def test_streaming_checkpoint_exactly_once(spark, corpus, tmp_path):
    """Stop/restart with the same checkpoint must not duplicate or drop
    rows: run 1 processes drop A; run 2 (same checkpoint) sees drops A+B
    but must process only B."""
    from webxtract.streaming import start_extraction_stream

    pages_path, expected = corpus
    src = spark.read.parquet(pages_path)
    a = src.limit(40)
    drops = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    a.coalesce(1).write.mode("append").parquet(drops)
    q = start_extraction_stream(spark, drops, out, ckpt)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 == 40

    src.coalesce(1).write.mode("append").parquet(drops)  # drop B (full corpus again)
    q2 = start_extraction_stream(spark, drops, out, ckpt)
    q2.awaitTermination(300)
    res = spark.read.parquet(out)
    # run 2 processed ONLY the new file: 40 (run 1) + len(corpus) (run 2)
    assert res.count() == 40 + len(expected)


def test_audited_extraction_stream(spark, corpus, tmp_path):
    """Streaming sink with the batch audit contract: per-microbatch
    run_id partitions + audit rows whose counts reconcile with the
    output; restart processes only new drops and audits them under new
    batch ids."""
    from webxtract.streaming import start_audited_extraction_stream

    pages_path, _ = corpus
    src = spark.read.parquet(pages_path)
    drops = str(tmp_path / "adrops")
    out = str(tmp_path / "aout")
    audit = str(tmp_path / "aaudit")
    ckpt = str(tmp_path / "ackpt")
    src.limit(60).coalesce(1).write.mode("append").parquet(drops)
    q = start_audited_extraction_stream(spark, drops, out, audit, ckpt)
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == 60
    a1 = spark.read.parquet(audit).toPandas()
    assert a1["url_count"].sum() == 60
    assert (a1["bytes_in"] >= 0).all()

    src.coalesce(1).write.mode("append").parquet(drops)
    q2 = start_audited_extraction_stream(spark, drops, out, audit, ckpt)
    q2.awaitTermination(300)
    res = spark.read.parquet(out)
    assert res.count() == 60 + src.count()
    a2 = spark.read.parquet(audit).toPandas()
    assert a2["url_count"].sum() == 60 + src.count()
    assert len(set(a2["run_id"])) >= 2  # distinct batch lineage ids


def test_pipeline_stream_end_to_end(spark, corpus, tmp_path):
    """The FULL pipeline (extract -> fields -> type -> fake ->
    validators -> summary) in streaming mode from a drop directory:
    flagship output schema present, exactly-once across stop/restart."""
    from webxtract.streaming import start_pipeline_stream

    pages_path, expected = corpus
    src = spark.read.parquet(pages_path)
    drops = str(tmp_path / "pdrops")
    out = str(tmp_path / "pout")
    ckpt = str(tmp_path / "pckpt")
    src.limit(40).coalesce(1).write.mode("append").parquet(drops)
    q = start_pipeline_stream(spark, drops, out, ckpt)
    q.awaitTermination(300)
    res1 = spark.read.parquet(out)
    assert res1.count() == 40
    for c in (
        "url", "extracted_text", "source_kind", "parse_failure", "doc_type",
        "fake_detection", "validation_results", "validation_summary",
        "integrity_summary", "success",
    ):
        assert c in res1.columns, c

    # restart with the same checkpoint over drops A+B: only B processed
    src.coalesce(1).write.mode("append").parquet(drops)
    q2 = start_pipeline_stream(spark, drops, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == 40 + len(expected)

    # streamed results equal the batch pipeline on the same input
    from webxtract.pipeline import run_pipeline

    batch = run_pipeline(src, run_date="2026-01-15").select(
        "url", "success", "validation_summary.overall_status"
    )
    stream_rows = {
        r["url"]: (r["success"], r["overall_status"])
        for r in spark.read.parquet(out)
        .select("url", "success", "validation_summary.overall_status")
        .collect()
    }
    for r in batch.collect():
        assert stream_rows[r["url"]] == (r["success"], r["overall_status"])


def test_sessionize_stream_out_of_order_merge(spark, tmp_path):
    """An out-of-order event (within the watermark, arriving in a later
    microbatch) must merge into the open session without rewinding its
    bounds: session_end stays at the true max event time."""
    import datetime as dt

    from webxtract.streaming import sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    # file 1: events at t0, t0+10; file 2: a LATE event at t0+5 (out of
    # order but within the 1h watermark), then file 3: an event at
    # t0+50 — 40min after the true last (t0+10): within the 30min gap
    # of a REWOUND last (t0+5 + 30 < 50 would close early) but the fix
    # keeps last=10min, so 50-10=40 > 30 closes the session correctly
    # with end at t0+10, not t0+5.
    files = [
        [(1, 1, mins(0), 1.0), (1, 2, mins(10), 1.0)],
        [(1, 3, mins(5), 1.0)],
        [(1, 4, mins(50), 1.0)],
    ]
    drops = str(tmp_path / "oood")
    schema = "user_id long, event_id long, ts timestamp, value double"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{drops}/f{i}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{drops}/f*")
    )
    out = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    sink = str(tmp_path / "oood_out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "oood_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    closed = rows[0]
    assert closed["session_start"] == mins(0)
    assert closed["session_end"] == mins(10)  # NOT rewound to mins(5)
    assert closed["n_events"] == 3


def test_sessionize_stream_past_2262(spark, tmp_path):
    """Events past pandas' nanosecond range (2262-04-11) sessionize:
    event times cross the pandas operator as epoch micros."""
    import datetime as dt

    from webxtract.streaming import sessionize_stream

    t0 = dt.datetime(2300, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    schema = "user_id long, event_id long, ts timestamp, value double"
    drops = str(tmp_path / "far")
    # the third event is past the 30 min gap and closes the first session
    rows = [(7, 1, mins(0), 1.5), (7, 2, mins(10), 2.0), (7, 3, mins(120), 1.0)]
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(drops)
    stream = spark.readStream.schema(schema).parquet(drops)
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_far")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    got = [tuple(r) for r in spark.table("sess_far").collect()]
    assert got == [(7, mins(0), mins(10), 2, 3.5)]


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions that span microbatch
    boundaries continue via state; a session closes (and emits) as soon
    as a later event for the same user passes the inactivity gap. The
    final open session per user stays in state, unemitted."""
    import datetime as dt

    from webxtract.streaming import sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # 5 users x 3 sessions x 4 events (1 min apart); sessions 2h apart.
    # File i holds session i for every user, so each session's close is
    # triggered by the NEXT microbatch — exercising cross-batch state.
    files: list[list] = [[], [], []]
    for u in range(5):
        for s in range(3):
            start = t0 + dt.timedelta(hours=2 * s, minutes=u)
            for k in range(4):
                files[s].append(
                    (eid, start + dt.timedelta(minutes=k), u, "view", float(u + k))
                )
                eid += 1
    drops = tmp_path / "events"
    drops.mkdir()
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    for i, batch in enumerate(files):
        spark.createDataFrame(batch, schema=schema).coalesce(1).write.parquet(
            str(drops / f"drop{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops) + "/drop*")
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("sess_test").toPandas()
    # sessions 0 and 1 per user closed by later data; session 2 stays open
    assert len(got) == 10
    got = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    for u in range(5):
        mine = got[got["user_id"] == u].reset_index(drop=True)
        assert len(mine) == 2
        for s in range(2):
            start = t0 + dt.timedelta(hours=2 * s, minutes=u)
            assert mine.loc[s, "session_start"].to_pydatetime() == start
            assert mine.loc[s, "session_end"].to_pydatetime() == start + dt.timedelta(minutes=3)
            assert mine.loc[s, "n_events"] == 4
            assert mine.loc[s, "total_value"] == float(4 * u + 6)  # u+0..u+3


def test_windowed_event_counts_streaming_append(spark, tmp_path):
    """The same window agg on a real stream: with the watermark, closed
    windows emit in append mode once later drops advance event time."""
    import datetime as dt

    from webxtract.streaming import windowed_event_counts

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    drops = tmp_path / "evdrops"
    drops.mkdir()
    early = [(0, t0 + dt.timedelta(minutes=1), 1, "view", 1.0),
             (1, t0 + dt.timedelta(minutes=2), 2, "view", 2.0)]
    late = [(2, t0 + dt.timedelta(hours=2), 1, "click", 9.0)]  # advances watermark
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(str(drops / "d0"))
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(str(drops / "d1"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops) + "/d*")
    )
    q = (
        windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("winagg").collect()
    }
    # the first window closed when the +2h drop advanced the watermark
    assert rows[(t0, "view")] == (2, 3.0)


def test_windowed_event_counts_batch_exact(spark):
    """The streaming window agg run in batch mode (watermark no-op)."""
    import datetime as dt

    from webxtract.streaming import windowed_event_counts

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (0, t0 + dt.timedelta(minutes=1), 1, "view", 1.0),
        (1, t0 + dt.timedelta(minutes=9), 1, "view", 2.0),
        (2, t0 + dt.timedelta(minutes=11), 2, "click", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(df).collect()
    }
    assert got == {
        (t0, "view"): (2, 3.0),
        (t0 + dt.timedelta(minutes=10), "click"): (1, 5.0),
    }


def test_multimodal_sniff_media_expr(spark):
    from webxtract.multimodal import sniff_media_expr

    rows = [
        ("u1", b"\x89PNG\r\n\x1a\n" + b"\x00" * 20),
        ("u2", b"\xff\xd8\xff\xe0" + b"\x01" * 20),
        ("u3", b"RIFF\x00\x00\x00\x00WAVEfmt "),
        ("u4", b"\x00\x00\x00\x18ftypmp42AAAA"),
        ("u5", b"%PDF-1.4 stub"),
        ("u6", b"garbage bytes here"),
        ("u7", b""),
    ]
    df = spark.createDataFrame(rows, schema="url string, payload binary")
    meta = (
        df.select("url", sniff_media_expr().alias("m"))
        .toPandas()
        .set_index("url")["m"]
    )
    assert meta["u1"]["format"] == "png" and meta["u1"]["media_kind"] == "image"
    assert meta["u2"]["format"] == "jpeg"
    assert meta["u3"]["format"] == "wav" and meta["u3"]["media_kind"] == "audio"
    assert meta["u4"]["format"] == "mp4" and meta["u4"]["media_kind"] == "video"
    assert meta["u5"]["format"] == "pdf"
    assert meta["u6"]["format"] == "unknown"


def test_resize_and_frame_sample(spark):
    """Vision preprocessing plumbing: resize binds (source, dims) into
    deterministic output; frame sampling is flatMap-shaped with a
    size-derived frame count; null/empty payloads behave."""
    from webxtract.multimodal import MAGIC, resize_images, sample_frames

    rows = [("a", b"BM" + b"x" * 100), ("b", b"BM" + b"y" * 3000), ("c", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")

    rs = {r["url"]: r for r in resize_images(df, 224, 224).collect()}
    assert bytes(rs["a"]["payload"]).startswith(MAGIC["png"] + b"RSZ224x224:")
    assert rs["a"]["width"] == 224 and rs["a"]["height"] == 224
    assert bytes(rs["a"]["payload"]) != bytes(rs["b"]["payload"])  # source-bound
    assert rs["c"]["payload"] is None  # null payload -> null output, no crash

    fr = sample_frames(df, every_s=1, max_frames=4).collect()
    by_url: dict = {}
    for r in fr:
        by_url.setdefault(r["url"], []).append(r)
    assert len(by_url["a"]) == 1          # 102 bytes -> 1 frame
    assert len(by_url["b"]) == 2          # 3002 bytes -> 2 frames
    assert "c" not in by_url              # null payload -> zero rows
    assert [r["frame_no"] for r in sorted(by_url["b"], key=lambda r: r["frame_no"])] == [0, 1]
    assert all(bytes(r["frame"]).startswith(b"\xff\xd8\xff\xe0") for r in fr)
    assert len({bytes(r["frame"]) for r in fr}) == 3  # frames all distinct


def test_bpe_token_count(spark):
    from pyspark.sql import functions as F

    from webxtract.textops import bpe_token_count_expr

    df = spark.createDataFrame(
        [("a", "It's 2024, isn't it?"), ("b", ""), ("c", None)], "id string, text string"
    )
    got = {r["id"]: r["n"] for r in df.select("id", bpe_token_count_expr(F.col("text")).alias("n")).collect()}
    # It|'s| 2024|,| isn|'t| it|? -> 8
    assert got["a"] == 8
    assert got["b"] == 0
    assert got["c"] is None  # null text -> null count, not legacy -1


def test_lsh_topk_recall_vs_bruteforce(spark):
    """ANN sanity: the LSH top-k must be a subset of the brute-force
    ranking restricted to the query's bucket, and the query's own vector
    (cosine 1.0) must always be found."""
    from webxtract.contract import _query_vec, q_ann_lsh_topk, q_cosine_topk

    sf = "/root/testdata/sf0.001"
    bf = q_cosine_topk(spark, sf).toPandas()
    ann = q_ann_lsh_topk(spark, sf).toPandas()
    assert bf.iloc[0]["vec_id"] == 0 and bf.iloc[0]["cosine"] == pytest.approx(1.0)
    assert 0 in set(ann["vec_id"])  # query vector is in its own bucket
    assert (ann["cosine"] <= bf["cosine"].max() + 1e-9).all()

    # multi-probe (Hamming-1 buckets) must dominate single-probe:
    # superset candidates -> recall vs brute force can only go up
    from webxtract.contract import q_ann_multiprobe_topk

    multi = q_ann_multiprobe_topk(spark, sf).toPandas()
    top = set(bf["vec_id"])
    assert len(set(multi["vec_id"]) & top) >= len(set(ann["vec_id"]) & top)
    assert 0 in set(multi["vec_id"])


def test_near_dup_bucket_cap(spark):
    """A degenerate hot LSH bucket (many identical vectors) is dropped
    by max_bucket_size instead of going quadratic."""
    from webxtract.similarity import near_dup_pairs

    dim = 8
    hot = [1.0] * dim
    rows = [(i, hot) for i in range(20)]
    rows += [(100, [1.0, -1.0] * 4), (101, [1.0, -1.0] * 4)]  # a small true pair
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")

    capped = near_dup_pairs(
        df, threshold=0.99, dim=dim, planes_per_band=4, n_bands=2,
        max_bucket_size=5,
    )
    got = {(r["a"], r["b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # hot bucket dropped, small bucket kept

    # unbounded generation is the explicit opt-in (None), not the default
    uncapped = near_dup_pairs(
        df, threshold=0.99, dim=dim, planes_per_band=4, n_bands=2,
        max_bucket_size=None,
    )
    assert uncapped.count() == 20 * 19 / 2 + 1


def test_similarity_pairs_skip_null_ids_and_vectors(spark):
    """Rows with a NULL id or a NULL vector join no pair, and 60-bit
    ids come back exactly, when they share one partition with the
    NULLs: both similarity operators return the one non-NULL pair,
    which is also what their DuckDB oracles' l.vec_id < r.vec_id
    self-joins give over the same rows."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    from webxtract.oracles import ORACLES
    from webxtract.similarity import near_dup_pairs, semantic_dedup_pairs

    rng = np.random.default_rng(11)
    v, w = rng.normal(size=(2, 64)).astype(np.float32).tolist()
    ids = [2**60 + 1, 2**60 + 3, None, 2**60 + 5, 7]
    vecs = [v, v, v, None, w]
    df = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    ).coalesce(1)
    cents = rng.normal(size=(64, 64)).astype(np.float32)
    want = [(2**60 + 1, 2**60 + 3, 1.0)]

    def rows(pairs):  # noqa: ANN001, ANN202
        return sorted((r.a, r.b, r.cosine) for r in pairs.collect())

    assert rows(near_dup_pairs(df, threshold=0.9)) == want
    assert rows(semantic_dedup_pairs(df, cents.tolist(), threshold=0.999)) == want

    con = duckdb.connect()
    vec_type = pa.list_(pa.float32())
    con.register("vecs", pa.table(
        [pa.array(ids, pa.int64()), pa.array(vecs, vec_type)], names=["vec_id", "embedding"]
    ))
    # the semantic oracle's centroids are embeddings WHERE vec_id < 64
    con.register("embeddings", pa.table(
        [pa.array(range(64), pa.int64()), pa.array(cents.tolist(), vec_type)],
        names=["vec_id", "embedding"],
    ))
    # each oracle over the test rows in place of its planted-copy base
    near = ORACLES["embedding_near_dup"]
    near = "WITH unioned AS (SELECT * FROM vecs),\n" + near[near.index("bk AS ("):]
    sem = ORACLES["semantic_dedup"]
    sem = "WITH base AS (SELECT * FROM vecs)," + sem[sem.index("\nc AS ("):]
    assert con.sql(near).fetchall() == want
    assert con.sql(sem).fetchall() == want


def test_pair_generator_caps_default_on(spark):
    """The hot-bucket guards must protect with DEFAULT arguments: a
    bucket larger than the default cap (1000) is dropped without any
    caller opt-in, for both the embedding and the minhash generator."""
    from webxtract.dedup import minhash_lsh_pairs
    from webxtract.similarity import near_dup_pairs

    dim = 8
    hot = [1.0] * dim
    rows = [(i, hot) for i in range(1050)]
    rows += [(2000, [1.0, -1.0] * 4), (2001, [1.0, -1.0] * 4)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    got = {
        (r["a"], r["b"])
        for r in near_dup_pairs(df, threshold=0.99, dim=dim).collect()
    }
    assert got == {(2000, 2001)}

    base = "aa bb cc dd ee ff gg hh"
    docs = [(i, base) for i in range(1050)]
    docs += [(2000, "xx yy zz ww vv uu tt ss"), (2001, "xx yy zz ww vv uu tt rr")]
    ddf = spark.createDataFrame(docs, schema="doc_id long, text string")
    pairs = {
        (r["a"], r["b"]) for r in minhash_lsh_pairs(ddf, threshold=0.5).collect()
    }
    assert pairs == {(2000, 2001)}


def _py_simhash(text: str, bits: int = 32) -> int:
    """Pure-Python replica of dedup.simhash_expr (md5-60bit token hash,
    sign-of-bit-sums) for planting fixtures."""
    import hashlib

    toks = text.strip().split()
    sums = [0] * bits
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for b in range(bits):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum((1 << b) for b in range(bits) if sums[b] > 0)


def test_simhash_near_dup_planted_bit_flip(spark):
    """A planted pair at hamming distance exactly 1 is found by the
    banded near-dup operator; an unrelated far document is not paired."""
    from webxtract.dedup import simhash_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    # search for an appended token that flips exactly one fingerprint bit
    flip = None
    for i in range(10000):
        cand = f"{base} tok{i}"
        d = bin(_py_simhash(base) ^ _py_simhash(cand)).count("1")
        if d == 1:
            flip = cand
            break
    assert flip is not None, "no 1-bit-flip token found in search budget"

    far = "completely different subject matter entirely unrelated words galore everywhere"
    assert bin(_py_simhash(base) ^ _py_simhash(far)).count("1") > 3

    df = spark.createDataFrame(
        [(0, base), (1, flip), (2, far)], schema="doc_id long, text string"
    )
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, max_hamming=1).collect()
    }
    assert pairs == {(0, 1): 1}


def test_minhash_banding_finds_planted_near_dup(spark):
    """End-to-end MinHash-LSH sanity on planted near-duplicates."""
    from webxtract.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base + " extra"), (2, "completely different words here now")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.8
    assert all(2 not in pair for pair in got)


def test_dedup_stream_cross_drop_and_restart(spark, tmp_path):
    """Streaming exact dedup: duplicates across separate drops collapse
    keep-first; a restart from the checkpoint still remembers hashes
    from the prior run (state survives); NULL-text pages key on url and
    never collapse into one; re-running with no new drops emits nothing
    (exactly-once)."""
    import datetime as dt

    from webxtract.streaming import start_dedup_stream

    ts = dt.datetime(2026, 1, 15, 12, 0, 0)
    drops = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        spark.createDataFrame(
            [(u, ts, None, t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).coalesce(1).write.mode("append").parquet(drops)

    drop("d1", [("u1", "alpha"), ("u2", "alpha"), ("u3", "beta"),
                ("u4", None), ("u5", None)])
    q = start_dedup_stream(spark, drops, out, ckpt, watermark="48 hours")
    q.awaitTermination(300)
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    # one of u1/u2 survives (first arrival within the batch), beta
    # survives, BOTH null-text pages survive
    assert "u3" in got and "u4" in got and "u5" in got
    assert len(got & {"u1", "u2"}) == 1
    assert len(got) == 4

    # second run: a late duplicate of alpha + one genuinely new page
    drop("d2", [("u6", "alpha"), ("u7", "gamma")])
    q2 = start_dedup_stream(spark, drops, out, ckpt, watermark="48 hours")
    q2.awaitTermination(300)
    got2 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert "u7" in got2 and "u6" not in got2  # state survived restart
    assert len(got2) == 5

    # third run, nothing new: exactly-once, no re-emission
    q3 = start_dedup_stream(spark, drops, out, ckpt, watermark="48 hours")
    q3.awaitTermination(300)
    assert spark.read.parquet(out).count() == 5


def test_kmeans_assign_hand_computed(spark):
    """2 centroids in 2-d: (0,0) and (10,0). Points at (1,0) -> c0
    dist2 1.0; (6,0) -> c1 dist2 16.0; (5,0) is equidistant (25.0) and
    the tie goes to the LOWER centroid index."""
    from webxtract.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [6.0, 0.0]), (3, [5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(df, [[0.0, 0.0], [10.0, 0.0]]).collect()
    }
    assert got == {1: (0, 1.0), 2: (1, 16.0), 3: (0, 25.0)}


def test_kmeans_assign_plan_is_narrow(spark):
    """Assignment is one narrow projection: centroids are a literal,
    so there is NO join, NO exchange, NO Python in the plan."""
    from tests.test_plans import _plan, _python_node_names

    from webxtract.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    plan = _plan(kmeans_assign(df, [[0.0, 0.0], [1.0, 1.0]]))
    assert "Join" not in plan and "Exchange" not in plan
    # the input fixture scan is a PythonRDD; the OPERATOR must add no
    # Python evaluation of its own
    assert _python_node_names(plan) == []


def test_kmeans_update_hand_computed(spark):
    """Centroids (0,0) and (10,0): points (1,0),(3,2) -> c0 with mean
    (2,1); (9,1) -> c1 with mean (9,1). Counts and 6dp rounding."""
    from webxtract.similarity import kmeans_update

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 2.0]), (3, [9.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.cluster: (r.n_members, r.centroid)
        for r in kmeans_update(df, [[0.0, 0.0], [10.0, 0.0]]).collect()
    }
    assert got == {0: (2, [2.0, 1.0]), 1: (1, [9.0, 1.0])}


def test_semantic_dedup_blocks_by_cluster(spark):
    """Identical vectors in the same cluster pair at cosine 1.0;
    identical DIRECTION vectors assigned to different clusters never
    pair (clustering is the blocking key — that is the O(sum c^2)
    contract, and the miss is the documented recall trade)."""
    from webxtract.similarity import semantic_dedup_pairs

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),     # same cluster as 1, cosine 1.0
            (3, [100.0, 0.0]),   # same direction, but nearer c1
        ],
        "vec_id long, embedding array<float>",
    )
    cents = [[0.0, 0.0], [100.0, 0.0]]
    got = [
        (r.a, r.b, r.cosine)
        for r in semantic_dedup_pairs(df, cents, threshold=0.99)
        .orderBy("a", "b")
        .collect()
    ]
    assert got == [(1, 2, 1.0)]


def test_cosine_pairs_chunked_match_brute_force():
    """One group of 42 vectors (861 pairs) verified 50 pairs at a time
    gives the brute-force pairs: in-order float64 cosine, rounded 6 dp,
    kept at >= threshold, a < b."""
    import itertools
    import math

    import numpy as np

    from webxtract.kernels import spark_round
    from webxtract.similarity import _cosine_pairs

    dim, thr = 8, 0.95
    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, dim))
    V = (np.repeat(base, 7, axis=0) + rng.normal(scale=0.1, size=(42, dim))).astype(
        np.float32
    )
    ids = rng.permutation(1000)[:42].astype(np.int64)

    def in_order(x, y):  # noqa: ANN001, ANN202
        acc = float(x[0]) * float(y[0])
        for i in range(1, dim):
            acc = acc + float(x[i]) * float(y[i])
        return acc

    want = []
    for (a, va), (b, vb) in itertools.combinations(sorted(zip(ids, V), key=lambda r: r[0]), 2):
        c = in_order(va, vb) / (math.sqrt(in_order(va, va)) * math.sqrt(in_order(vb, vb)))
        if spark_round(c, 6) >= thr:
            want.append((int(a), int(b), spark_round(c, 6)))
    got = _cosine_pairs(ids, V, dim, thr, chunk=50)
    assert 0 < len(want) < 861
    assert list(zip(*got)) == want
    assert all(map(np.array_equal, got, _cosine_pairs(ids, V, dim, thr)))


def test_near_dedup_stream_cross_drop_restart_and_horizon(spark, tmp_path):
    """Streaming near-dedup: a hamming<=3 variant WITHIN a drop is
    suppressed keep-smallest-url; a variant in a LATER drop is
    suppressed against the committed fingerprint table (state survives
    restart); re-running with no new drops emits nothing (idempotent
    sinks); and with a horizon, a recrawl far past it is re-admitted
    (fingerprint state is bounded by crawl recency, not history)."""
    import datetime as dt

    from webxtract.streaming import start_near_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = None
    for i in range(10000):
        cand = f"{base} tok{i}"
        if bin(_py_simhash(base) ^ _py_simhash(cand)).count("1") <= 3:
            near = cand
            break
    assert near is not None
    far = "completely different subject matter entirely unrelated words galore everywhere"
    assert bin(_py_simhash(base) ^ _py_simhash(far)).count("1") > 3
    assert bin(_py_simhash(near) ^ _py_simhash(far)).count("1") > 3

    ts = dt.datetime(2026, 1, 15, 12, 0, 0)
    drops = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    fps = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def drop(rows, when=ts):
        spark.createDataFrame(
            [(u, when, None, t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).coalesce(1).write.mode("append").parquet(drops)

    def run():
        q = start_near_dedup_stream(
            spark, drops, out, fps, ckpt, max_hamming=3, horizon="72 hours"
        )
        q.awaitTermination(300)

    # u1 and its near-variant u2 in ONE drop: u1 (smaller url) survives;
    # far text and a NULL-text page always survive
    drop([("u1", base), ("u2", near), ("u3", far), ("u4", None)])
    run()
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got == {"u1", "u3", "u4"}
    # NULL-text pages are never fingerprinted
    committed = spark.read.parquet(fps)
    assert committed.filter(committed.sh.isNull()).count() == 0
    assert committed.count() == 2  # base + far

    # second drop after restart: the near-variant of COMMITTED base is
    # suppressed by the fingerprint table; genuinely new text survives
    new = "a genuinely new page about something else entirely with fresh words"
    assert bin(_py_simhash(new) ^ _py_simhash(base)).count("1") > 3
    assert bin(_py_simhash(new) ^ _py_simhash(far)).count("1") > 3
    drop([("u5", near), ("u6", new)], when=ts + dt.timedelta(hours=1))
    run()
    got2 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got2 == {"u1", "u3", "u4", "u6"}

    # nothing new: idempotent, no re-emission
    run()
    assert {r["url"] for r in spark.read.parquet(out).collect()} == got2

    # a recrawl 30 days later: every fingerprint is past the 72h
    # horizon, so the same text is re-admitted (bounded state by design)
    drop([("u7", base)], when=ts + dt.timedelta(days=30))
    run()
    got3 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert "u7" in got3 and len(got3) == 5
