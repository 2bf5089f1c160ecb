"""One submission of a perfbench workload, in a process of its own.

Usage: ``python3 perfbench/job.py SPEC.json`` (``run.py`` writes the spec
and launches this). Like a ``webxtract.cli`` submission, the process
starts a fresh local[N] session, runs one job through the package's
public entry points, and exits. It writes a result JSON: set-up time,
job wall time and, when the spec asks for a trace, the per-layer
numbers plus the span list.

Set-up is measured from the moment the parent launched this process
until ``get_spark`` returned (interpreter start, JVM start, package
shipping). The job is measured from the call into the first entry point
until its outputs are committed.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

WRITE_GROUP = "webxtract-write-{}"  # job group run_extraction_job sets on its write


class Tracer:
    """In-memory spans (name, start, end, parent, job) written out at the
    end of the run; wraps calls into public functions from outside."""

    def __init__(self, job: int) -> None:
        self.job = job
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: str | None, **kw) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "job": self.job, **kw}
        )

    def wrap(self, name: str, fn):  # noqa: ANN001, ANN201
        """``fn`` recording a span (parent: the job) per call."""

        def timed(*a, **kw):  # noqa: ANN002, ANN003, ANN202
            t = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.span(name, t, time.time(), "job")

        return timed

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# ------------------------------------------------------------- pipeline


LADDER = [
    "table_io",
    "ops.extract",
    "ops.fields",
    "ops.detect_type",
    "ops.fake",
    "audit.partition_by_url",
    "ops.validators",
]
EXEC_KEYS = ("exec_s", "run_core_s", "cpu_core_s", "gc_s", "python_s")


def _ladder_frames(spark, path: str, run_date: str) -> dict:  # noqa: ANN001
    """Prefix ladder of public functions; each rung adds one layer. The
    last rung is the full run_pipeline, so 'ops.validators' is everything
    run_pipeline does beyond the salted exchange."""
    from webxtract.audit import partition_by_url
    from webxtract.ops.detect_type import with_doc_type
    from webxtract.ops.extract import extract_pages
    from webxtract.ops.fake import with_fake_detection
    from webxtract.ops.fields import with_fields
    from webxtract.pipeline import run_pipeline
    from webxtract.table_io import load_pages

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    steps = [
        lambda d: d,
        extract_pages,
        with_fields,
        with_doc_type,
        lambda d: with_fake_detection(d, raw_text_col="extracted_text"),
        lambda d: partition_by_url(d, n_part),
    ]

    def rung(k: int):  # noqa: ANN202
        if k == len(steps):
            return run_pipeline(load_pages(spark, path), run_date=run_date)
        df = load_pages(spark, path)
        for f in steps[: k + 1]:
            df = f(df)
        return df

    return {name: (lambda k=k: rung(k)) for k, name in enumerate(LADDER)}


def _tracker_phases(df) -> dict:  # noqa: ANN001
    """Plan df's own QueryExecution and read its phase times (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs() / 1e3
    return phases


def pipeline_job(spark, spec: dict, tracer: Tracer | None) -> dict:  # noqa: ANN001
    from webxtract import audit
    from webxtract.pipeline import run_pipeline
    from webxtract.table_io import load_pages

    run_date = spec["run_date"]

    def transform(df):  # noqa: ANN001, ANN202
        return run_pipeline(df, run_date=run_date)

    if tracer:
        transform = tracer.wrap("build", transform)
        audit.audit_rows = tracer.wrap("audit_rows.build", audit.audit_rows)

    t0 = time.time()
    pages = load_pages(spark, spec["pages"])
    m = audit.run_extraction_job(
        pages,
        output_path=spec["output"],
        audit_path=spec["audit"],
        run_id=spec["run_id"],
        spark=spark,
        transform=transform,
    )
    t1 = time.time()
    res = {"job_s": t1 - t0, "urls": m["urls"], "parse_failures": m["parse_failures"]}
    if tracer:
        res["layers"] = _pipeline_layers(spark, spec, tracer, t0, t1)
    return res


def _pipeline_layers(spark, spec: dict, tracer: Tracer, t0: float, t1: float) -> dict:  # noqa: ANN001
    from perfbench.sparkstats import (
        StatusApi, group_totals, span_totals, sql_plan_gap_s, stage_spans, ts,
    )

    sc = spark.sparkContext
    tracer.span("job", t0, t1, None)
    frames = _ladder_frames(spark, spec["ladder_pages"], spec["run_date"])
    phases: dict = {}
    walls: dict[str, tuple[float, float]] = {}
    for name, build in frames.items():
        t = time.time()
        df = build()
        if name == "ops.validators":
            phases = _tracker_phases(df)
        tracer.span(f"ladder.{name}.build", t, time.time(), None)
        sc.setJobGroup(f"perfbench-ladder-{name}", name)
        t = time.time()
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        walls[name] = (t, time.time())

    c0 = time.time()
    api = StatusApi(spark)
    write_group = WRITE_GROUP.format(spec["run_id"])
    snap = api.snapshot({write_group} | {f"perfbench-ladder-{n}" for n in LADDER})

    def ids(pred) -> list[int]:  # noqa: ANN001
        return [j["jobId"] for j in snap["jobs"] if pred(j)]

    def in_job(j: dict) -> bool:
        return t0 <= ts(j["submissionTime"]) <= t1

    write_ids = ids(lambda j: j.get("jobGroup") == write_group)
    write = group_totals(snap, write_ids)
    after = write["last_complete"] or t1
    audit_jobs = ids(lambda j: in_job(j) and j.get("jobGroup") is None
                     and ts(j["submissionTime"]) >= after)
    audit_t = group_totals(snap, audit_jobs)
    whole = group_totals(snap, ids(in_job))
    rungs = {n: group_totals(snap, ids(lambda j, n=n: j.get("jobGroup") == f"perfbench-ladder-{n}"))
             for n in LADDER}

    out: dict = {}
    prev = None
    for n in LADDER:
        for k in EXEC_KEYS:
            out[f"{n}.{k}"] = rungs[n][k] - (rungs[prev][k] if prev else 0.0)
        prev = n
    part = rungs["audit.partition_by_url"]
    out["audit.partition_by_url.shuffle_bytes"] = part["shuffle_bytes"]
    reduce_stages = [s for s in part["stage_rows"] if s["shuffleReadRecords"] > 0]
    out["audit.partition_by_url.task_rows_max_over_median"] = (
        api.reduce_task_skew(max(reduce_stages, key=lambda s: s["stageId"]))
        if reduce_stages else 0.0
    )
    out["pipeline.build_s"] = tracer.duration("build")
    out["pipeline.plan_s"] = sql_plan_gap_s(snap, write_ids)
    out["pipeline.analysis_s"] = phases.get("analysis", 0.0)
    out["pipeline.optimization_s"] = phases.get("optimization", 0.0)
    out["pipeline.planning_s"] = phases.get("planning", 0.0)
    out["audit.write.exec_s"] = write["exec_s"]
    out["audit.audit_rows.exec_s"] = t1 - after
    out["spark.jobs"] = whole["jobs"]
    out["spark.stages"] = whole["stages"]
    out["spark.tasks"] = whole["tasks"]
    out["spark.gc_s"] = whole["gc_s"]
    ladder_sum = sum(out[f"{n}.exec_s"] for n in LADDER)
    out["trace.ladder_sum_s"] = ladder_sum
    out["trace.ladder_residual_s"] = write["exec_s"] - ladder_sum
    out["trace.job_s"] = t1 - t0

    if write["first_submit"]:
        build_end = max((s["end"] for s in tracer.spans if s["name"] == "build"), default=t0)
        tracer.span("plan", build_end, write["first_submit"], "job")
        tracer.span("write", write["first_submit"], write["last_complete"], "job",
                    **span_totals(write))
        tracer.spans.extend(stage_spans(write, "write", tracer.job))
    if audit_t["jobs"]:
        tracer.span("audit", after, t1, "job", **span_totals(audit_t))
        tracer.spans.extend(stage_spans(audit_t, "audit", tracer.job))
    for n in LADDER:
        tracer.span(f"ladder.{n}", *walls[n], None, **span_totals(rungs[n]))
        tracer.spans.extend(stage_spans(rungs[n], f"ladder.{n}", tracer.job))
    out["trace.collect_s"] = time.time() - c0
    return out


# --------------------------------------------------------------- curate


CURATE_OPS = [
    "curation.normalize_text",
    "curation.repetition_signals",
    "dedup.exact_dedup",
    "dedup.simhash_near_dup_pairs",
    "dedup.dedup_keep_best",
    "dedup.doc_containment",
    "curation.bucket_counts",
    "curation.dsir_scores_frame",
]


def curate_job(spark, spec: dict, tracer: Tracer | None) -> dict:  # noqa: ANN001
    """The fixed curation chain; each operator's output is committed as
    parquet under the job's output directory (bucket_counts is collected
    to the driver, as its callers do)."""
    from pyspark.sql import functions as F

    from webxtract import curation, dedup

    sc = spark.sparkContext
    out = spec["output"]
    steps: list[tuple[str, float, float]] = []

    def step(name: str, fn):  # noqa: ANN001, ANN202
        # job groups in every mode, so traced and untraced runs submit
        # the same jobs
        sc.setJobGroup(f"perfbench-{name}", name)
        t = time.time()
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            steps.append((name, t, time.time()))

    def save(name: str, df) -> None:  # noqa: ANN001
        df.write.mode("overwrite").parquet(os.path.join(out, name))

    t0 = time.time()
    docs = spark.read.parquet(spec["table"])
    step(CURATE_OPS[0], lambda: save("normalize_text", curation.normalize_text(docs)))
    t = spark.read.parquet(os.path.join(out, "normalize_text")).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    step(CURATE_OPS[1], lambda: save("repetition_signals", curation.repetition_signals(t)))
    step(CURATE_OPS[2], lambda: save("exact_dedup", dedup.exact_dedup(t)))
    step(CURATE_OPS[3], lambda: save("pairs", dedup.simhash_near_dup_pairs(t)))
    step(CURATE_OPS[4], lambda: save(
        "keep_best", dedup.dedup_keep_best(t, spark.read.parquet(os.path.join(out, "pairs")))
    ))
    step(CURATE_OPS[5], lambda: save("containment", dedup.doc_containment(t)))
    counts = step(CURATE_OPS[6], lambda: {
        r["bucket"]: r["n"] for r in curation.bucket_counts(t, n_buckets=64).collect()
    })
    # DSIR against the closed-form target p[b] = (b + 1) / 2080
    total = sum(counts.values())
    log_ratio = [
        math.log((b + 1) / 2080.0) - math.log((counts.get(b, 0) + 1.0) / (total + 64))
        for b in range(64)
    ]
    step(CURATE_OPS[7], lambda: save("dsir", curation.dsir_scores_frame(t, log_ratio)))
    t1 = time.time()
    res = {"job_s": t1 - t0}
    if tracer:
        res["layers"] = _curate_layers(spark, tracer, steps, t0, t1)
    return res


def _curate_layers(spark, tracer: Tracer, steps: list, t0: float, t1: float) -> dict:  # noqa: ANN001
    from perfbench.sparkstats import StatusApi, group_totals, span_totals, stage_spans, ts

    c0 = time.time()
    tracer.span("job", t0, t1, None)
    snap = StatusApi(spark).snapshot({f"perfbench-{n}" for n in CURATE_OPS})
    out: dict = {}
    for name, a, b in steps:
        tot = group_totals(snap, [j["jobId"] for j in snap["jobs"]
                                  if j.get("jobGroup") == f"perfbench-{name}"])
        for k in EXEC_KEYS:
            out[f"{name}.{k}"] = tot[k]
        tracer.span(name, a, b, "job", **span_totals(tot))
        tracer.spans.extend(stage_spans(tot, name, tracer.job))
    whole = group_totals(snap, [j["jobId"] for j in snap["jobs"]
                                if t0 <= ts(j["submissionTime"]) <= t1])
    out["spark.jobs"] = whole["jobs"]
    out["spark.stages"] = whole["stages"]
    out["spark.tasks"] = whole["tasks"]
    out["spark.gc_s"] = whole["gc_s"]
    out["trace.job_s"] = t1 - t0
    out["trace.collect_s"] = time.time() - c0
    return out


# ----------------------------------------------------------------- main


JOBS = {"pipeline_batch": pipeline_job, "curate_corpus": curate_job}


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from perfbench.procs import descendants, peak_rss_mb
    from webxtract.session import get_spark

    n = spec["cpus"]
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    spark = get_spark(
        f"perfbench-{spec['workload']}",
        master=f"local[{n}]",
        # random UI port: the status API backs audit wall_ms and the trace
        extra_conf={"spark.ui.port": "0"},
    )
    res = {"setup_s": time.time() - spec["launch_ts"]}
    tracer = Tracer(spec["job"]) if spec["trace"] else None
    res.update(JOBS[spec["workload"]](spark, spec, tracer))
    # the JVM and its Python workers are descendants of this process
    res["peak_rss_mb"] = peak_rss_mb([os.getpid(), *descendants(os.getpid())])
    if tracer:
        with open(spec["spans_path"], "w") as f:
            json.dump(tracer.spans, f)
    with open(spec["result_path"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1])
    # Outputs are committed and the result is written: skip the graceful
    # session shutdown (seconds per job); the parent, a subreaper, kills
    # and reaps the JVM and the Python workers this leaves behind.
    sys.stdout.flush()
    os._exit(code)
