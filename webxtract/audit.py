"""Scale features (SURVEY.md §2.1 S5 + §4.3): url-hash partitioning
with salting for skewed hosts, per-partition lineage/metrics audit
rows, and idempotent resume via anti-join against committed output.

``commit_run`` is the one write-and-audit body: the batch job
(``run_extraction_job``) and the audited stream's ``foreachBatch`` both
commit through it into a ``run_id``-partitioned output and one flat
audit table. A ``run_id`` names one commit: once its ``run_id=``
partition exists nothing is written under it again, and its audit rows
are appended only if the audit table holds none for it.

On a real cluster the output + audit tables are Iceberg and resume uses
snapshot ids; in this sandbox both are parquet directories and the
lineage token is the run_id — the dataflow (observe-style metric
aggregation, anti-join resume) is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from webxtract.schemas import AUDIT_SCHEMA


def partition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by (host, shard) — bounded host locality.

    Partitioning on plain hash(url) spreads rows but scatters every
    host across ALL partitions; partitioning on host alone serializes
    a Zipf-hot host into one task. The (host, shard) key with
    shard = xxhash64(url) % 4 keeps each host's pages in at most 4
    buckets (locality for per-host work: robots/rate metadata reuse,
    per-host dedup) while guaranteeing no host exceeds ~1/4 of its
    bytes per task. Deterministic — the shard comes from the url hash,
    no RNG."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    shard = F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
    key = F.xxhash64(
        F.concat_ws("#", F.coalesce(host, F.col("url")), shard.cast("string"))
    )
    return df.repartition(num_partitions, key)


def audit_rows(
    extracted: DataFrame,
    run_id: str,
    wall_by_pid: dict[int, float] | None = None,
) -> DataFrame:
    """Per-partition lineage + metrics: url_count, bytes_in,
    parse_failures, wall_ms (north_rule audit table; the reference's
    per-request processingTimeMs, middleware.py:68,127, becomes a
    per-partition task wall).

    The frame must carry the ``partition_id`` the writer recorded with
    spark_partition_id(): a read-back audit groups by the write tasks,
    not by the read split layout. ``wall_by_pid`` maps write-task index
    -> task duration ms (from the scheduler's task metrics); it is tiny
    (one entry per task) and becomes a literal map looked up by
    ``partition_id``, so no join and no second frame. A partition with
    no wall gets a NULL ``wall_ms``. ``schemas.AUDIT_SCHEMA`` names,
    orders and types the six columns."""
    agg = extracted.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("url_count"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.col("parse_failure").cast("long")).alias("parse_failures"),
    )
    if wall_by_pid:
        pairs = sorted((int(k), float(v)) for k, v in wall_by_pid.items())
        walls = F.create_map(*[F.lit(x) for pair in pairs for x in pair])
        wall_ms = walls[F.col("partition_id")]
    else:
        wall_ms = F.lit(None).cast("double")
    values = {"run_id": F.lit(run_id), "wall_ms": wall_ms}
    return agg.select(
        *[
            values.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name)
            for f in AUDIT_SCHEMA
        ]
    )


def resume_filter(pages: DataFrame, output_path: str, spark: SparkSession) -> DataFrame:
    """Idempotent resume: LEFT ANTI join against already-committed urls
    so a re-run only processes the remainder (SURVEY.md §4.3.3). The
    done-set is a column-pruned scan of just the url column; the anti
    join is a full shuffle join on url at scale (at 10^12 committed
    urls the done-set is NOT broadcastable). Production variants that
    avoid even that shuffle: bucket both tables by url-hash and use a
    storage-partitioned join, or — on Iceberg — read only the snapshot
    range committed since the last successful run (incremental scan)
    so the anti join's right side is one run's urls, not the history."""
    if not _exists(output_path, spark):
        return pages
    done = spark.read.parquet(output_path).select("url")
    return pages.join(done, "url", "left_anti")


def run_extraction_job(
    pages: DataFrame,
    output_path: str,
    audit_path: str,
    run_id: str,
    spark: SparkSession,
    num_partitions: int | None = None,
    transform=None,
) -> dict:
    """The production job shape: resume -> salt/partition -> extract ->
    ``commit_run``. Returns this run's metrics.

    The resume anti-join skips urls committed by any earlier run, so a
    failed run is finished by a rerun under a fresh ``run_id``. A rerun
    under a ``run_id`` that already committed writes nothing and only
    restores that run's audit rows if they are missing (``commit_run``).

    ``transform`` swaps the per-page job body (default: extract_pages;
    the CLI passes the full validation pipeline for --mode pipeline) —
    it must preserve the url / n_bytes / parse_failure columns the
    observe stats and audit aggregation read. ``num_partitions`` is for
    the default body only: with a ``transform`` too it raises
    ValueError before any Spark job, since ``run_pipeline`` partitions
    by the same key itself and a repartition of the raw pages before it
    would shuffle the html twice."""
    from webxtract.ops.extract import extract_pages

    if transform is None:
        transform = extract_pages
    elif num_partitions is not None:
        raise ValueError(
            "num_partitions is for the default extract transform: the pipeline "
            "partitions once, by the salted url key at spark.sql.shuffle.partitions, "
            "which spark-submit sets (--conf spark.sql.shuffle.partitions=N)"
        )
    todo = resume_filter(pages, output_path, spark)
    if num_partitions:
        todo = partition_by_url(todo, num_partitions)
    return commit_run(transform(todo), output_path, audit_path, run_id, spark)


def commit_run(
    frame: DataFrame,
    output_path: str,
    audit_path: str,
    run_id: str,
    spark: SparkSession,
) -> dict:
    """Commit ``frame`` as run ``run_id``: publish it as the output's
    ``run_id=`` partition and append one audit row per write task to the
    flat audit table. The batch job and the audited stream (one call
    per microbatch, ``run_id`` = ``batch-<id>``) both commit through
    here, so they can share one audit table.

    A ``run_id`` names one commit. The output partition is published by
    a dynamic partition overwrite, one rename, so its directory exists
    only once the whole write committed. If it already exists, nothing
    is written again, and the audit rows are appended only when the
    audit table holds none for this ``run_id``: an attempt that died
    between the two writes gets its audit rows from a read-back of the
    committed partition, with NULL ``wall_ms`` (the write's task walls
    went with that attempt) and the reason in ``metrics_errors``. A
    scheduler retry under the same id or a replayed microbatch thus
    leaves output and audit as one commit left them.

    Run-level stats come from ``df.observe`` on the write itself — zero
    extra passes (SURVEY.md §2.1-S5); they count what this call wrote,
    so an already-committed ``run_id`` reports 0 urls. The audit rows
    are a groupBy over a read-back of this run's ``run_id=`` directory
    alone (never a listing or rescan of the full history: at 10^12
    accumulated urls a full-table re-aggregation per incremental run is
    a non-starter). A run that writes no rows has no such directory and
    appends nothing to the audit table. Each row's ``wall_ms`` is its
    write task's duration from the driver's status store.
    ``metrics_errors`` names every metric read that failed or came back
    short (empty on success); the run still commits, with NULL
    ``wall_ms`` where a wall is missing.

    ``run_id`` is added after the ``observe``, directly under the write.
    The write partitions by ``run_id``, and Spark sorts each write task's
    rows by its partition columns unless it can see they are constant.
    Below the ``observe``, its CollectMetrics node hides the literal from
    the write's planning: every write task then sorts its rows by one
    constant, which takes a Tungsten page per task and, at scale,
    buffers (and may spill) the whole partition. Above it the write plan
    has no Sort. ``partition_id`` stays below the ``observe``: it is the
    write task index either way."""
    from pyspark.sql import Observation

    # recorded at write time: spark_partition_id() in the write stage IS
    # the write task index, so the read-back audit can group by the
    # producing task and look up its scheduler wall time
    extracted = frame.withColumn("partition_id", F.spark_partition_id())
    # read back only this run's partition directory, named the way the
    # writer names it, and only the columns the audit aggregates, under
    # the schema the write used
    catalog_utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    run_dir = f"{output_path.rstrip('/')}/run_id={catalog_utils.escapePathName(run_id)}"
    stats = {"urls": 0, "bytes_in": 0, "parse_failures": 0}
    metrics_errors: list[str] = []
    walls: dict[int, float] = {}
    if _exists(run_dir, spark):
        if _audited(audit_path, run_id, spark):
            return {"run_id": run_id, **stats, "metrics_errors": metrics_errors}
        metrics_errors.append(
            f"audit restored from the committed run_id={run_id}: its write's task walls are gone"
        )
    else:
        obs = Observation(f"webxtract-{run_id}")
        observed = extracted.observe(
            obs,
            F.count(F.lit(1)).alias("urls"),
            F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("bytes_in"),
            F.coalesce(F.sum(F.col("parse_failure").cast("long")), F.lit(0)).alias(
                "parse_failures"
            ),
        ).withColumn("run_id", F.lit(run_id))
        group = f"webxtract-write-{run_id}"
        sc = spark.sparkContext
        # a foreachBatch call runs on the stream's thread, whose own job
        # group is put back after the write
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            _overwrite_run_partition(observed, output_path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        stats = obs.get
        if not _exists(run_dir, spark):
            return {"run_id": run_id, **stats, "metrics_errors": metrics_errors}
        # the output is committed: a task-wall read that fails leaves
        # wall_ms NULL and is reported in metrics_errors, never fails the run
        try:
            walls, n_tasks = _task_walls_for_group(spark, group)
            if len(walls) < n_tasks:
                metrics_errors.append(
                    f"task walls: {len(walls)} of {n_tasks} write tasks in the status store"
                )
        except Exception as e:
            detail = " ".join(str(e).split())[:300]
            metrics_errors.append(f"task walls: {type(e).__name__}: {detail}")
    read_back = StructType(
        [extracted.schema[c] for c in ("partition_id", "n_bytes", "parse_failure")]
    )
    this_run = spark.read.schema(read_back).parquet(run_dir)
    audit_rows(this_run, run_id, wall_by_pid=walls).write.mode("append").parquet(audit_path)
    return {"run_id": run_id, **stats, "metrics_errors": metrics_errors}


def _overwrite_run_partition(df: DataFrame, path: str) -> None:
    """Write ``df`` (which carries a ``run_id`` column) to ``path``,
    replacing only the run_id partitions it holds. Each partition is
    written under a staging directory and published by one rename, so a
    reader never sees half of it and a replayed write replaces instead
    of appending duplicates (foreachBatch is at-least-once)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id")
        .parquet(path)
    )


def _audited(audit_path: str, run_id: str, spark: SparkSession) -> bool:
    """Whether the audit table holds any row of ``run_id``."""
    if not _exists(audit_path, spark):
        return False
    rows = spark.read.schema(AUDIT_SCHEMA).parquet(audit_path)
    return not rows.filter(F.col("run_id") == run_id).isEmpty()


def _task_walls_for_group(
    spark: SparkSession, group: str
) -> tuple[dict[int, float], int]:
    """Per-task wall-clock of the group's write stage, {task index:
    duration ms}, and that stage's task count. Errors propagate to the
    caller."""
    attempts = _write_stage_attempts(spark, group)
    walls: dict[int, float] = {}
    for att in attempts:
        for task in (att.get("tasks") or {}).values():
            idx, dur = task.get("index"), task.get("duration")
            if idx is not None and dur is not None:
                walls[int(idx)] = float(dur)
    return walls, max((att.get("numTasks") or 0 for att in attempts), default=0)


def _write_stage_attempts(spark: SparkSession, group: str) -> list[dict]:
    """Every attempt of the group's write stage with its tasks, as the
    JSON the UI's REST API serves (``stages/{id}?details=true``), read
    in one Py4J round trip from the driver's status store, which is
    kept whether or not the UI runs. The listener bus fills the store
    asynchronously, so it is drained first. [] when the group ran no
    job."""
    import json

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: list[int] = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info:
            stage_ids.extend(info.stageIds)
    if not stage_ids:
        return []
    # the ResultStage of the write job has the highest stage id
    sid = max(stage_ids)
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    # stageData(id, details, taskStatus, withSummaries, quantiles); an
    # empty taskStatus list keeps tasks of every status
    data = jsc.statusStore().stageData(
        sid, True, jvm.java.util.ArrayList(), False, sc._gateway.new_array(jvm.double, 0)
    )
    return json.loads(mapper.writeValueAsString(data))


def _exists(path: str, spark: SparkSession) -> bool:
    if path.startswith("/") or path.startswith("file:"):
        return os.path.exists(path.removeprefix("file:"))
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)
