"""Structured-Streaming ingestion for incremental WARC/page drops.

The reference is purely request/response — it has zero streaming
constructs (SURVEY.md §1.4) — but the rebuild's batch pipeline lifts
directly onto Structured Streaming because every stage is a stateless
narrow transformation: readStream over the pages directory ->
extract/validate -> append sink, with Trigger.AvailableNow for
catch-up-then-stop incremental runs (the Iceberg-incremental-read
analog in this sandbox).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from webxtract.schemas import PAGES_SCHEMA

log = logging.getLogger(__name__)


def read_page_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of page parquet drops, at most 16 files per
    microbatch."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )


def _start_parquet_sink(
    out: DataFrame, output_path: str, checkpoint_path: str
) -> StreamingQuery:
    """Append ``out`` to a parquet sink under ``Trigger.AvailableNow``:
    the run processes every file present, then stops. Exactly-once via
    the checkpoint (file-source offsets + file-sink manifest)."""
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """pages stream -> extraction -> append parquet sink."""
    from webxtract.ops.extract import extract_pages

    stream = read_page_stream(spark, input_path)
    return _start_parquet_sink(
        extract_pages(stream), output_path, checkpoint_path
    )


def start_pipeline_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    run_date: str | None = None,
) -> StreamingQuery:
    """pages stream -> FULL pipeline (extract -> fields -> type ->
    fake -> validators -> summary) -> append parquet sink.

    Everything after extraction is a stateless projection, so the whole
    batch pipeline lifts onto the stream unchanged; the salted url-hash
    exchange inside run_pipeline becomes a per-microbatch shuffle.
    Exactly-once via the checkpoint, as with the extraction stream."""
    from webxtract.config import DEFAULT_RUN_DATE
    from webxtract.pipeline import run_pipeline

    stream = read_page_stream(spark, input_path)
    out = run_pipeline(stream, run_date=run_date or DEFAULT_RUN_DATE)
    return _start_parquet_sink(out, output_path, checkpoint_path)


def start_audited_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    audit_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Extraction stream with the batch job's audit contract: every
    microbatch is one ``audit.commit_run`` under ``run_id`` =
    ``batch-<id>``, so its output, observed stats, task walls and flat
    audit rows are those of a batch run, and the stream can share its
    audit table with ``audit.run_extraction_job``. A non-empty
    ``metrics_errors`` is logged at WARNING with the ``run_id``.

    Replay safety: a recovered microbatch re-runs with the SAME batch
    id. ``commit_run`` publishes a ``run_id=`` partition with one
    rename and writes nothing under a ``run_id`` that already has one,
    so a replayed batch leaves output and audit as they were, and one
    that died between its two writes only gets its missing audit rows
    (foreachBatch is at-least-once; idempotence comes from the sink)."""
    from webxtract.audit import commit_run
    from webxtract.ops.extract import extract_pages

    stream = read_page_stream(spark, input_path)

    def _commit_batch(batch_df, batch_id):  # noqa: ANN001
        m = commit_run(batch_df, output_path, audit_path, f"batch-{batch_id}", spark)
        if m["metrics_errors"]:
            log.warning("run_id %s: metrics_errors %s", m["run_id"], m["metrics_errors"])

    return (
        extract_pages(stream).writeStream.foreachBatch(_commit_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ----------------------------------------------- windowed aggregation


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window event metrics with a watermark for late data.

    On a streaming DataFrame: events later than ``watermark`` behind the
    max seen event time are dropped and window state is evicted — the
    standard bounded-state late-data policy. On a batch DataFrame the
    watermark is a no-op and the result is exact, which is how the
    driver's DuckDB oracle checks the window arithmetic
    (``windowed_event_counts`` in webxtract.contract/oracles).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ------------------------------------------- stateful sessionization


# the operator's output: session bounds in epoch micros, turned into
# timestamps after it (pandas timestamps stop at 2262-04-11)
SESSION_US_SCHEMA = (
    "user_id bigint, start_us bigint, end_us bigint, "
    "n_events bigint, total_value double"
)
# epoch-micros + counters; kept flat and integer-typed so state rows are
# small (streaming state lives in the state store per key)
SESSION_STATE_SCHEMA = "start long, last long, n long, total double"


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState``) — the streaming twin of the batch
    lag+running-sum sessionizer (webxtract.contract.q_sessionize_events).

    Per user_id the state holds the open session (start/last/n/total in
    epoch micros). A closed session is emitted as soon as a later event
    arrives past the gap, so sessions interrupted by a microbatch
    boundary continue seamlessly; a session with no successor event
    closes via event-time timeout once the watermark passes
    last + gap. The final open session at end-of-stream stays in state
    (exactly the semantics a continuous pipeline wants; AvailableNow
    catch-up runs pick it up on the next increment).

    Event times enter and leave the operator as epoch micros
    (``unix_micros`` before it, ``timestamp_micros`` after it), so
    pandas never holds a timestamp and any Spark timestamp, including
    one past 2262, sessionizes.

    Watermark discipline: keep ``watermark`` <= ``gap_seconds`` (the
    default aligns them). Within that bound every admitted late event
    satisfies ``us >= last - gap``, so min/max merging into the single
    open session is exactly the batch semantics. With watermark > gap
    an admitted event older than ``start - gap`` would belong to a
    SEPARATE earlier session that single-interval state cannot
    represent; such an event is emitted as its own closed session
    (best-effort — a later bridging event cannot reopen it).
    """
    import pandas as pd  # local: workers import lazily
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "start_us": [start],
                    "end_us": [last],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )
            return

        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"])
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0

        out = {k: [] for k in ("user_id", "start_us", "end_us", "n_events", "total_value")}
        for us, value in zip(rows["us"].tolist(), rows["value"]):
            if start is None:
                start, last, n, total = us, us, 1, float(value)
            elif us - last > gap_us:
                out["user_id"].append(user_id)
                out["start_us"].append(start)
                out["end_us"].append(last)
                out["n_events"].append(n)
                out["total_value"].append(round(total, 6))
                start, last, n, total = us, us, 1, float(value)
            elif us < start - gap_us:
                # only reachable when watermark > gap: the event is a
                # separate EARLIER session this single-interval state
                # cannot hold — emit it as its own closed session
                # (best-effort, see docstring)
                out["user_id"].append(user_id)
                out["start_us"].append(us)
                out["end_us"].append(us)
                out["n_events"].append(1)
                out["total_value"].append(round(float(value), 6))
            else:
                # batches are sorted internally but NOT ordered across
                # microbatches: an out-of-order event (allowed within
                # the watermark) must never rewind the session bounds —
                # merge with min/max so later gap checks compare against
                # the true session end
                start = min(start, us)
                last = max(last, us)
                n, total = n + 1, total + float(value)

        state.update((start, last, n, total))
        # close the open session once the watermark passes last + gap
        state.setTimeoutTimestamp((last + gap_us) // 1000)
        if out["user_id"]:
            yield pd.DataFrame(out)

    timed = events.withWatermark("ts", watermark)
    # the micros carry ts's watermark metadata, which marks the operator's
    # input as event-timed (an EventTimeTimeout requires it)
    us = F.unix_micros("ts").alias("us", metadata=timed.schema["ts"].metadata)
    return (
        timed.select("user_id", "event_id", us, "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_US_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            "user_id",
            F.timestamp_micros("start_us").alias("session_start"),
            F.timestamp_micros("end_us").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def start_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "24 hours",
) -> StreamingQuery:
    """Streaming exact dedup: the streaming twin of
    ``dedup.exact_dedup``'s keep-first contract for incremental page
    drops — a page whose md5(text) was already seen (in this run OR a
    prior checkpointed run) within the watermark horizon is dropped;
    the first arrival passes through unchanged.

    ``dropDuplicatesWithinWatermark`` keeps the dedup state BOUNDED: a
    hash is held only until the event-time watermark passes it, so
    state size tracks the crawl-recency window, not corpus history —
    a plain streaming dropDuplicates would grow driver-unbounded state
    at 100 TB/day ingest. Recrawls older than the watermark are the
    (documented) false-negative tradeoff; the batch
    ``dedup_incremental`` against the committed fingerprint table is
    the unbounded-horizon complement. Exactly-once via the checkpoint
    (file-source offsets + sink manifest + dedup state snapshots);
    NULL-text pages key on their url instead of the (NULL) hash, so
    two textless pages never collapse into one."""
    stream = read_page_stream(spark, input_path)
    hashed = stream.select(
        "*",
        F.coalesce(
            F.md5(F.col("text")),
            F.concat(F.lit("nulltext:"), F.col("url")),
        ).alias("text_hash"),
    )
    deduped = hashed.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["text_hash"])
    return _start_parquet_sink(deduped, output_path, checkpoint_path)


def start_near_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    fingerprint_path: str,
    checkpoint_path: str,
    max_hamming: int = 3,
    horizon: str | None = None,
) -> StreamingQuery:
    """Streaming NEAR-dedup for incremental page drops — the
    hamming<=k twin of ``start_dedup_stream``. Near-dup needs a banded
    candidate join plus a bit_count verify, which
    ``dropDuplicatesWithinWatermark``'s exact-key state cannot express,
    so this is a ``foreachBatch`` composition of the batch kernel
    (``dedup.near_dedup_increment``) against a committed fingerprint
    table — dedup state is a plain appendable table, never executor
    memory.

    Per microbatch: (1) read the fingerprints committed by PRIOR
    batches — this batch's own run_id partition is EXCLUDED, so a
    replayed batch never sees its own half-committed fingerprints and
    suppresses itself; (2) if ``horizon`` is set (e.g. "72 hours"),
    prune fingerprints older than the batch's max warc_ts minus the
    horizon — the watermark analog that bounds state by crawl recency
    instead of corpus history (recrawls older than the horizon are the
    documented false-negative tradeoff, same as the exact stream);
    (3) run the kernel keyed by url (keep-smallest-url within the
    batch); (4) write surviving pages AND their non-NULL fingerprints,
    each dynamic-partition-overwriting its own run_id partition —
    foreachBatch is at-least-once, idempotence comes from the sinks.

    Scale: the kernel shuffles (band, bval, simhash) postings only;
    page payloads are written once and never join-shuffled (survivor
    urls rejoin the persisted batch, which AQE broadcasts — a
    microbatch is small by construction)."""
    from webxtract.audit import _exists, _overwrite_run_partition
    from webxtract.dedup import near_dedup_increment

    stream = read_page_stream(spark, input_path)

    def _write_batch(batch_df, batch_id):  # noqa: ANN001
        run_id = f"batch-{batch_id}"
        if _exists(fingerprint_path, spark):
            seen = spark.read.parquet(fingerprint_path).filter(
                F.col("run_id") != run_id
            )
            if horizon is not None:
                hi = batch_df.agg(F.max("warc_ts")).collect()[0][0]
                if hi is not None:
                    seen = seen.filter(
                        F.col("warc_ts")
                        >= F.lit(hi) - F.expr(f"INTERVAL {horizon}")
                    )
            seen = seen.select("sh")
        else:
            seen = spark.createDataFrame([], "sh bigint")
        pages = batch_df.persist()
        try:
            keep = near_dedup_increment(
                pages, seen, text_col="text", id_col="url",
                max_hamming=max_hamming,
            )
            survivors = pages.join(keep.select("url"), "url")
            _overwrite_run_partition(
                survivors.withColumn("run_id", F.lit(run_id)), output_path
            )
            fps = (
                keep.filter(F.col("simhash").isNotNull())
                .join(pages.select("url", "warc_ts"), "url")
                .select(
                    F.col("simhash").alias("sh"),
                    "warc_ts",
                    F.lit(run_id).alias("run_id"),
                )
            )
            _overwrite_run_partition(fps, fingerprint_path)
        finally:
            pages.unpersist()

    return (
        stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_warc_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of WARC segment drops: binaryFile streaming
    source -> ``warc.parse_segments``, the ``kernels.doc_rows`` parser
    the batch reader (``warc.read_warc``) runs. New crawl
    segments landing in ``input_path`` are picked up per microbatch;
    segment files (at most 16 per microbatch) are the parallelism AND
    progress-tracking unit (file-source offsets in the checkpoint record
    which segments are committed — exactly the crawl-ingest contract: a
    segment is either fully extracted and committed or replayed whole)."""
    from webxtract import warc as W

    seg = (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", "*.warc*")
        .load(input_path)
        .select("path", "content")
    )
    # the batch reader's parser: a stateless narrow map lifts unchanged
    return W.parse_segments(seg, ("response",))


def start_warc_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """WARC segments -> pages contract -> extraction -> append parquet
    sink. The incremental crawl-ingest path: each AvailableNow run
    extracts exactly the segments that landed since the last committed
    checkpoint (the Iceberg-incremental-read analog for raw crawl
    data), idempotently under replay."""
    from webxtract import warc as W
    from webxtract.ops.extract import extract_pages

    pages = W.warc_to_pages(read_warc_stream(spark, input_path))
    return _start_parquet_sink(
        extract_pages(pages), output_path, checkpoint_path
    )
