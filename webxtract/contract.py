"""Driver-contract queries: each SURVEY.md §2 operator exposed as a
(spark, sf_dir) -> DataFrame callable with (where SQL-expressible) an
exactly-matching DuckDB oracle.

Design rules for oracle parity:
- every hash is the engine-neutral polynomial hash (h*31+cp mod 2^31-1)
  — never xxhash64/murmur;
- every float output is round(x, 2..6) and both engines compute in
  float64 with the same summation order;
- every column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webxtract import dedup, similarity, textops
from webxtract.ops import assemble
from webxtract.ops.detect_type import doc_type_expr
from webxtract.ops.extract import extract_pages
from webxtract.ops.fake import fake_result_expr
from webxtract.ops.fields import field_expr
from webxtract.ops.validators import (
    luhn_valid_expr,
    validation_results_expr,
    with_parsed_dates,
)
from webxtract.pipeline import with_rules
from webxtract.schemas import FIELD_NAMES

RUN_DATE = "2026-01-15"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------ relational


def q_tpch_q1_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation: partial (map-side) agg + one shuffle
    on a 6-value grouping key; filter pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_broadcast_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders with the 25-row nation dim explicitly
    broadcast — no shuffle for the dim side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy("n_name")
    )


def q_window_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: one shuffle on the
    window partition key, deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window event metrics (streaming operator run
    in batch mode, where the watermark is a no-op and the result is
    exact — the oracle checks the window arithmetic)."""
    from webxtract.streaming import windowed_event_counts

    e = _t(spark, sf_dir, "events")
    return windowed_event_counts(e).orderBy("window_start", "event_type")


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the standard two-window formulation, single shuffle on
    user_id."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_breaks = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("brk"),
    )
    sess = with_breaks.select(
        "user_id",
        "event_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


# ------------------------------------------------------------ extraction


def _pages_from_documents(spark: SparkSession, sf_dir: str, pdf: bool = False) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    payload = (
        F.concat(F.lit("%PDF-1.4\n%%PAGE 1\n"), F.col("text"))
        if pdf
        else F.concat(
            F.lit('<html><body><nav><a href="/h">home links nav bar</a></nav>'
                  "<article><p>"),
            F.col("text"),
            F.lit("</p></article><footer><p>footer boilerplate words</p>"
                  "</footer></body></html>"),
        )
    )
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(payload, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def q_extract_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 analog end-to-end through the extraction kernel: wrap each
    document's text in boilerplated HTML, extract, demand byte-identity
    (the oracle is the original text)."""
    pages = _pages_from_documents(spark, sf_dir, pdf=False)
    return extract_pages(pages).select(
        F.col("url").cast("bigint").alias("doc_id"),
        "extracted_text",
    )


def q_extract_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 analog through the PDF path (magic-byte routing + page parse)."""
    pages = _pages_from_documents(spark, sf_dir, pdf=True)
    return extract_pages(pages).select(
        F.col("url").cast("bigint").alias("doc_id"),
        "extracted_text",
        "n_pages",
    )


def q_page_concat_e5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 page-concat invariant as a pure expression (nulls and blanks
    dropped, \\n\\n separator)."""
    d = _t(spark, sf_dir, "documents")
    pages = F.array(
        F.col("text"), F.lit(""), F.lit(None).cast("string"), F.upper("lang")
    )
    return d.select("doc_id", assemble.page_concat_expr(pages).alias("joined"))


def q_field_extraction_e6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 labeled-field parse round-trip over customer-derived text."""
    c = _t(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("First Name: "), F.col("c_name"),
        F.lit("\nAddress: "), F.concat(F.lit("seg  "), F.col("c_mktsegment")),
        F.lit("\nDocument Number: "), F.col("c_custkey").cast("string"),
    )
    return c.select(
        "c_custkey",
        field_expr(text, "first_name").alias("first_name"),
        field_expr(text, "address").alias("address"),
        field_expr(text, "document_number").alias("document_number"),
    )


def q_pdf_page_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: all-pages PDF rasterize + explode (flatMap-shaped mapInArrow,
    one row per page). Two-page synthetic PDFs with statically-known
    page texts; the render stub's dimensions are scale-deterministic."""
    from webxtract.ops import rasterize

    d = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit("%PDF-1.4\n%%PAGE 1\n"),
        F.col("text"),
        F.lit("\n%%PAGE 2\nLANG "),
        F.upper(F.col("lang")),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(payload, "utf-8").alias("html"),
    )
    out = rasterize.explode_pdf_pages(pages, scale=2.0, fmt="png")
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "page_number",
        "n_pages",
        "page_text",
        "width",
        "height",
    )


def q_ocr_fallback_e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E4: scan-only PDFs (raster %%SCAN content, blank native text
    layer) must come back through the forced-OCR second pass with the
    text recovered and source_kind='pdf_ocr'."""
    d = _t(spark, sf_dir, "documents")
    payload = F.concat(F.lit("%PDF-1.4\n%%PAGE 1\n%%SCAN "), F.col("text"))
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(payload, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    return extract_pages(pages).select(
        F.col("url").cast("bigint").alias("doc_id"),
        "extracted_text",
        "source_kind",
        "n_pages",
    )


def q_media_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: magic-byte sniff + normalize (BMP->PNG via the deterministic
    convert stub; PNG/JPEG passthrough). Payloads derived from document
    text; compared by hex so the oracle reproduces the bytes exactly."""
    from webxtract.multimodal import normalize_media

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    payload = (
        F.when(m == 0, F.concat(F.lit(b"BM"), F.encode(F.col("text"), "utf-8")))
        .when(m == 1, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), F.encode(F.col("text"), "utf-8")))
        .otherwise(F.concat(F.lit(b"\xff\xd8\xff\xe0"), F.encode(F.col("text"), "utf-8")))
    )
    media = d.select(F.col("doc_id").cast("string").alias("url"), payload.alias("payload"))
    out = normalize_media(media)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "media_type",
        F.hex(F.col("payload")).alias("payload_hex"),
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize to 224x224 (vision-model preprocessing) via the
    deterministic stub kernel; compared by hex."""
    from webxtract.multimodal import resize_images

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(F.lit(b"BM"), F.encode(F.col("text"), "utf-8")).alias("payload"),
    )
    out = resize_images(media, width=224, height=224)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "width",
        "height",
        F.hex(F.col("payload")).alias("payload_hex"),
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: one row per sampled frame (flatMap-shaped
    mapInArrow); the stub derives frame count from payload size."""
    from webxtract.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    out = sample_frames(media, every_s=1, max_frames=4)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "frame_no",
        "ts_sec",
        F.hex(F.col("frame")).alias("frame_hex"),
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-pre-tokenizer token-budget estimate per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textops.bpe_token_count_expr(F.col("text")).alias("bpe_tokens")
    )


# ------------------------------------------------- detection / fake / valid


def _derived_fields_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 13-field records derived from doc_id — each modulo
    class lands in a known detection-cascade branch."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 7
    cols = {name: F.lit(None).cast("string") for name in FIELD_NAMES}
    cols["document_title"] = (
        F.when(m == 0, "Driver Licence Ontario")
        .when(m == 1, "Passport")
        .when(m == 2, "Passport")
        .when(m == 3, "Health Card OHIP Ontario")
        .when(m == 4, "Permanent Resident Card Canada")
        .otherwise(F.lit(None))
    )
    cols["country_code"] = (
        F.when(m == 1, "CAN").when(m == 2, "JPN").otherwise(F.lit(None))
    )
    cols["document_number"] = F.when(m == 5, "83741265").otherwise(F.lit(None))
    # class 6 falls through steps 1+2 into the D7 scoring table: the
    # California row scores 3+ keyword hits (capped 0.45) with the
    # per-keyword feature string — verified identical to the reference
    # detector run in-process on the same record
    cols["address"] = F.when(
        m == 6, "Sacramento, State of California DMV office"
    ).otherwise(F.lit(None))
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def q_doc_type_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D8 detection cascade on modulo-derived fields — the oracle is
    the statically-known branch per modulo class."""
    df = _derived_fields_df(spark, sf_dir)
    dt = doc_type_expr()
    return df.select(
        "doc_id",
        dt["document_type"].alias("document_type"),
        F.round(dt["confidence"], 2).alias("confidence"),
        dt["country"].alias("country"),
        dt["state_province"].alias("state_province"),
        F.array_join(dt["detected_features"], "; ").alias("detected_features"),
    )


def q_fake_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F6 + F-agg on modulo-derived fields with known scores."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 4
    cols = {name: F.lit(None).cast("string") for name in FIELD_NAMES}
    cols["first_name"] = F.when(m == 0, "John").otherwise("Alice")
    cols["last_name"] = F.when(m == 0, "Doe").otherwise("Wong")
    cols["document_number"] = F.when(m == 1, "123456789").otherwise("K8273645")
    cols["address"] = F.when(m == 2, "123 Main Street West").otherwise(
        "88 Harbour View Road"
    )
    fields = d.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    fd = fake_result_expr()
    return fields.select(
        "doc_id",
        fd["is_fake"].alias("is_fake"),
        F.round(fd["confidence"], 2).alias("confidence"),
    )


def q_validator_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 document-expiry validator statuses over a sweep of expiry
    dates around the frozen run_date."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    expiry = F.date_add(F.to_date(F.lit(RUN_DATE)), ((F.col("doc_id") % 100) - 50).cast("int"))
    cols = {name: F.lit(None).cast("string") for name in FIELD_NAMES}
    cols["expiry_date"] = expiry.cast("string")
    fields = with_parsed_dates(
        d.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    )
    # document_expiry is the battery's second base validator
    v = F.element_at(validation_results_expr(F.lit("unknown"), F.to_date(F.lit(RUN_DATE))), 2)
    return fields.select("doc_id", v["status"].alias("status"))


def q_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V11's Luhn mod-10 over derived 10-digit numbers, through the
    battery's own ``luhn_valid`` (one Arrow kernel call)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    number = F.lpad((F.col("doc_id") * 37 % 1_000_000_000).cast("string"), 10, "7")
    return d.select(
        "doc_id",
        number.alias("number"),
        luhn_valid_expr(number).alias("luhn_valid"),
    )


def q_validation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full battery + V-agg summary on expiry-only records, through the
    pipeline's rule kernel (``with_rules``): they detect as ``unknown``,
    so exactly one check is active and the summary is statically
    predictable."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    expiry = F.date_add(F.to_date(F.lit(RUN_DATE)), ((F.col("doc_id") % 100) - 50).cast("int"))
    cols = {name: F.lit(None).cast("string") for name in ["extracted_text", *FIELD_NAMES]}
    cols["expiry_date"] = expiry.cast("string")
    fields = d.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    s = F.col("validation_summary")
    return with_rules(fields, RUN_DATE).select(
        "doc_id",
        s["overall_status"].alias("overall_status"),
        F.round(s["validation_score"], 2).alias("validation_score"),
        s["skipped_checks"].alias("skipped_checks"),
    )


# ------------------------------------------------------------- text ops


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    q = textops.quality_exprs(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in q.items()])


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textops.lang_id_expr(F.col("text")).alias("predicted_lang")
    )


def q_lang_id_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained hashed-NB language ID (textops.lang_id_clf_frame) over
    documents with their OWN lang column's stopwords planted — the
    sandbox corpus text is language-neutral filler, so the plant gives
    the model a recoverable signal (same plant pattern as
    q_pii_redaction). The weight tables were fitted offline and
    deterministically by scripts/fit_lang_clf.py; serving is one
    zero-shuffle mapInArrow kernel. The DuckDB oracle folds the
    identical bucket sequence through the identical weight literals."""
    from webxtract.textops import LANG_STOPWORDS, lang_id_clf_frame

    d = _t(spark, sf_dir, "documents")
    suffix = F.create_map(
        *[
            x
            for lang, words in LANG_STOPWORDS.items()
            for x in (F.lit(lang), F.lit(" ".join(words)))
        ]
    )
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" "),
        F.coalesce(F.element_at(suffix, F.col("lang")), F.lit("")),
    )
    base = d.select("doc_id", "lang", planted.alias("text"))
    return lang_id_clf_frame(
        base, keep_cols=("doc_id", "lang")
    ).orderBy("doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textops.fingerprint_expr(F.col("text")).alias("fingerprint")
    )


# --------------------------------------------------------------- dedup


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents")).orderBy("text_hash")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup: documents with doc_id%7==0 play the
    prior run's committed fingerprint table; the full corpus is the new
    increment. Output = keep-first groups for texts NOT already seen."""
    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 7 == 0).select(
        F.md5(F.col("text")).alias("text_hash")
    )
    return dedup.dedup_incremental(d, seen).orderBy("text_hash")


def q_ngram_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-shingle Jaccard between consecutive doc_ids — a
    bounded, oracle-checkable slice of the n-gram dedup operator."""
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", textops.word_shingles_expr(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)  # <3-token docs: oracle excludes them too
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return joined.select(
        F.col("a.doc_id").alias("a"),
        F.col("b.doc_id").alias("b"),
        F.round(inter / union.cast("double"), 6).alias("jaccard"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exactly reproduced by a DuckDB oracle
    (shingle md5-hashes -> 12 permutations -> 4 banded buckets ->
    bucket-local candidates -> exact Jaccard)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.minhash_lsh_pairs(d, threshold=0.5).orderBy("a", "b")


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (md5 token hashes, 32 bit-slots,
    one pass) — exact DuckDB twin."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id", dedup.simhash_expr(F.col("text")).alias("simhash")
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-kind counts over documents with
    deterministically planted PII (email derived from doc_id, a phone,
    a card, an IP appended to every doc) — pure regexp expressions,
    whole-stage codegen, zero shuffles."""
    from webxtract.curation import pii_counts_exprs, redact_pii_expr

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact j.doe"),
            F.col("doc_id").cast("string"),
            F.lit(
                "@mail.example.com or call 555-123-4567,"
                " card 4111 1111 1111 1111, host 10.0.0.1"
            ),
        ).alias("text"),
    )
    text = F.col("text")
    counts = pii_counts_exprs(text)
    return planted.select(
        "doc_id",
        redact_pii_expr(text).alias("redacted"),
        *[c.alias(n) for n, c in counts.items()],
    )


def q_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: documents sharing >= 3 distinct word-8-gram
    hashes with the benchmark set (doc_id < 20). The benchmark shingle
    set is broadcast — the corpus side never shuffles."""
    from webxtract.curation import benchmark_overlap

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") < 20)
    return benchmark_overlap(
        d, bench, shingle_k=8, min_hits=3
    ).orderBy("id")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the simhash near-dup pair graph
    (same planted-copy construction as q_simhash_near_dup): rounds of
    the min-root union-find kernel, checked against a DuckDB
    recursive-CTE transitive closure."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    near = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(near)
    pairs = dedup.simhash_near_dup_pairs(both, max_hamming=3)
    return dedup.dedup_components(pairs).orderBy("id")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection over the same planted-copy
    simhash pair graph as q_dedup_components, with score =
    char-length(text): each {original, +' zzz' copy} cluster keeps the
    longer copy; docs outside any pair keep themselves as singletons;
    the oracle extends the recursive-CTE closure with the identical
    window ranking."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    near = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(near)
    pairs = dedup.simhash_near_dup_pairs(both, max_hamming=3)
    return dedup.dedup_keep_best(both, pairs).orderBy("id")


def q_tag_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-taxonomy topic tagging over documents with planted
    topic sentences (doc_id%5 selects tech/sports/food/health/none),
    so hit counts and the first-wins argmax are all exercised; the
    oracle generates the same counts and CASE-argmax from the same
    TOPIC_TAXONOMY table."""
    from webxtract.curation import tag_topics_frame

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    planted = (
        F.when(m == 0, F.lit(
            " The startup shipped new software with a clever algorithm."))
        .when(m == 1, F.lit(
            " The championship playoff had every athlete and coach ready."))
        .when(m == 2, F.lit(
            " A recipe with one secret ingredient from the restaurant."))
        .when(m == 3, F.lit(
            " Symptom diagnosis and treatment for the patient."))
        .otherwise(F.lit(""))
    )
    base = d.select(
        "doc_id",
        F.concat(F.coalesce("text", F.lit("")), planted).alias("text"),
    )
    return tag_topics_frame(base).orderBy("doc_id")


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus percent_rank of n_chars, computed over the value
    histogram (scale-safe) and checked against DuckDB's row-level
    percent_rank window — equal by construction for every tie class."""
    from webxtract.curation import value_percentiles

    d = _t(spark, sf_dir, "documents")
    return value_percentiles(d, F.col("n_chars")).orderBy("doc_id")


def _synthetic_url_expr() -> F.Column:
    """Deterministic per-doc_id URL with 4 modulo classes: mixed-case
    scheme/host, default ports, fragments and tracking params — shared
    by the URL-shaped contract queries (canonicalize / host stats /
    domain filter) and replicated verbatim in their oracles."""
    m = F.col("doc_id") % 4
    ds = F.col("doc_id").cast("string")
    return (
        F.when(m == 0, F.concat(F.lit("HTTPS://Example.COM:443/a/"), ds,
                                F.lit("?utm_source=tw&id="), ds, F.lit("#frag")))
        .when(m == 1, F.concat(F.lit("http://News.Site.org:80/story-"), ds,
                               F.lit("?fbclid=xyz")))
        .when(m == 2, F.concat(F.lit("https://host.net/p"), ds,
                               F.lit("?id="), ds, F.lit("&utm_campaign=c&q=1")))
        .otherwise(F.concat(F.lit("https://plain.example/x/"), ds))
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over urls derived from doc_id: mixed-case
    scheme/host, default ports, fragments and tracking params planted
    per modulo class."""
    from webxtract.curation import canonicalize_url_expr

    d = _t(spark, sf_dir, "documents").select("doc_id")
    url = _synthetic_url_expr()
    return d.select(
        "doc_id", url.alias("url"), canonicalize_url_expr(url).alias("canonical")
    )


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host rollup (docs, char mass, mean length, distinct langs)
    over documents with synthetic urls — one partial-agged shuffle."""
    from webxtract.curation import host_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", _synthetic_url_expr().alias("url")
    )
    return host_stats(d).orderBy("host")


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering: drop documents whose url host is on a
    2-host blocklist (broadcast LEFT ANTI; corpus never shuffles)."""
    from webxtract.curation import filter_blocked_domains

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _synthetic_url_expr().alias("url")
    )
    blocked = spark.createDataFrame(
        [("News.Site.ORG",), ("plain.example",)], "host string"
    )
    return filter_blocked_domains(d, blocked).orderBy("doc_id")


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + control-char normalization over documents with
    planted dirt: doc_id%5==0 gets a decomposed accent (e + U+0301), a
    C0 control byte and an ANGSTROM SIGN appended; %5==1 gets a bare
    BEL byte — normalization must compose, strip, and flag exactly."""
    from webxtract.curation import normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 5
    planted = (
        F.when(m == 0, F.concat(F.col("text"),
                                F.lit(" Cafe\u0301\u0001\u212b")))
        .when(m == 1, F.concat(F.col("text"), F.lit("\u0007")))
        .otherwise(F.col("text"))
    )
    return normalize_text(d.select("doc_id", planted.alias("text"))).orderBy(
        "doc_id"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing of documents into training sequences:
    8 shards, 2048-token budget, whitespace token counts."""
    from webxtract.curation import pack_sequences
    from webxtract.textops import token_count_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(d, token_budget=2048, n_shards=8).orderBy(
        "shard", "seq_no"
    )


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity against the corpus' own top-k
    stats; the oracle rebuilds the identical tables (same top-k
    boundaries) and the same interpolation in float64."""
    from webxtract.curation import bigram_perplexity

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bigram_perplexity(d)
    return out.select(
        F.col("id").alias("doc_id"), "n_bigrams", "ppl"
    ).orderBy("doc_id")


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-keyed 98/1/1 split assignment over synthetic-url documents:
    only 4 hosts exist, so the split is constant per host class — the
    oracle recomputes the identical md5-60 threshold rule."""
    from webxtract.curation import split_assign_expr, url_host_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", url_host_expr(_synthetic_url_expr()).alias("host")
    )
    return d.select(
        "doc_id", "host", split_assign_expr(F.col("host")).alias("split")
    ).orderBy("doc_id")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights: raw bucket histogram from the
    corpus (64-row collect), target distribution the closed form
    p[b] = (b+1)/2080, log-ratio table, then the zero-shuffle
    per-document fold in the dsir_scores_frame kernel. Both engines
    build the same doubles from the same rationals, so the in-order
    sums agree before the 6dp round."""
    import math

    from webxtract.curation import bucket_counts, dsir_scores_frame

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    counts = {
        r["bucket"]: r["n"] for r in bucket_counts(d, n_buckets=64).collect()
    }
    total = sum(counts.values())
    lr = [
        math.log((b + 1) / 2080.0)
        - math.log((counts.get(b, 0) + 1.0) / (total + 64))
        for b in range(64)
    ]
    return dsir_scores_frame(d, lr, n_buckets=64).orderBy("doc_id")


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 BPE merge-pair counts over documents — the oracle runs
    the same vocab reduce + per-word adjacent-char-pair unnest in
    DuckDB; (count DESC, pair ASC) makes the LIMIT boundary total."""
    from webxtract.textops import bpe_pair_counts

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_pair_counts(d, top_k=50)


def q_host_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap (anti-domination): keep the 20 longest
    documents per synthetic-url host (ties by doc_id). The 4-host
    modulo classes make every host exceed the cap at sf0.01, so both
    ranking phases and the cut are exercised; the oracle is DuckDB's
    row_number over the same (host, n_chars DESC, doc_id) order."""
    from webxtract.curation import host_cap_sample, url_host_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        url_host_expr(_synthetic_url_expr()).alias("host"),
    )
    return host_cap_sample(d, cap=20, order_col="n_chars").orderBy("doc_id")


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: per-lang rates, content-hash keyed —
    stable across runs/partitionings by construction."""
    from webxtract.curation import deterministic_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    return deterministic_sample(d, rates, default_rate=0.05).orderBy("doc_id")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition statistics over documents with a planted
    repeated tail (doc_id%3==0 gets its first 6 words appended twice,
    exercising non-trivial top-gram coverage).

    The plan is exchange-free except the output sort; scan parallelism
    is the input layout's job (bench.py re-chunks its single-row-group
    sandbox fixture into 32 row groups outside the timed region — a
    production Common-Crawl table arrives in thousands of splits)."""
    from webxtract.curation import repetition_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    first6 = F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 6), " ")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws("\n", F.col("text"), first6, first6),
        ).otherwise(F.col("text")).alias("text"),
    )
    return repetition_signals(planted).orderBy("doc_id")


def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level boilerplate removal over documents with
    planted cookie-banner/footer lines (appear in every doc, so their
    line-df saturates and they are stripped corpus-wide)."""
    from webxtract.curation import remove_boilerplate_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("ACCEPT COOKIES TO CONTINUE\n"),
            F.col("text"),
            F.lit("\n(c) example inc - all rights reserved"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(d, max_line_df=10).orderBy("doc_id")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality flags over the documents table."""
    from webxtract.textops import gopher_flags_exprs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    flags = gopher_flags_exprs(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in flags.items()])


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=k near-dup pairs: docs under 150 plus copies
    (id+100000) with one appended token — each copy lands a small
    hamming distance from its source, most within the budget. Banded
    candidate generation + exact bit_count verify; the DuckDB oracle
    computes the same pairs by brute-force all-pairs hamming (the
    banding is exact-recall by pigeonhole, so the two agree)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    near = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(near)
    return dedup.simhash_near_dup_pairs(both, max_hamming=3).orderBy("a", "b")


def q_near_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental NEAR-dedup (hamming<=3): prior runs
    committed the simhash fingerprints of documents with doc_id%7==0;
    the new increment is docs under 200 plus one-token-appended copies
    (id+100000) of every fifth — copies of committed or smaller-id
    texts must be suppressed, everything else survives with its
    fingerprint. The DuckDB oracle computes the same survivors by
    brute-force NOT EXISTS hamming checks (banding is exact-recall by
    pigeonhole, so the two agree)."""
    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 7 == 0).select(
        dedup.simhash_expr(F.col("text")).alias("sh")
    )
    base = d.filter(F.col("doc_id") < 200).select("doc_id", "text")
    near = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    inc = base.unionByName(near)
    return dedup.near_dedup_increment(inc, seen).orderBy("doc_id")


def _twin_pages(d: DataFrame, url: F.Column, text: F.Column, ts: str) -> DataFrame:
    """Project a documents slice onto the PAGES_SCHEMA contract for the
    streaming twins (url string, warc_ts, html NULL, text, lang)."""
    return d.select(
        url.cast("string").alias("url"),
        F.lit(ts).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
        F.col("lang"),
    )


def _run_available_now(q) -> None:  # noqa: ANN001
    """Wait out an AvailableNow stream run (it self-terminates)."""
    q.awaitTermination(600)


def _twin_tmp_dir() -> str | None:
    """Scratch base for the stream twins' drops/checkpoint/sink: tmpfs
    when the host has one (the twins are bounded-row correctness
    fixtures whose checkpoint is torn down in the same function — disk
    durability buys nothing; HDFS-state-store delta/snapshot fsyncs to
    spinning /tmp were ~1/3 of each twin's wall), default tempdir
    otherwise. A production stream points its checkpoint at durable
    storage through its own ``checkpoint_path`` argument — this helper
    is only ever used for the in-query throwaway dirs."""
    import os

    return "/dev/shm" if os.path.isdir("/dev/shm") else None


class _twin_state_partitions:
    """Temporarily right-size ``spark.sql.shuffle.partitions`` for a
    stream-twin run. Structured Streaming pins the stateful-operator
    partition count from this conf at checkpoint creation; the twins
    process <=550 rows by construction (fixed slices, sf-independent),
    so the session default (sized for corpus-scale shuffles) only
    multiplies per-batch state-store files and tasks — measured 32
    partitions x (delta + snapshot + commit) per micro-batch for a
    500-row drop. 8 is sized to the twins' fixed row bound, not to the
    local core count; restored on exit either way."""

    def __init__(self, spark: SparkSession, n: int = 8) -> None:
        self.spark, self.n = spark, n

    def __enter__(self) -> None:
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc) -> None:  # noqa: ANN002
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def q_exact_dedup_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``streaming.start_dedup_stream`` /
    dropDuplicatesWithinWatermark) run END-TO-END as two real
    AvailableNow stream increments with a checkpoint RESTART between
    them — the driver-visible twin of the pytest-only streaming leg.

    Drop 1 (ts 12:00): documents < 500 with per-doc unique texts
    (suffix ' #<doc_id>') — all 500 survive. Drop 2 (ts 13:00, a
    SEPARATE stream run resuming the same checkpoint, so dedup state
    must survive the restart): exact copies of doc_id%10==0 at url
    doc_id+100000 (all suppressed by run-1 state) plus fresh texts
    (' #new<doc_id>') for doc_id%10==5 at url doc_id+200000 (all
    survive). Every duplicate pair spans the two drops, so keep-first
    is deterministic and the DuckDB oracle reproduces the survivor set
    in closed form. The committed sink is collected (bounded: 550
    rows) into an in-memory frame so the sandbox temp sink can be
    removed eagerly — correctness twin only, never a bench path."""
    import shutil
    import tempfile

    from webxtract.streaming import start_dedup_stream

    tmp = tempfile.mkdtemp(prefix="webxtract_twin_exact_", dir=_twin_tmp_dir())
    drops, out, ckpt = f"{tmp}/drops", f"{tmp}/out", f"{tmp}/ckpt"
    try:
        d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        uniq = F.concat(
            F.col("text"), F.lit(" #"), F.col("doc_id").cast("string")
        )
        _twin_pages(d, F.col("doc_id"), uniq, "2026-01-15 12:00:00").coalesce(
            1
        ).write.mode("append").parquet(drops)
        with _twin_state_partitions(spark):
            _run_available_now(
                start_dedup_stream(spark, drops, out, ckpt, watermark="48 hours")
            )

        copies = _twin_pages(
            d.filter(F.col("doc_id") % 10 == 0),
            F.col("doc_id") + 100000,
            uniq,
            "2026-01-15 13:00:00",
        )
        fresh = _twin_pages(
            d.filter(F.col("doc_id") % 10 == 5),
            F.col("doc_id") + 200000,
            F.concat(
                F.col("text"), F.lit(" #new"), F.col("doc_id").cast("string")
            ),
            "2026-01-15 13:00:00",
        )
        copies.unionByName(fresh).coalesce(1).write.mode("append").parquet(drops)
        with _twin_state_partitions(spark):
            _run_available_now(
                start_dedup_stream(spark, drops, out, ckpt, watermark="48 hours")
            )

        res = (
            spark.read.parquet(out)
            .select(F.col("url").cast("bigint").alias("doc_id"), "text_hash")
            .orderBy("doc_id")
        )
        pdf = res.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="doc_id bigint, text_hash string"
    ).orderBy("doc_id")


def q_near_dedup_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dedup (``streaming.start_near_dedup_stream``,
    hamming<=3 over simhash, foreachBatch against the committed
    fingerprint table) run END-TO-END as two real AvailableNow stream
    increments sharing one checkpoint + fingerprint table — the
    driver-visible twin of the pytest-only streaming leg.

    Drop 1 (ts 12:00): documents < 150 at url=doc_id — within-batch
    near-dups collapse keep-smallest-URL-STRING (the stream keys on
    the url column, so '100' < '2' lexicographically; the oracle
    compares the same VARCHARs). Drop 2 (ts 13:00, separate run):
    one-token-appended copies (' zzz') of doc_id%5==0 at url
    doc_id+100000 — suppressed where within hamming 3 of a COMMITTED
    run-1 survivor fingerprint — plus fresh documents 150..199. The
    DuckDB oracle replays both batches by brute-force NOT EXISTS
    hamming checks (banding is exact-recall by pigeonhole, so the
    survivor sets agree). Bounded (<=230 rows), collected into an
    in-memory frame; correctness twin only, never a bench path."""
    import shutil
    import tempfile

    from webxtract.streaming import start_near_dedup_stream

    tmp = tempfile.mkdtemp(prefix="webxtract_twin_near_", dir=_twin_tmp_dir())
    drops, out = f"{tmp}/drops", f"{tmp}/out"
    fps, ckpt = f"{tmp}/fps", f"{tmp}/ckpt"
    try:
        docs = _t(spark, sf_dir, "documents")
        _twin_pages(
            docs.filter(F.col("doc_id") < 150),
            F.col("doc_id"),
            F.col("text"),
            "2026-01-15 12:00:00",
        ).coalesce(1).write.mode("append").parquet(drops)
        with _twin_state_partitions(spark):
            _run_available_now(
                start_near_dedup_stream(
                    spark, drops, out, fps, ckpt, max_hamming=3
                )
            )

        copies = _twin_pages(
            docs.filter((F.col("doc_id") < 150) & (F.col("doc_id") % 5 == 0)),
            F.col("doc_id") + 100000,
            F.concat(F.col("text"), F.lit(" zzz")),
            "2026-01-15 13:00:00",
        )
        fresh = _twin_pages(
            docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)),
            F.col("doc_id"),
            F.col("text"),
            "2026-01-15 13:00:00",
        )
        copies.unionByName(fresh).coalesce(1).write.mode("append").parquet(drops)
        with _twin_state_partitions(spark):
            _run_available_now(
                start_near_dedup_stream(
                    spark, drops, out, fps, ckpt, max_hamming=3
                )
            )

        res = (
            spark.read.parquet(out)
            .select(
                F.col("url").cast("bigint").alias("doc_id"),
                F.length("text").cast("bigint").alias("n_chars"),
            )
            .orderBy("doc_id")
        )
        pdf = res.toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="doc_id bigint, n_chars bigint"
    ).orderBy("doc_id")


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first paragraph dedup over documents with
    planted duplicates: every doc gets the same promo paragraph
    appended (survives only in the lowest doc_id), and doc_id%3==0
    additionally carries a within-doc repeated paragraph (the second
    copy — and every copy in later docs — is removed)."""
    from webxtract.curation import dedup_paragraphs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.concat(
        F.col("text"),
        F.lit("\n\nSubscribe to our newsletter for daily updates!"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("\n\nLimited time offer.\n\nLimited time offer."),
        ).otherwise(F.lit("")),
    )
    return dedup_paragraphs(d.select("doc_id", planted.alias("text"))).orderBy(
        "doc_id"
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 whitespace-token frequencies (count desc,
    token asc — a deterministic total order, so the top-k set is
    engine-independent)."""
    from webxtract.curation import top_tokens

    d = _t(spark, sf_dir, "documents").select("text")
    return top_tokens(d, k=50)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: per-lang weights n_s^0.5
    normalized, ~1000-doc target, content-hash-keyed keep rule."""
    from webxtract.curation import temperature_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(d, n_target=1000, temperature=0.5).orderBy("doc_id")


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunks (32-token windows, 8-token overlap)
    over the first 200 documents — per-chunk token counts and text."""
    from webxtract.curation import chunk_tokens

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return chunk_tokens(d, chunk_size=32, overlap=8).orderBy(
        "doc_id", "chunk_no"
    )


# ------------------------------------------------------------ similarity


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment pass: seeds = embeddings of the 8 lowest
    vec_ids (k-row collect), cluster = seed index == seed vec_id here,
    dist2 rounded 6dp; the oracle reproduces the same squared-L2
    argmin with (dist2, cid) ordering in float64."""
    return similarity.kmeans_assign(
        _t(spark, sf_dir, "embeddings"), _kmeans_seeds(spark, sf_dir)
    ).orderBy("vec_id")


def _kmeans_seeds(spark: SparkSession, sf_dir: str, k: int = 8) -> list:
    rows = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd centroid recompute for the q_kmeans_assign clustering:
    per-cluster member counts and 6dp-rounded mean vectors; the oracle
    reruns the assignment and per-dimension averages in DuckDB."""
    return similarity.kmeans_update(
        _t(spark, sf_dir, "embeddings"), _kmeans_seeds(spark, sf_dir)
    ).orderBy("cluster")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster cosine pairs at 0.999. Like
    q_embedding_near_dup, true duplicates are planted (exact copies of
    vec_id < 200 at vec_id + 100000) so the check is non-vacuous:
    identical vectors land in the same cluster by construction and
    every (i, i+100000) pair must surface with cosine 1.0."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    both = e.unionByName(planted)
    return similarity.semantic_dedup_pairs(
        both, _kmeans_seeds(spark, sf_dir, k=64), threshold=0.999
    ).orderBy("a", "b")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs vec_id=0 (TakeOrderedAndProject —
    per-partition heaps, no global sort)."""
    q = _query_vec(spark, sf_dir)
    return similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), q, k=10
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-10. The deterministic plane
    family makes the bucket computation SQL-expressible, so the DuckDB
    oracle reproduces the exact candidate set + re-rank (recall vs
    brute force is additionally asserted in pytest)."""
    q = _query_vec(spark, sf_dir)
    return similarity.lsh_topk(_t(spark, sf_dir, "embeddings"), q, k=10)


def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant: query bucket + every Hamming-distance-1
    bucket (single plane flipped). Higher recall than single-probe for
    ~(N_PLANES+1)x candidate volume; same exact re-rank."""
    q = _query_vec(spark, sf_dir)
    return similarity.lsh_topk(
        _t(spark, sf_dir, "embeddings"), q, k=10, multiprobe=True
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH.

    The driver's embeddings table has no true near-duplicates at 0.9,
    so the query plants them deterministically: each vec_id < 300 is
    unioned with an exact copy at vec_id + 100000 — every (i, i+100000)
    pair shares all band buckets with cosine 1.0, making the check
    non-vacuous. The oracle reproduces the derivation AND the full LSH
    pipeline in SQL."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    planted = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    )
    both = e.select("vec_id", "embedding").unionByName(planted)
    return similarity.near_dup_pairs(
        both, threshold=0.9, dim=64, planes_per_band=16, n_bands=2
    ).orderBy("a", "b")


# ------------------------------------------------------------ WARC source


def _warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic .warc.gz segments derived from the documents
    table: the first 240 docs by doc_id serialized as text/plain
    response records (url = http://docs.example.com/<doc_id>, fixed
    WARC-Date, mtime=0 gzip members) into 4 segment files under the
    system temp dir. Pure function of the table -> identical bytes on
    every call; rewritten per call so staleness is impossible."""
    import hashlib
    import os
    import tempfile

    from webxtract import warc as W

    rows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(240)
        .select("doc_id", "text")
        .collect()
    )
    root = os.path.join(
        tempfile.gettempdir(),
        "webxtract_warc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    os.makedirs(root, exist_ok=True)
    for seg, start in enumerate(range(0, len(rows), 60)):
        W.write_warc_gz(
            os.path.join(root, f"seg-{seg:05d}.warc.gz"),
            (
                W.warc_response_record(
                    f"http://docs.example.com/{r.doc_id}",
                    "2025-06-01T00:00:00Z",
                    r.text.encode("utf-8"),
                    content_type="text/plain; charset=utf-8",
                )
                for r in rows[start:start + 60]
            ),
        )
    return root


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round-trip: documents -> .warc.gz segments ->
    distributed read_warc -> per-record byte counts + md5. The WARC
    layer cancels exactly iff serialization+parsing preserve payload
    bytes, so the oracle is computable from the documents table alone
    (strlen/md5 over the same utf-8 bytes)."""
    from webxtract import warc as W

    root = _warc_fixture(spark, sf_dir)
    recs = W.read_warc(spark, root)
    return recs.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("text_md5"),
        F.col("http_status").cast("int").alias("status"),
    ).orderBy("doc_id")


def q_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index build over the same fixture: SURT url key, 14-digit
    timestamp, mime, status — the SQL-derivable subset of the index
    row (record offset/length/digest are random-access coordinates
    verified byte-for-byte in tests/test_warc.py instead)."""
    from webxtract import warc as W

    root = _warc_fixture(spark, sf_dir)
    cdx = W.cdx_index(W.read_warc(spark, root))
    return cdx.select(
        "urlkey",
        "timestamp",
        "url",
        "mime",
        F.col("status").cast("int").alias("status"),
    ).orderBy("urlkey")


def q_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion-record serialization (the extraction tier's
    Common-Crawl output format) as a pure projection: every document
    becomes its full WARC/1.0 conversion record string — headers,
    deterministic record ids, conditional language header (doc_id%17
    rows get NULL lang to exercise the branch), sha256 block digest,
    byte-exact Content-Length — and the oracle rebuilds the identical
    bytes, so (rec_bytes, rec_md5) pin the whole serialization."""
    from webxtract.warc import wet_record_expr

    d = _t(spark, sf_dir, "documents")
    uri = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    ts = F.timestamp_add(
        "SECOND",
        (F.col("doc_id") % 86400).cast("int"),
        F.to_timestamp(F.lit("2026-01-15 00:00:00")),
    )
    lang = F.when(F.col("doc_id") % 17 == 0, F.lit(None)).otherwise(
        F.col("lang")
    )
    rec = wet_record_expr(uri, ts, F.col("text"), lang)
    return d.select(
        "doc_id",
        F.octet_length(F.coalesce("text", F.lit(""))).alias("content_length"),
        F.octet_length(rec).alias("rec_bytes"),
        F.md5(rec.cast("binary")).alias("rec_md5"),
    ).orderBy("doc_id")


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index postings over the documents table: terms with
    df >= 5, top-3 postings per term ranked (tf DESC, doc_id), with
    term-level df / total_tf from the uncapped counts. Flat rows (one
    per term+rank) keep the cross-engine hash type-stable."""
    from webxtract.textops import build_postings

    d = _t(spark, sf_dir, "documents")
    return build_postings(
        d, max_postings=3, min_df=5, n_salts=4
    ).orderBy("term", "rank")


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair over a deterministically corrupted
    corpus: every third document gets the full MOJIBAKE_PAIRS sequence
    set appended (space-joined), so the repair chain, the flag, and the
    per-row chars_saved count are all exercised; the oracle rebuilds
    the identical corruption and replace chain from the same table."""
    from webxtract.curation import MOJIBAKE_PAIRS, fix_mojibake_exprs

    d = _t(spark, sf_dir, "documents")
    planted = " ".join(b for b, _ in MOJIBAKE_PAIRS)
    base = F.coalesce(F.col("text"), F.lit(""))
    corrupt = F.when(
        F.col("doc_id") % 3 == 0, F.concat(base, F.lit(" " + planted))
    ).otherwise(base)
    e = fix_mojibake_exprs(corrupt)
    return d.select(
        "doc_id",
        e["had_mojibake"].alias("had_mojibake"),
        e["chars_saved"].alias("chars_saved"),
        F.md5(e["fixed_text"].cast("binary")).alias("fixed_md5"),
    ).orderBy("doc_id")


# ------------------------------------------------ substring-level dedup


def q_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage candidates over the documents table:
    content-defined chunks (boundary after tokens with hash60%8==0)
    of >=4 tokens occurring more than once corpus-wide."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    return dedup.duplicate_chunks(
        d, boundary_mod=8, min_dup_tokens=4
    ).orderBy("chunk_hash")


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup rewrite: repeated passages keep their
    first occurrence (global (doc_id, chunk_idx) order) and are removed
    everywhere else; the oracle reproduces chunking, ranking and
    reassembly with window functions."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    return dedup.dedup_chunks(
        d, boundary_mod=8, min_dup_tokens=4
    ).orderBy("id")


def q_script_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profile per document: per-script character
    fractions + dominant script (first-wins ties in SCRIPTS order).
    Served by the mapInArrow classify-once kernel
    (textops.script_signals_frame): one character-classification pass
    per document."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textops.script_signals_frame(d).orderBy("doc_id")


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram surprisal per document vs the corpus top-1000
    vocabulary (OOV smoothed to 0.5) — the deterministic stand-in for
    model-based perplexity filtering."""
    from webxtract.curation import unigram_surprisal

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_surprisal(d, vocab_k=1000).orderBy("id")


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl diff over two deterministic snapshots of the documents
    table: old = doc_id % 5 != 0, new = doc_id % 7 != 0 with text
    mutated where doc_id % 3 == 0 — every status class occurs."""
    from webxtract.curation import crawl_diff

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [recrawl]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return crawl_diff(old, new, id_col="doc_id").orderBy("id")


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction over deterministically constructed
    HTML: every planted field (title, description, canonical, lang,
    link count) must parse back exactly — the oracle emits the
    planted values directly from the documents table."""
    from webxtract.ops.extract_html import html_metadata_exprs

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head><title>Doc '),
        did, F.lit(" - "), F.col("source"), F.lit("</title>"),
        F.lit('<meta name="description" content="About '), F.col("source"),
        F.lit('"><link rel="canonical" href="http://docs.example.com/'),
        did, F.lit('"></head><body>'),
        F.repeat(F.lit('<a href="/l">x</a> '), (F.col("doc_id") % 5 + 1).cast("int")),
        F.col("text"), F.lit("</body></html>"),
    )
    m = html_metadata_exprs(F.encode(html, "utf-8"))
    return d.select(
        "doc_id", *[m[k].alias(k) for k in sorted(m)]
    ).orderBy("doc_id")


# ------------------------------------------------------------ link graph


def _linky_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages table with deterministically planted link varieties per
    doc_id modulo class: absolute cross-host, fragment-only,
    protocol-relative, mailto:, root-relative hub (/p/{id%50}),
    javascript:, and directory-relative — every resolution branch of
    webxtract.linkgraph.resolve_link_expr occurs. Replicated verbatim
    in the outlinks/host_graph oracles."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    extra = (
        F.when(m == 0, F.concat(
            F.lit('<a href="https://partner.example/r/'), did,
            F.lit('">p</a><a href="#top">t</a>')))
        .when(m == 1, F.lit(
            '<a href="//cdn.example/lib.js">c</a>'
            '<a href="mailto:a@b.example">m</a>'))
        .when(m == 2, F.concat(
            F.lit('<a href="/p/'), (F.col("doc_id") % 50).cast("string"),
            F.lit('">rel</a><a href="javascript:void(0)">j</a>')))
        .otherwise(F.concat(
            F.lit('<a href="docs/'), (F.col("doc_id") % 20).cast("string"),
            F.lit('.html">d</a>')))
    )
    html = F.concat(
        F.lit('<html><body><nav><a href="/nav">Nav</a></nav><article><p>'),
        F.col("text"), F.lit("</p>"), extra, F.lit("</article></body></html>"),
    )
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p/"), did,
    )
    return d.select(
        "doc_id", url.alias("url"), F.encode(html, "utf-8").alias("html")
    )


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + RFC-simplified resolution over pages with
    planted link varieties — distinct (doc_id, url, outlink)."""
    from webxtract.linkgraph import outlinks

    pages = _linky_pages(spark, sf_dir)
    return outlinks(pages, id_cols=("doc_id",)).orderBy("doc_id", "outlink")


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph rollup of the resolved outlinks: one
    partial-agged shuffle on (src_host, dst_host)."""
    from webxtract.linkgraph import host_graph, outlinks

    pages = _linky_pages(spark, sf_dir)
    return host_graph(outlinks(pages, id_cols=("doc_id",))).orderBy(
        "src_host", "dst_host"
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (5) PageRank with dangling-mass redistribution
    over a deterministic doc_id-derived edge list: every doc links to
    hub doc_id%97; docs with doc_id%3!=0 also to (doc_id*7+3)%89; docs
    with doc_id%11==0 also to a sink node 1000000+doc_id%13 (sinks have
    no outlinks — the dangling branch is exercised). Oracle is the
    unrolled 5-iteration DuckDB CTE with identical per-iteration 9-dp
    rounding."""
    from webxtract.linkgraph import pagerank

    d = _t(spark, sf_dir, "documents").select("doc_id")
    src = F.col("doc_id").alias("src")
    edges = (
        d.select(src, (F.col("doc_id") % 97).alias("dst"))
        .union(
            d.filter(F.col("doc_id") % 3 != 0).select(
                src, ((F.col("doc_id") * 7 + 3) % 89).alias("dst"))
        )
        .union(
            d.filter(F.col("doc_id") % 11 == 0).select(
                src, (F.lit(1000000) + F.col("doc_id") % 13).alias("dst"))
        )
    )
    return pagerank(edges).select(
        "node", F.col("rank").alias("pagerank")
    ).orderBy("node")


def _anchor_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with planted anchors + robots directives per doc_id modulo
    class: a nofollow-tagged sponsored link (m0), an absolute external
    link (m1), a duplicated href with two distinct anchor texts (m2), a
    shared-vocab topic hub link (m3); head carries <meta name=robots>
    noindex,follow / index,nofollow / none / absent respectively.
    Replicated verbatim in the anchor_texts oracle; the robots_meta
    oracle emits the planted booleans directly."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    robots = (
        F.when(m == 0, F.lit('<meta name="robots" content="noindex, follow">'))
        .when(m == 1, F.lit('<meta name="robots" content="index, nofollow">'))
        .when(m == 2, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit(""))
    )
    extra = (
        F.when(m == 0, F.concat(
            F.lit('<a href="/sponsored/'), (F.col("doc_id") % 9).cast("string"),
            F.lit('" rel="nofollow">ad link</a>')))
        .when(m == 1, F.concat(
            F.lit('<a href="https://x.example/'), did, F.lit('">ext link</a>')))
        .when(m == 2, F.lit('<a href="/dup">one</a><a href="/dup">two</a>'))
        .otherwise(F.concat(
            F.lit('<a href="/t/'), (F.col("doc_id") % 5).cast("string"),
            F.lit('">topic </a>')))
    )
    html = F.concat(
        F.lit("<html><head>"), robots, F.lit("</head><body>"),
        F.lit('<a href="/a/'), did, F.lit('">first '), did, F.lit("</a>"),
        extra, F.lit("</body></html>"),
    )
    url = F.concat(
        F.lit("https://w"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/page/"), did,
    )
    return d.select(
        "doc_id", url.alias("url"), F.encode(html, "utf-8").alias("html")
    )


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus extraction: (doc_id, url, outlink,
    anchor_text, nofollow) with zip-aligned href/text groups and
    href-level rel=nofollow marking."""
    from webxtract.linkgraph import anchor_texts

    pages = _anchor_pages(spark, sf_dir)
    return anchor_texts(pages, id_cols=("doc_id",)).orderBy(
        "doc_id", "outlink", "anchor_text"
    )


def q_robots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-directive flags from <meta name=robots> (noindex /
    nofollow / none-implies-both / absent-means-indexable)."""
    from webxtract.linkgraph import robots_meta_exprs

    pages = _anchor_pages(spark, sf_dir)
    html_text = F.coalesce(F.col("html").cast("string"), F.lit(""))
    r = robots_meta_exprs(html_text)
    return pages.select(
        "doc_id",
        r["robots_noindex"].alias("robots_noindex"),
        r["robots_nofollow"].alias("robots_nofollow"),
    ).orderBy("doc_id")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed 3-term
    query — lexical search scoring / query-targeted data selection.
    Two scans, zero wide shuffles (1-row stats broadcast)."""
    from webxtract.textops import bm25_scores

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(d, ("join", "filter", "scan")).orderBy("doc_id")


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt verdicts: 5 host classes (longest-match Allow
    override, non-* section skipped, empty Disallow, block-all, no
    robots row) x 4 path classes. The oracle emits the expected
    verdict per (doc_id%5, doc_id%4) directly — a planted-truth check
    of the whole parse + longest-prefix-match fold. Host r1 is written
    with CRLF line endings and lowercase directive names (both common
    in real robots.txt; RFC 9309 field names are case-insensitive) —
    the parser must normalize, and the planted verdicts don't move."""
    from webxtract.linkgraph import robots_verdicts

    robots = spark.createDataFrame(
        [
            ("r0.example",
             "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
            ("r1.example",
             "user-agent: googlebot\r\ndisallow: /\r\n\r\n"
             "user-agent: *\r\ndisallow: /tmp\r\n"),
            ("r2.example", "User-agent: *\nDisallow:\n"),
            ("r3.example", "User-agent: *\nDisallow: /\n"),
        ],
        "host string, robots_txt string",
    )
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    pm = F.col("doc_id") % 4
    path = (
        F.when(pm == 0, F.concat(F.lit("/private/ok/"), did))
        .when(pm == 1, F.concat(F.lit("/private/"), did))
        .when(pm == 2, F.concat(F.lit("/tmp/"), did))
        .otherwise(F.concat(F.lit("/page/"), did))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://r"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example"), path,
        ).alias("url"),
    )
    return robots_verdicts(urls, robots).orderBy("doc_id")


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host-level PageRank over the resolved-outlink host
    graph (edge weight = inter-host link count) — the Common-Crawl
    host-web-graph rank product, end-to-end from page HTML."""
    from webxtract.linkgraph import host_graph, outlinks, pagerank

    pages = _linky_pages(spark, sf_dir)
    hg = host_graph(outlinks(pages, id_cols=("doc_id",)))
    return pagerank(
        hg, src_col="src_host", dst_col="dst_host", weight_col="n_links"
    ).select("node", F.col("rank").alias("pagerank")).orderBy("node")


def q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed extraction-quality scoring: token-multiset
    precision/recall/F1 of a candidate extraction vs gold text, with a
    deterministic candidate perturbation (retained boilerplate on
    doc_id%3==0 for precision<1, 120-char truncation on doc_id%5==0
    for recall<1) so all three metrics exercise non-trivial values."""
    from webxtract.textops import extraction_eval

    d = _t(spark, sf_dir, "documents")
    cand = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nhome about contact privacy terms login"),
            ),
        )
        .when(F.col("doc_id") % 5 == 0, F.substring(F.col("text"), 1, 120))
        .otherwise(F.col("text"))
    )
    return extraction_eval(d, F.col("text"), cand).orderBy("doc_id")


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/T5 line+document cleaning ruleset: line filter (terminal
    punctuation, >=5 words, no 'javascript') and doc flags (lorem
    ipsum, curly brace, >=3 retained lines). The documents table is
    single-line unpunctuated text, so the page is rebuilt as a
    deterministic 5-line mix that exercises every rule: the raw
    unpunctuated line (dropped), a doc-varying kept sentence, a
    too-short line, a javascript line on doc_id%7, and a curly-brace /
    lorem-ipsum / kept tail on doc_id%11 / %13 / else."""
    from webxtract.curation import c4_clean_exprs

    d = _t(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.col("text"),
        F.concat(F.substring(F.col("text"), 1, 100), F.lit(" and so it ends.")),
        F.lit("Too short."),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("Please enable javascript to view this page."),
        ).otherwise(F.lit("Another sentence with enough words to pass.")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("function() { return 1; }"))
        .when(
            F.col("doc_id") % 13 == 0,
            F.lit("Lorem ipsum dolor sit amet, consectetur adipiscing elit."),
        )
        .otherwise(F.lit("Final closing line with sufficient words here.")),
    )
    e = c4_clean_exprs(page)
    return d.select(
        "doc_id",
        e["n_lines"].alias("n_lines"),
        e["n_lines_kept"].alias("n_lines_kept"),
        e["cleaned_text"].alias("cleaned_text"),
        e["has_lorem_ipsum"].alias("has_lorem_ipsum"),
        e["has_curly_brace"].alias("has_curly_brace"),
        e["c4_keep"].alias("c4_keep"),
    ).orderBy("doc_id")


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation over planted multi-sentence text (the raw
    corpus has no terminators, which would leave every branch but the
    trivial one untested): doc_id%4 plants mixed ./?/! terminators
    with a whitespace tail fragment (dropped), a leading '...' run
    (dropped — no preceding text), a trailing-whitespace-only fragment
    (dropped), and a no-terminator doc (one sentence). One (doc_id,
    sent_idx, sentence) row per kept ``[^.!?]+[.!?]*`` run; identical
    pattern semantics in Java regex and DuckDB's RE2 (no lookbehind)."""
    from webxtract.textops import split_sentences

    m = F.col("doc_id") % 4
    planted = (
        F.when(m == 0, F.concat(F.col("text"),
                                F.lit(". Tail question? Yes! ")))
        .when(m == 1, F.concat(F.lit("..."), F.col("text")))
        .when(m == 2, F.concat(F.col("text"), F.lit(".   ")))
        .otherwise(F.col("text"))
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", planted.alias("text")
    )
    return split_sentences(d).orderBy("doc_id", "sent_idx")


def q_stratified_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language relative thresholding: keep the top 25% of each
    lang stratum by n_chars (a boundary tied class drops together —
    percent_rank semantics; q_stratified_keep_cume is the
    keep-together rule). Oracle is the plain percent_rank window
    PARTITION BY lang — the histogram-window engine form is exactly
    rank-equivalent."""
    from webxtract.curation import stratified_keep

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_keep(
        d, F.col("n_chars"), 0.25, strata_col="lang"
    ).orderBy("doc_id")


def q_stratified_keep_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist keep rule (ADVICE round 4): ties share the MAXIMUM
    rank so the boundary value class is kept together and tiny strata
    are never wiped. Planted stress: value = n_chars % 50 (heavy tie
    classes in every lang) plus a singleton 'zz' stratum whose lone
    row MUST survive (cume_dist 1.0). Oracle is SQL cume_dist()."""
    from webxtract.curation import stratified_keep

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.col("n_chars") % 50).alias("v")
    )
    single = spark.range(1).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("zz").alias("lang"),
        F.lit(7).cast("long").alias("v"),
    )
    return stratified_keep(
        d.unionByName(single), F.col("v"), 0.25, strata_col="lang", mode="cume"
    ).orderBy("doc_id")


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness frontier over 5 synthetic hosts (r0..r4.example):
    rank per host by (n_chars DESC, url ASC), cap 30 per host, delay
    from planted robots.txt Crawl-delay directives (r0: 5s; r1: 2s,
    written CRLF + lowercase ``crawl-delay:`` to pin the RFC 9309
    case/line-ending normalization; r2: a googlebot-only section whose
    delay must NOT apply; r3: UA-* section without a delay; r4: no
    robots row) — the default-1s, wrong-section, and planted-delay
    branches all occur."""
    from webxtract.linkgraph import frontier_schedule

    robots = spark.createDataFrame(
        [
            ("r0.example", "User-agent: *\nCrawl-delay: 5\nDisallow: /tmp\n"),
            ("r1.example", "user-agent: *\r\ndisallow: /x\r\ncrawl-delay: 2\r\n"),
            ("r2.example",
             "User-agent: googlebot\nCrawl-delay: 9\n\n"
             "User-agent: *\nDisallow: /y\n"),
            ("r3.example", "User-agent: *\nDisallow: /z\n"),
        ],
        "host string, robots_txt string",
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    urls = d.select(
        F.concat(
            F.lit("https://r"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/page/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("n_chars").alias("priority"),
    )
    return frontier_schedule(
        urls, robots=robots, max_per_host=30
    ).orderBy("url")


def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components over a planted multi-cluster host
    edge list: cluster c = doc_id%12 owns string nodes s{c*10+k}, and
    each doc contributes the edge (s{c*10+id%7}, s{c*10+(3*id)%10}) —
    edges never cross clusters, so ≥12 components with non-trivial
    internal structure. Oracle: recursive-CTE transitive closure over
    the identical edge list (string min == binary collation in both
    engines)."""
    from webxtract.linkgraph import host_components

    d = _t(spark, sf_dir, "documents").select("doc_id")
    c10 = (F.col("doc_id") % 12) * 10
    edges = d.select(
        F.concat(F.lit("s"), (c10 + F.col("doc_id") % 7).cast("string"))
        .alias("src_host"),
        F.concat(F.lit("s"), (c10 + (F.col("doc_id") * 3) % 10).cast("string"))
        .alias("dst_host"),
    )
    return host_components(edges).orderBy("host")


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over a planted superset corpus: each doc_id <
    100 also exists as doc_id+200000 with an appended tail, so the
    original's chunk set is ~contained in the extended copy's (the
    final edge chunk differs — documented recall loss of content-
    defined chunking) while the reverse direction fails the ratio.
    Same chunk parameters as the chunk-dedup queries (mod 8, >=4
    tokens)."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    extended = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" appended tail words for the containment fixture"),
        ).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(extended).filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    return dedup.doc_containment(
        corpus,
        boundary_mod=8,
        min_tok=4,
        min_ratio=0.75,
        min_chunks=3,
        max_df=100,
    ).orderBy("a", "b")


def q_wat_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata-record serialization (the third CC product): each
    page's WARC/1.0 metadata record with a JSON envelope carrying the
    head title (planted with a double-quote so the escape path is
    exercised, and with a TAB for doc_id%9==1 rows so the \\t control
    escape is pinned; doc_id%9==0 rows have NO title -> JSON null) and the
    resolved outlink list (absolute kept, root-relative resolved,
    mailto dropped) in document order. The oracle rebuilds identical
    bytes; (rec_bytes, rec_md5) pin the serialization."""
    from webxtract.linkgraph import hrefs_expr, resolve_link_expr
    from webxtract.warc import wat_record_expr

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p/"), did,
    )
    sep = F.when(F.col("doc_id") % 9 == 1, F.lit("\t")).otherwise(F.lit(" "))
    title_tag = F.when(F.col("doc_id") % 9 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<title>Doc"), sep, F.lit('"'), did, F.lit('" - '),
                 F.col("source"), F.lit("</title>"))
    )
    html = F.concat(
        F.lit("<html><head>"), title_tag, F.lit("</head><body>"),
        F.lit('<a href="https://partner.example/r/'), did, F.lit('">p</a>'),
        F.lit('<a href="/p/'), (F.col("doc_id") % 50).cast("string"),
        F.lit('">rel</a><a href="mailto:x@y.example">m</a>'),
        F.col("text"), F.lit("</body></html>"),
    )
    ts = F.timestamp_add(
        "SECOND",
        (F.col("doc_id") % 86400).cast("int"),
        F.to_timestamp(F.lit("2026-01-15 00:00:00")),
    )
    title = F.regexp_extract(html, "<title>(.*?)</title>", 1)
    title = F.when(title == "", F.lit(None).cast("string")).otherwise(title)
    links = F.filter(
        F.transform(hrefs_expr(html), lambda l: resolve_link_expr(l, url)),
        lambda x: x.isNotNull(),
    )
    rec = wat_record_expr(url, ts, title, links)
    return d.select(
        "doc_id",
        F.octet_length(rec).alias("rec_bytes"),
        F.md5(rec.cast("binary")).alias("rec_md5"),
    ).orderBy("doc_id")


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-directive discovery over per-doc planted robots.txt:
    every row carries one sitemap url inside a UA-* group plus (for
    doc_id%3==0) a second one AFTER a different UA group — both must
    be found (Sitemap is group-independent), in file order. The second
    block is written CRLF + lowercase ``sitemap:`` to pin the RFC 9309
    case/line-ending normalization."""
    from webxtract.linkgraph import sitemaps_expr

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /x\nSitemap: https://s"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/sitemap-"), did, F.lit(".xml\n"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("user-agent: googlebot\r\ndisallow: /\r\n"
                  "sitemap: https://s.example/extra.xml\r\n"),
        ).otherwise(F.lit("")),
    )
    sm = sitemaps_expr(robots)
    return d.select(
        "doc_id",
        F.array_join(sm, ",").alias("sitemaps"),
        F.size(sm).alias("n_sitemaps"),
    ).orderBy("doc_id")


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality-classifier serving (the model-based
    filter of FineWeb-Edu/CCNet-style curation): unigram+bigram
    features hashed into 64 buckets, closed-form exact-double weight
    table, logit = bias + feature-mean, sigmoid rounded to 6dp BEFORE
    the keep comparison so libm exp() drift cannot flip verdicts. The
    oracle folds the identical feature list in the identical order.

    The plan is exchange-free except the output sort (same layout note
    as q_repetition_signals: bench.py re-chunks the single-row-group
    sandbox fixture outside the timed region rather than paying a
    repartition shuffle inside the measured query)."""
    from webxtract.curation import classifier_scores_frame, classifier_weights

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_scores_frame(d, classifier_weights(64)).orderBy(
        "doc_id"
    )


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global-shuffle shard manifest: md5-60(doc_id)
    mod 8 shards, within-shard position and exclusive token prefix-sum
    under the (hash, id) pseudo-random order — DuckDB runs the same
    window over the same hash."""
    from webxtract.curation import shard_assign

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_assign(d, n_shards=8).orderBy("shard", "pos")


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml parsing over planted per-doc fixtures: doc_id%4==0
    rows are a <sitemapindex> with two child sitemaps (no url
    entries); the rest are a <urlset> with two <url> entries — the
    first with whitespace-padded <loc> and a <lastmod>, the second
    bare (lastmod must stay NULL: block-scoped extraction). The oracle
    rebuilds the same XML and parses with the same RE2 regexes."""
    from webxtract.linkgraph import sitemap_children_expr, sitemap_entries_expr

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://h'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p/"), did,
        F.lit(" </loc><lastmod>2026-01-"), day,
        F.lit("</lastmod></url><url><loc>https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p/"), did,
        F.lit("?page=2</loc></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://s.example/a-"), did,
        F.lit(".xml</loc></sitemap><sitemap><loc> https://s.example/b-"),
        did, F.lit(".xml </loc></sitemap></sitemapindex>"),
    )
    xml = F.when(F.col("doc_id") % 4 == 0, index).otherwise(urlset)
    ent = sitemap_entries_expr(xml)
    ch = sitemap_children_expr(xml)
    return d.select(
        "doc_id",
        F.size(ent).alias("n_entries"),
        F.array_join(
            F.transform(
                ent,
                lambda e: F.concat_ws(
                    "@", e["loc"], F.coalesce(e["lastmod"], F.lit("-"))
                ),
            ),
            ",",
        ).alias("entries"),
        F.size(ch).alias("n_children"),
        F.array_join(ch, ",").alias("children"),
    ).orderBy("doc_id")


def q_structured_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph / article-published-time / JSON-LD sidecar over
    deterministically planted HTML: og:image + published_time exist
    only for doc_id%3==0, JSON-LD blocks for doc_id%4!=1 (a second
    block when doc_id%8==0), og:description is never planted (the
    empty-string contract). The oracle emits the planted values
    directly — a parse-vs-construction check, like html_metadata."""
    from webxtract.ops.extract_html import structured_metadata_exprs

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    html = F.concat(
        F.lit('<html><head><meta property="og:title" content="OG '), did,
        F.lit('">'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<meta property="og:image" content="https://img.example/'),
                did, F.lit('.jpg">'),
                F.lit('<meta property="article:published_time" content="2026-01-'),
                day, F.lit('T08:00:00Z">'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<meta property="og:type" content="article">'),
        F.when(
            F.col("doc_id") % 4 != 1,
            F.concat(
                F.lit('<script type="application/ld+json">'
                      '{"@context":"https://schema.org","@type":"Article",'
                      '"headline":"H '), did, F.lit('"}</script>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 8 == 0,
            F.lit('<script type="application/ld+json">'
                  '{"@type":"Organization"}</script>'),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"), F.col("text"), F.lit("</body></html>"),
    )
    m = structured_metadata_exprs(F.encode(html, "utf-8"))
    return d.select(
        "doc_id", *[m[k].alias(k) for k in sorted(m)]
    ).orderBy("doc_id")


def q_zipnum_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipnum (pywb cluster.idx) secondary-index layout over a CDX
    line corpus synthesized from documents: md5-prefixed SURT-style
    urlkeys spread lines across prefix buckets, 37-line blocks, 4
    shards.  Verifies the distributed layout computation — the global
    sort rank composed WITHOUT a single-partition window, per-block
    first keys, uncompressed within-shard offsets — against a DuckDB
    window-function oracle.  The gzip block writer + one-block random
    access on top of this layout are pinned byte-for-byte in
    tests/test_warc.py."""
    from webxtract.warc import cdx_line_expr, zipnum_index

    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    urlkey = F.concat(F.substring(F.md5(did), 1, 2), F.lit(",site)/"), did)
    ts = (F.lit(20260101000000) + F.col("doc_id") % 9973).cast("string")
    url = F.concat(F.lit("http://site.example/"), did)
    line = cdx_line_expr(urlkey, ts, url, F.lit("text/html"), F.lit(200))
    lines = d.select(
        urlkey.alias("urlkey"), ts.alias("timestamp"), line.alias("line")
    )
    return zipnum_index(
        lines, lines_per_block=37, n_shards=4, prefix_len=2
    ).orderBy("shard", "block_seq")
