"""Corpus-curation operators for LLM training-data pipelines: PII
redaction and benchmark decontamination.

Both are pure-expression / broadcast-join constructs — no Python on the
hot path, no corpus-side shuffle:

- redaction is regexp_replace/regexp_count over the text column
  (whole-stage codegen);
- decontamination joins the corpus's exploded shingle hashes against
  the BENCHMARK's shingle set, which is small by nature (benchmarks
  are MBs; a 100 TB corpus is the left side) — the benchmark side is
  deduplicated and broadcast, so the corpus never shuffles and the
  scan stays embarrassingly parallel.

Regex patterns use the common Java-regex/RE2 subset (no lookaround,
no backreferences) so the DuckDB oracles run the byte-same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, IntegerType, StringType, StructField,
)

from webxtract.dedup import shingle_hashes_expr

# (kind, pattern, replacement) — ordered; applied sequentially.
# Patterns stay in the Java-regex ∩ RE2 subset (see module docstring).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # +1 (555) 123-4567 / 555-123-4567 / 555.123.4567
    ("phone", r"(\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}", "<PHONE>"),
    # 16-digit card numbers with optional separators
    ("card", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CARD>"),
    # US SSN / CA SIN shaped ids
    ("ssn", r"\b\d{3}[ -]\d{2,3}[ -]\d{3,4}\b", "<ID>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_counts_exprs(text: Column) -> dict[str, Column]:
    """Per-kind match counts, each counted on the text with EARLIER
    kinds already replaced — so the counts reconcile exactly with the
    tags redact_pii_expr emits (a phone never double-counts as an
    SSN-shaped id; sum(counts) == number of tags in the output)."""
    out: dict[str, Column] = {}
    cur = text
    for kind, pat, repl in PII_PATTERNS:
        out[f"n_{kind}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return out


def redact_pii_expr(text: Column) -> Column:
    """Text with every PII pattern replaced by its tag, applied in
    PII_PATTERNS order (earlier kinds win overlapping spans, e.g. the
    digits of a phone never re-match as an SSN fragment)."""
    out = text
    for _kind, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals per document:
    duplicate-line fraction, duplicate-line character fraction (pure
    expressions), and for each n in (2, 3, 4) the top-n-gram character
    fraction — count(most frequent word n-gram) * len(gram) /
    len(text), the repetition filter's core statistic (can exceed 1
    for self-overlapping grams; both engines define it identically).

    Scale shape: ZERO shuffles. n-gram counting is document-local and
    runs in ONE mapInArrow kernel (``kernels.doc_rows``;
    Counter-based top-gram per doc) instead of the round-4
    HOF-expression form (transform/array_sort/aggregate): Spark
    evaluates higher-order lambdas interpreted — CodegenFallback, ~1
    us/element — which made this the 2nd most expensive narrow query
    at sf1.0 (11.4 s; the Python kernel computes the same statistics
    in ~1.5 s, and only (id, text) crosses the boundary once).
    Fractions round 6 dp with ``kernels.spark_round``; tokens are
    ``kernels.ws_split``."""
    from collections import Counter

    from webxtract.kernels import doc_rows, spark_round, ws_split

    def rows_of(text):  # noqa: ANN001, ANN202
        if text is None:
            text = ""
        lines = text.split("\n")
        n = len(lines)
        nd = len(dict.fromkeys(lines))
        chars_l = sum(len(l) for l in lines)
        uchars = sum(len(l) for l in dict.fromkeys(lines))
        dup_line = spark_round((n - nd) / n, 6) if n > 0 else 0.0
        dup_char = (
            spark_round((chars_l - uchars) / chars_l, 6) if chars_l > 0 else 0.0
        )
        toks = ws_split(text)
        chars = len(text)
        out = [dup_line, dup_char]
        for k in (2, 3, 4):
            if len(toks) >= k and chars > 0:
                grams = Counter(
                    " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                )
                cnt, glen = max((c, len(g)) for g, c in grams.items())
                out.append(spark_round(cnt * glen / chars, 6))
            else:
                out.append(0.0)
        return [tuple(out)]

    fields = [
        StructField(nm, DoubleType(), True)
        for nm in ["dup_line_frac", "dup_line_char_frac"]
        + [f"top{k}gram_char_frac" for k in (2, 3, 4)]
    ]
    return doc_rows(df, ["doc_id"], ["text"], fields, lambda: rows_of)


def remove_boilerplate_lines(df: DataFrame, max_line_df: int = 10) -> DataFrame:
    """Cross-document line-level boilerplate removal (the CCNet /
    RefinedWeb trick): a LINE that appears in more than ``max_line_df``
    distinct documents is navigation/footer/cookie-banner boilerplate —
    strip it from every document, preserving the order of surviving
    lines.

    Scale shape: document frequency is computed over (line_hash, id)
    pairs — three shuffles total, the first two carrying ONLY compact
    (hash, id) keys (the distinct + the per-hash count) and one final
    regroup carrying the surviving text; the corpus text is split and
    hashed twice (two scans), which is deliberately cheaper at 100 TB
    than the alternative of shuffling every line's text by its hash.
    The hot set joins back without a forced broadcast hint so AQE
    broadcasts it when small but degrades gracefully (instead of
    OOMing the driver) on template-heavy corpora where many lines
    exceed the cap.

    NULL text is treated as empty text (the document keeps its row).
    Returns (id, text, n_removed_lines)."""
    from webxtract.textops import stable_hash60_expr

    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\n")
        ).alias("pos", "line"),
    ).withColumn("h", stable_hash60_expr(F.trim(F.col("line"))))

    line_df = (
        lines.filter(F.length(F.trim("line")) > 0)
        .select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    # hot set: distinct boilerplate lines are few by nature; no forced
    # broadcast hint — AQE broadcasts when small (see docstring)
    hot = line_df.filter(F.col("docs") > max_line_df).select("h")
    marked = lines.join(
        hot.withColumn("__hot", F.lit(True)), "h", "left"
    ).withColumn("__hot", F.coalesce("__hot", F.lit(False)))
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__hot"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.sum(F.col("__hot").cast("long")).alias("n_removed_lines"),
    )
    # a doc whose every line was hot keeps a row with empty text
    return rebuilt.select(
        F.col("id").alias("doc_id"), "text", "n_removed_lines"
    )


def pack_sequences(df: DataFrame, token_budget: int, n_shards: int = 1024) -> DataFrame:
    """Token-budget sequence packing for training-data assembly: assign
    each document to a (shard, seq_no) training sequence such that
    sequences fill up to ``token_budget`` tokens.

    Strategy: budget-aligned streaming packing — within a shard,
    documents are taken in deterministic id order and
    ``seq_no = floor(prefix_sum_before_doc / budget)``; a document that
    crosses a boundary belongs to the sequence it started in (real
    packers truncate/split at the boundary downstream). Unlike greedy
    first-fit this is a pure prefix-sum, so it is ONE window over the
    shard key — no sequential driver scan, no UDF — and both engines
    (and any rerun) produce identical assignments.

    Shards bound the window's partition size: 10^12 docs / 1024 shards
    still skews if token mass skews, so shard count is a knob; the
    shard is hash-derived from the id (deterministic, no RNG)."""
    from pyspark.sql import Window

    # md5-60 shard hash (engine-neutral, same as deterministic_sample)
    from webxtract.textops import stable_hash60_expr

    shard = F.pmod(
        stable_hash60_expr(F.col("doc_id").cast("string")), F.lit(n_shards)
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = df.withColumn("shard", shard).withColumn(
        "__cum", F.sum("n_tokens").over(w).cast("bigint")
    )
    # Integer floor-division (operands are non-negative, so `div` ==
    # floor) instead of double floor: exact at any cum magnitude and
    # engine-neutral with the oracle's `//`.
    seq_no = F.expr(f"(__cum - n_tokens) div {int(token_budget)}").cast("bigint")
    return (
        with_cum.withColumn("seq_no", seq_no)
        .groupBy("shard", "seq_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


SAMPLE_BUCKETS = 1_000_000


def deterministic_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted source mixing with content-keyed deterministic sampling:
    keep a row iff md5_60(key) % 1e6 < rate(source) * 1e6.

    This is the reproducible variant of per-source rand() sampling used
    to hit a training-mix recipe (e.g. 50% of lang A, 10% of lang B):
    the decision is a pure function of the KEY, so it is stable across
    runs, executors, partitionings and retries (rand(seed) is only
    per-partition-deterministic and reshuffle-sensitive), and the same
    document always lands on the same side — re-runs and incremental
    appends stay consistent. The rate table is a constant-folded
    literal map; no shuffle, no Python."""
    pairs: list[Column] = []
    for k, r in rates.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(float(r)))
    rate = F.coalesce(
        F.create_map(*pairs)[F.col("lang")], F.lit(float(default_rate))
    )
    from webxtract.textops import stable_hash60_expr

    bucket = F.pmod(
        stable_hash60_expr(F.col("doc_id").cast("string")), F.lit(SAMPLE_BUCKETS)
    )
    return df.filter(bucket < (rate * SAMPLE_BUCKETS).cast("bigint"))


# query params stripped during url canonicalization (tracking noise):
# any utm_*, plus the common click ids
_TRACKING_PARAM_RE = r"^(utm_[a-z0-9_]+|gclid|fbclid|msclkid|mc_eid|ref|ref_src)="


def canonicalize_url_expr(url: Column) -> Column:
    """Canonical url for dedup/partition keys: lowercase scheme+host,
    default ports stripped, fragment dropped, tracking query params
    (utm_*/gclid/fbclid/...) removed with param order preserved, and a
    bare trailing '?' cleaned up. Pure expressions (one pass over a
    bound split), byte-replicable in DuckDB — no java.net parsing."""
    from webxtract.exprs import bind_once

    no_frag = F.regexp_replace(url, r"#.*$", "")

    def build(p: Column) -> Column:
        head, query = p["head"], p["query"]
        # lowercase scheme://host[:port], strip default ports
        head_lc = F.concat(
            F.lower(F.regexp_extract(head, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)),
            F.regexp_replace(head, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""),
        )
        head_np = F.regexp_replace(head_lc, r"^(https://[^/:]+):443(/|$)", r"$1$2")
        head_np = F.regexp_replace(head_np, r"^(http://[^/:]+):80(/|$)", r"$1$2")
        kept = F.filter(
            F.split(query, "&"),
            lambda kv: ~kv.rlike(_TRACKING_PARAM_RE),
        )
        return F.when(
            (query == "") | (F.size(kept) == 0), head_np
        ).otherwise(F.concat(head_np, F.lit("?"), F.array_join(kept, "&")))

    return bind_once(
        F.struct(
            F.regexp_replace(no_frag, r"\?.*$", "").alias("head"),
            F.regexp_extract(no_frag, r"\?(.*)$", 1).alias("query"),
        ),
        build,
    )


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Decontamination: corpus documents sharing >= ``min_hits``
    distinct word-``shingle_k``-gram hashes with the benchmark set
    (the n-gram-overlap contamination rule used for held-out eval
    hygiene, e.g. GPT-3 appendix C / PaLM-style 8-gram checks).

    Returns (id, n_hits) for flagged documents. Scale shape: the
    benchmark's DISTINCT shingle hashes are broadcast (benchmarks are
    small by construction); the corpus side explodes to (id, hash) and
    joins map-side — zero corpus shuffles before the per-doc count,
    which aggregates (id, hash)-distinct hits only for matching rows.
    """
    bench_sh = (
        benchmark.select(
            F.explode(shingle_hashes_expr(F.col("text"), shingle_k)).alias("h")
        )
        .distinct()
    )
    doc_sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(shingle_hashes_expr(F.col("text"), shingle_k)).alias("h"),
    )
    hits = doc_sh.join(F.broadcast(bench_sh), "h")
    return (
        hits.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


# ------------------------------------------------------- text normalize

# C0 controls (minus \t \n \r, which are legitimate whitespace) + DEL.
# The same \xNN class in Python ``re`` and RE2, so the DuckDB oracle
# runs the byte-same pattern.
CONTROL_CHAR_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

# host of scheme://host[:port]/... — class excludes :/?# so the port and
# path never leak into the capture; scheme chars per RFC 3986.
URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)"


def url_host_expr(url: Column) -> Column:
    """Lower-cased registered host of a URL ('' when no scheme://host
    prefix parses — callers group the unparseable residue under '')."""
    return F.lower(F.regexp_extract(url, URL_HOST_RE, 1))


def normalize_text(df: DataFrame) -> DataFrame:
    """Corpus text normalization: strip C0 control chars/DEL, then
    Unicode-NFC the result (``unicodedata``, the same Unicode-standard
    mapping DuckDB's nfc_normalize applies) — the standard first pass
    before hashing, dedup, or tokenization so byte-different but
    canonically-equal documents (decomposed accents, compatibility
    codepoints, stray control bytes from charset sniffing) hash
    identically downstream.

    Scale shape: ZERO shuffles — one ``mapInArrow`` kernel
    (``kernels.doc_rows``); NULL text stays NULL. Text holding invalid
    UTF-8 reads as ``make_valid_utf8`` of it, like every kernel's, and
    counts as ``changed``. Returns (id, text_norm, changed,
    n_chars_before, n_chars_after); the counts are code points."""
    import re
    import unicodedata

    from webxtract.kernels import doc_rows

    control = re.compile(CONTROL_CHAR_RE)

    def rows_of(text, valid):  # noqa: ANN001, ANN202
        if text is None:
            return [(None, False, None, None)]
        norm = unicodedata.normalize("NFC", control.sub("", text))
        return [(norm, not valid or norm != text, len(text), len(norm))]

    fields = [
        StructField("text_norm", StringType(), True),
        StructField("changed", BooleanType(), False),
        StructField("n_chars_before", IntegerType(), True),
        StructField("n_chars_after", IntegerType(), True),
    ]
    valid = F.is_valid_utf8("text")
    return doc_rows(df, ["doc_id"], ["text", valid], fields, lambda: rows_of)


# ------------------------------------------------------- host analytics


def host_stats(df: DataFrame) -> DataFrame:
    """Per-host corpus statistics (doc count, char mass, mean doc
    length, distinct languages) — the host-level view quality pipelines
    rank/trim/blocklist from (a crawl's byte mass is Zipfian over
    hosts; host-level decisions need exactly this rollup).

    Scale shape: ONE shuffle on the host key with map-side partial
    aggregation; the distinct-language count rides the same grouping
    via Spark's distinct-aggregate Expand (rows duplicate 2x map-side,
    still partially aggregated before the exchange — no second
    full-corpus shuffle). Hot hosts are exactly the skewed keys AQE
    skew-split handles; the payload entering the exchange is already
    per-(host[,lang]) partial rows, not documents."""
    host = url_host_expr(F.col("url"))
    chars = F.length(F.coalesce(F.col("text"), F.lit("")))
    agg = (
        df.select(host.alias("host"), chars.alias("chars"), F.col("lang"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )
    # mean as one exact-int IEEE division (not F.avg): bit-identical in
    # any engine, so oracles need no rounding-mode assumptions
    return agg.select(
        "host",
        "n_docs",
        "total_chars",
        (F.col("total_chars").cast("double") / F.col("n_docs"))
        .alias("avg_chars"),
        "n_langs",
    )


def filter_blocked_domains(df: DataFrame, blocked: DataFrame) -> DataFrame:
    """Drop every document whose URL host appears in a blocklist
    (spam/SEO/adult domain lists — the standard crawl-curation gate).

    Scale shape: blocklists are small by nature (10^4-10^6 hosts, KBs
    to MBs) against a 10^12-row corpus, so the blocklist side is
    deduplicated and broadcast and the join is a map-side LEFT ANTI —
    the corpus never shuffles and the scan stays embarrassingly
    parallel. Host matching is case-insensitive on both sides."""
    host = url_host_expr(F.col("url"))
    bl = F.broadcast(
        blocked.select(F.lower(F.col("host")).alias("__host")).distinct()
    )
    return (
        df.withColumn("__host", host)
        .join(bl, "__host", "left_anti")
        .drop("__host")
    )


# ------------------------------------------------ paragraph-level dedup


def dedup_paragraphs(df: DataFrame) -> DataFrame:
    """Corpus-wide keep-first paragraph deduplication (the RefinedWeb /
    Dolma pass that removes repeated paragraphs ACROSS documents, not
    just repeated lines within a host's template): paragraphs equal up
    to surrounding whitespace keep only their first occurrence in
    (doc_id, position) order; every later occurrence — in the same
    document or any other — is dropped, and each document's surviving
    paragraphs are reassembled in order.

    Paragraph = a ``\\n{2,}``-separated block, so blank-line runs
    normalize to one separator on rebuild. Whitespace-only blocks never
    participate in dedup (they carry no content and would otherwise
    cross-delete unrelated documents' spacing); they are kept as-is.
    NULL text is treated as empty text (the document keeps its row).

    Scale shape: three shuffles, the heavy ones compact — the winner
    aggregation ships only (hash, id, pos) triples with map-side
    partial ``min`` (the struct min is algebraic), the join back to the
    exploded paragraphs reuses the same hash partitioning, and only the
    final per-document regroup carries surviving paragraph text. The
    dedup key is the 60-bit engine-neutral md5 hash
    (``stable_hash60_expr``), same contract as remove_boilerplate_lines.
    Returns (id, text, n_removed_paras)."""
    from webxtract.textops import stable_hash60_expr

    paras = (
        df.select(
            F.col("doc_id").alias("id"),
            F.posexplode(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\n{2,}")
            ).alias("pos", "para"),
        )
        .withColumn("eligible", F.length(F.trim("para")) > 0)
        .withColumn("h", stable_hash60_expr(F.trim(F.col("para"))))
    )
    winners = (
        paras.filter("eligible")
        .groupBy("h")
        .agg(F.min(F.struct(F.col("id"), F.col("pos"))).alias("w"))
    )
    marked = paras.join(winners, "h", "left").withColumn(
        "keep",
        (~F.col("eligible"))
        | ((F.col("w.id") == F.col("id")) & (F.col("w.pos") == F.col("pos"))),
    )
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("text"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed_paras"),
    )
    return rebuilt.select(
        F.col("id").alias("doc_id"), "text", "n_removed_paras"
    )


# ------------------------------------------------ corpus vocabulary


def top_tokens(df: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level top-k token frequencies — the vocabulary head every
    tokenizer-training / contamination / quality audit starts from.
    Whitespace tokens over trimmed text; empty tokens (empty or NULL
    documents) are excluded. Deterministic total order: count
    descending, then token ascending.

    Scale shape: the explode is narrow; the token count partially
    aggregates map-side (the Zipfian head collapses to one partial row
    per (partition, token) before the exchange, so the shuffle carries
    ~vocab-size rows, not corpus-token rows); the global top-k is a
    TakeOrderedAndProject, never a full sort. Returns (token, n)."""
    from webxtract.textops import tokens_expr

    toks = df.select(
        F.explode(
            tokens_expr(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token")
    ).filter(F.length("token") > 0)
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counted.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)


# ------------------------------------------------ source mixing / chunking


def temperature_mix(
    df: DataFrame,
    n_target: int,
    temperature: float = 0.5,
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual/multi-source
    rebalancing rule of mC4/PaLM-style recipes): source s with n_s
    documents gets sampling weight w_s = n_s^T / sum(n_s^T); T < 1
    flattens the mix toward rare sources, T = 1 reproduces natural
    proportions. Each source keeps ~w_s * n_target documents via the
    same content-keyed deterministic rule as ``deterministic_sample``
    (keep iff md5-bucket(key) < rate), so the selection is stable
    across runs, partitionings and retries; per-source rates cap at
    1.0 (a source can't over-sample itself).

    The rate is rounded to 6 decimals BEFORE thresholding on both
    engines so a last-ulp pow()/division difference between libms can
    never flip a row across the keep boundary.

    Scale shape: one tiny aggregation (distinct sources only —
    hash-partial, the shuffle carries #sources rows) feeding a window
    over the single-row total, then a broadcast join of the ≤#sources
    rate table back onto the corpus — the corpus itself never
    shuffles and the filter is a narrow map. Returns the kept rows'
    (key, source)."""
    from webxtract.textops import stable_hash60_expr

    counts = df.groupBy(F.col("lang").alias("__src")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    pw = F.pow(F.col("__n").cast("double"), F.lit(float(temperature)))
    rates = counts.select(
        "__src",
        F.round(
            F.least(
                F.lit(1.0),
                pw / F.sum(pw).over(w_all) * F.lit(float(n_target))
                / F.col("__n").cast("double"),
            ),
            6,
        ).alias("__rate"),
    )
    bucket = F.pmod(
        stable_hash60_expr(F.col("doc_id").cast("string")), F.lit(SAMPLE_BUCKETS)
    )
    return (
        df.select(F.col("doc_id"), F.col("lang"))
        .join(F.broadcast(rates), F.col("lang") == F.col("__src"))
        # explicit round before the bigint threshold: the 6-dp rate
        # times 1e6 is integer-valued up to FP error, and Spark's
        # double->bigint cast truncates while DuckDB's rounds — round
        # first so both engines see the identical integer.
        .filter(
            bucket
            < F.round(F.col("__rate") * SAMPLE_BUCKETS, 0).cast("bigint")
        )
        .select("doc_id", "lang")
    )


def chunk_tokens(df: DataFrame, chunk_size: int = 256, overlap: int = 32) -> DataFrame:
    """Sliding-window token chunking (context-window packing for
    pretraining, or RAG passage splitting): each document's whitespace
    tokens are windowed into chunks of ``chunk_size`` tokens advancing
    by ``chunk_size - overlap``, so consecutive chunks share
    ``overlap`` tokens and no token is dropped; the final chunk may be
    shorter. Empty/NULL documents produce no chunks.

    Scale shape: fully narrow — one bound token split per document,
    one sequence of window starts, one explode; zero shuffles, zero
    Python. Returns (id, chunk_no, n_tokens, chunk_text)."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    from webxtract.exprs import bind_once
    from webxtract.textops import tokens_expr

    toks = F.filter(
        tokens_expr(F.coalesce(F.col("text"), F.lit(""))),
        lambda t: F.length(t) > 0,
    )

    def build(tk: Column) -> Column:
        return F.when(
            F.size(tk) > 0, F.sequence(F.lit(1), F.size(tk), F.lit(stride))
        ).otherwise(F.array().cast("array<int>"))

    exploded = df.select(
        F.col("doc_id").alias("id"),
        toks.alias("tk"),
    ).select(
        "id",
        "tk",
        F.explode(bind_once(F.col("tk"), build)).alias("s"),
    )
    chunk = F.slice(F.col("tk"), F.col("s"), chunk_size)
    return exploded.select(
        F.col("id").alias("doc_id"),
        ((F.col("s") - 1) / stride + 1).cast("int").alias("chunk_no"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def unigram_surprisal(df: DataFrame, vocab_k: int = 1000) -> DataFrame:
    """Statistical language-model quality proxy (the KenLM-filter
    analog, deterministic): per-document mean unigram surprisal
    ``avg(-ln(c_w / T))`` against the corpus' own top-``vocab_k``
    vocabulary, out-of-vocabulary tokens smoothed to a count of 0.5.
    Natural text scores near the corpus entropy; keyboard mash and
    boilerplate-free gibberish (all-OOV) scores ~ln(T / 0.5), so
    a single threshold separates them — the cheap stand-in for the
    model-based perplexity filters of CCNet/DCLM-style pipelines.
    Returns (id, n_tokens, surprisal).

    Scale shape: two passes over the tokens. Pass 1 counts tokens —
    the explode is narrow and the count partially aggregates map-side,
    so the exchange carries ~vocab rows; the top-k head is a
    TakeOrderedAndProject (count desc, token asc — deterministic at
    the k boundary). Pass 2 re-explodes, broadcast-joins the k-row
    vocabulary and the 1-row total (never a shuffle join), and the
    per-document aggregation ships one partial row per document. The
    document text itself never shuffles."""
    from webxtract.textops import tokens_expr

    base = df.filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
    tok = base.select("id", F.explode(tokens_expr(F.col("t"))).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tt"))
    vocab = counts.orderBy(F.col("c").desc(), "w").limit(vocab_k)
    scored = (
        tok.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            (-F.log(F.coalesce(F.col("c"), F.lit(0.5)) / F.col("tt"))).alias(
                "s"
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("s"), 6).alias("surprisal"),
    )


def crawl_diff(old: DataFrame, new: DataFrame, id_col: str = "url") -> DataFrame:
    """Recrawl change detection between two crawl snapshots: per id,
    ``added`` (new only), ``removed`` (old only), ``changed``
    (fingerprint differs) or ``unchanged``. The downstream contract of
    every incremental pipeline stage — re-extract/re-validate only
    ``added``+``changed``, tombstone ``removed``.

    Scale: both sides reduce to (id, md5) BEFORE the full-outer join,
    so the shuffle carries two 16-byte-ish columns per row and the
    document text never moves; at equal snapshot sizes this is the
    minimal-width equi-join form of the diff."""
    fp = lambda df, name: df.select(  # noqa: E731
        F.col(id_col).alias("id"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias(name),
    )
    j = fp(old, "old_fp").join(fp(new, "new_fp"), "id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
        .otherwise("unchanged")
    )
    return j.select("id", status.alias("status"))


def c4_clean_exprs(text: Column) -> dict[str, Column]:
    """C4-style line and document cleaning (the T5-paper ruleset, the
    most widely replicated public web-corpus filter): keep only lines
    that end in a terminal punctuation mark, contain >= 5 words, and do
    not mention 'javascript'; reject whole documents containing
    'lorem ipsum' or a curly brace, or retaining < 3 lines.

    Pure per-row expressions — one split, one HOF filter, zero
    shuffles/Python — so the filter runs as a narrow map over 10^12
    pages. Returns cleaned_text (retained lines, newline-joined),
    n_lines / n_lines_kept, the two document flags, and the composite
    c4_keep verdict. NULL text cleans to '' and is rejected (n_kept=0),
    matching the NULL-as-empty contract of the other line ops here."""
    t = F.coalesce(text, F.lit(""))
    lines = F.split(t, r"\n")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(r'[.!?"]$')
        & (
            F.size(
                F.filter(
                    F.split(F.trim(l), r"\s+"), lambda w: w != F.lit("")
                )
            )
            >= 5
        )
        & ~F.lower(l).contains("javascript"),
    )
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    n_kept = F.size(kept)
    return {
        "n_lines": F.size(lines).cast("long"),
        "n_lines_kept": n_kept.cast("long"),
        "cleaned_text": F.array_join(kept, "\n"),
        "has_lorem_ipsum": has_lorem,
        "has_curly_brace": has_brace,
        "c4_keep": (n_kept >= 3) & ~has_lorem & ~has_brace,
    }


# ftfy-style mojibake repair: the canonical web-text corruption is
# UTF-8 bytes decoded once too often as cp1252/latin-1 ("Ã©"
# for "é", "â€™" for a right single quote). Real
# pipelines run ftfy over every crawl; this is the deterministic
# expression-chain subset covering the dominant sequences — curly
# quotes / dashes / ellipsis / bullet (3-char "â€?" family)
# and the Latin-1 accented block + symbols (2-char "Ã?" /
# "Â?" families) — ordered longest-first so a 3-char fix wins
# before any 2-char prefix of it. Sequences whose second decode hits an
# unmappable C1 byte (0x9d, 0x9f) are excluded: cp1252 cannot produce
# them, so they surface as U+FFFD and are not repairable by substring
# rules. Each entry is (mojibake, intended).
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    ("â€™", "’"),  # right single quote
    ("â€˜", "‘"),  # left single quote
    ("â€œ", "“"),  # left double quote
    ("â€“", "–"),  # en dash
    ("â€”", "—"),  # em dash
    ("â€¦", "…"),  # ellipsis
    ("â€¢", "•"),  # bullet
    ("Ã©", "é"),  # e acute
    ("Ã¨", "è"),  # e grave
    ("Ã¡", "á"),  # a acute
    ("Ã ", "à"),  # a grave
    ("Ã­", "í"),  # i acute
    ("Ã³", "ó"),  # o acute
    ("Ãº", "ú"),  # u acute
    ("Ã±", "ñ"),  # n tilde
    ("Ã§", "ç"),  # c cedilla
    ("Ã¼", "ü"),  # u umlaut
    ("Ã¶", "ö"),  # o umlaut
    ("Ã¤", "ä"),  # a umlaut
    ("Â«", "«"),  # left guillemet
    ("Â»", "»"),  # right guillemet
    ("Â°", "°"),  # degree sign
    ("Â ", " "),  # nbsp
]


def fix_mojibake_exprs(text: Column) -> dict[str, Column]:
    """Repair the MOJIBAKE_PAIRS sequences via a sequential literal
    replace chain — pure JVM string ops, zero shuffles/Python, so the
    repair is a narrow map over the whole crawl (same plan shape as
    redact_pii_expr). NULL text repairs to ''. Returns the fixed text,
    a had_mojibake flag, and chars_saved (each 2-3-char sequence
    collapses to one intended char, so the length delta counts repaired
    sequences exactly; pairs never overlap post-ordering)."""
    t = F.coalesce(text, F.lit(""))
    fixed = t
    for bad, good in MOJIBAKE_PAIRS:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return {
        "fixed_text": fixed,
        "had_mojibake": F.length(t) != F.length(fixed),
        "chars_saved": (F.length(t) - F.length(fixed)).cast("long"),
    }


# Keyword-taxonomy topic tagging: the cheap domain/topic router used to
# curate training mixtures (tag a crawl page news/tech/health/... so
# mixture weights can be set per topic). The reference's D2 keyword
# flags (document_type_detector.py:267-281) generalized to an arbitrary
# taxonomy: per-topic keyword hit count, argmax with first-wins
# tie-break in taxonomy order, 'other' when nothing matches.
TOPIC_TAXONOMY: dict[str, tuple[str, ...]] = {
    "news": ("breaking news", "reported", "journalist", "press release",
             "correspondent", "editorial"),
    "technology": ("software", "hardware", "startup", "algorithm",
                   "programming", "artificial intelligence", "gadget"),
    "sports": ("championship", "tournament", "league", "playoff",
               "scored", "athlete", "coach"),
    "health": ("symptom", "diagnosis", "treatment", "clinical",
               "patient", "wellness", "nutrition"),
    "finance": ("stock market", "investor", "interest rate", "earnings",
                "portfolio", "inflation", "dividend"),
    "travel": ("itinerary", "destination", "tourist", "airfare",
               "sightseeing", "hotel"),
    "food": ("recipe", "ingredient", "delicious", "restaurant",
             "cuisine", "baking"),
    "science": ("experiment", "hypothesis", "researcher", "laboratory",
                "peer-reviewed", "physics", "biology"),
}


def tag_topics_frame(df: DataFrame) -> DataFrame:
    """Per-topic keyword hit counts plus the argmax topic: (id,
    n_<topic>..., topic) from ONE mapInArrow pass
    (``kernels.doc_rows``) — zero shuffles, zero joins. Hit = substring containment on the lowercased text,
    counted per keyword, not per occurrence. topic = the first topic in
    ``TOPIC_TAXONOMY`` order with the strictly greatest positive count, 'other'
    when nothing matches. NULL text counts zero everywhere and tags
    'other'.

    CPython's substring search does the containment test natively (~1
    executor-CPU core-s at sf1.0, against 38 core-s / 2.0 s wall for
    the ~52 interpreted `contains` lambdas per document of the
    expression form this replaced)."""
    from pyspark.sql.types import LongType, StringType

    from webxtract.kernels import doc_rows

    topics = list(TOPIC_TAXONOMY)
    kw_lists = [list(TOPIC_TAXONOMY[t]) for t in topics]

    def rows_of(t):  # noqa: ANN001, ANN202
        low = (t or "").lower()
        counts = [sum(1 for kw in kws if kw in low) for kws in kw_lists]
        best, top = 0, "other"
        for c, name in zip(counts, topics):
            if c > 0 and c > best:
                best, top = c, name
        return [(*counts, top)]

    fields = [StructField(f"n_{t}", LongType(), True) for t in topics] + [
        StructField("topic", StringType(), True)
    ]
    return doc_rows(df, ["doc_id"], ["text"], fields, lambda: rows_of)


def value_percentiles(df: DataFrame, value: Column) -> DataFrame:
    """Exact corpus percent_rank of a per-document value (the relative
    quality/length thresholding primitive: 'drop the bottom 5% by
    length' without hand-picking absolute cutoffs).

    Scale shape: a naive ``percent_rank() OVER (ORDER BY v)`` is a
    single-partition window over every document — the one window shape
    that cannot scale. Here the window runs over the VALUE HISTOGRAM
    instead: groupBy(value) (partial-aggregated), one ordered window
    over |distinct values| rows (bounded by value cardinality, e.g.
    ~10^4 for integer lengths, regardless of corpus size), then a
    broadcast join back onto documents. Result is IDENTICAL to SQL
    percent_rank — (count of docs with smaller value) / (N-1) — for
    every document sharing a value (ties share a rank). NULL values
    are excluded (no rank), matching the oracle's WHERE filter."""
    v = value.alias("__v")
    base = df.select(F.col("doc_id"), v).where(F.col("__v").isNotNull())
    hist = base.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    from pyspark.sql import Window

    w = (
        Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.select(
        "__v",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__below"),
    )
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    ranked = ranked.crossJoin(F.broadcast(n)).select(
        "__v",
        F.when(
            F.col("__n") > 1,
            F.col("__below").cast("double")
            / (F.col("__n") - F.lit(1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
    )
    return base.join(F.broadcast(ranked), "__v").select(
        "doc_id",
        F.col("__v").alias("value"),
        F.round("pct_rank", 9).alias("pct_rank"),
    )


def host_cap_sample(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    order_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Per-host document cap (the RefinedWeb/C4 anti-domination rule:
    no single site contributes more than ``cap`` documents to the
    training mix), keeping the best rows by ``order_col`` DESC with
    ``id_col`` ASC as the deterministic tie-break; when ``order_col``
    is None the cap keeps the lowest ids. Returns the surviving rows
    plus their 1-based ``host_rank``.

    Scale shape / skew: a bare row_number() over (PARTITION BY host)
    puts a hot host's every row in ONE window partition — the classic
    crawl-skew trap (a 10^8-page host = one straggler task). Ranking
    is therefore TWO-PHASE, same pattern as build_postings: phase 1
    ranks within (host, salt = xxhash64(id) % n_salts) and keeps
    ``cap`` per salt — a superset of the global per-host top-cap under
    the same total order — bounding phase 2's per-host partition at
    n_salts * cap rows regardless of host size. Only (host, id, order,
    salt) columns shuffle; full rows rejoin by id afterwards would be
    an extra shuffle, so instead the frame carries its columns through
    both windows (callers project first when rows are wide)."""
    from pyspark.sql import Window

    order = (
        [F.col(order_col).desc(), F.col(id_col).asc()]
        if order_col is not None
        else [F.col(id_col).asc()]
    )
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order)
    pruned = (
        df.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= cap)
        .drop("__r1")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order)
    return (
        pruned.withColumn("host_rank", F.row_number().over(w2))
        .where(F.col("host_rank") <= cap)
        .withColumn("host_rank", F.col("host_rank").cast("long"))
    )


# DSIR-style hashed-feature importance weighting (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# features are hashed word bigrams; a document's log importance weight
# is sum over feature occurrences of log p_target(bucket) -
# log p_raw(bucket). The raw distribution comes from the corpus itself
# (bucket_counts, one tiny 64-group reduce); the target distribution is
# the caller's (e.g. a quality-domain sample).


def bucket_counts(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Corpus histogram over hashed-bigram feature buckets — the 'raw'
    side of the DSIR ratio. One explode + one groupBy with only
    ``n_buckets`` groups: partial aggregation collapses every
    partition to <= n_buckets rows before the (bucket, count)-only
    shuffle, so the reduce costs O(n_buckets * partitions) network
    regardless of corpus size. Callers collect the n_buckets rows
    (same class as the ANN query-vector fetch) to build the log-ratio
    table for dsir_scores_frame.

    Round 6: the per-gram md5 + explode moved into a partial-count
    kernel, now one ``mapInArrow`` reading the text through
    ``kernels.pylist`` — each task emits <= n_buckets (bucket,
    partial-count) rows from a CPython Counter (the bucket is
    ``kernels.md5_60`` of the bigram, as in dsir_scores_frame), and
    the groupBy sums the partials. Same
    map-side-collapsed shuffle shape, same exact integer counts,
    without the interpreted per-gram hash expression (12-27 CPU core-s
    of the dsir_weights query at sf1.0 was this prepass)."""

    def _partials(batches):  # noqa: ANN001, ANN202
        from collections import Counter

        import pyarrow as pa

        from webxtract.kernels import md5_60, pylist, ws_split

        c: Counter = Counter()
        for b in batches:
            for t in pylist(b.column(0)):
                toks = ws_split(t)
                for i in range(len(toks) - 1):
                    c[md5_60(toks[i] + " " + toks[i + 1]) % n_buckets] += 1
        keys = sorted(c)
        yield pa.RecordBatch.from_arrays(
            [pa.array(keys, pa.int64()), pa.array([c[k] for k in keys], pa.int64())],
            ["bucket", "n"],
        )

    return (
        df.select("text")
        .mapInArrow(_partials, "bucket long, n long")
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def dsir_scores_frame(
    df: DataFrame,
    log_ratio: list[float],
    n_buckets: int = 64,
) -> DataFrame:
    """Per-document DSIR log importance weight: (id, n_grams,
    dsir_logweight) from ONE mapInArrow pass (``kernels.doc_rows``)
    — zero shuffles, zero joins; scoring 10^12 documents is one map
    pass. The ``log_ratio`` table (one entry per bucket) ships with
    the kernel's closure.

    Tokens are ``kernels.ws_split`` of the text; features are the word
    bigrams in document order; bucket = ``kernels.md5_60`` mod
    ``n_buckets``. dsir_logweight is the float64 left fold of
    ``log_ratio[bucket]`` in gram order (the DuckDB oracle's in-order
    list_sum reproduces it bit for bit), rounded 6 dp with
    ``kernels.spark_round``. n_grams counts the bigrams; a document
    with fewer than two tokens, NULL text included, has n_grams 0 and
    dsir_logweight 0.0.

    hashlib md5 plus a list lookup cost ~0.5 us per gram (~1
    executor-CPU core-s at sf1.0, against 24-27 core-s / 1.4 s for the
    interpreted per-bigram lambda of the expression form this
    replaced)."""
    from pyspark.sql.types import LongType

    from webxtract.kernels import doc_rows, md5_60, spark_round, ws_split

    lr = [float(x) for x in log_ratio]

    def rows_of(t):  # noqa: ANN001, ANN202
        toks = ws_split(t)
        acc = 0.0
        for i in range(len(toks) - 1):
            acc = acc + lr[md5_60(toks[i] + " " + toks[i + 1]) % n_buckets]
        return [(len(toks) - 1, spark_round(acc, 6))]

    fields = [
        StructField("n_grams", LongType(), True),
        StructField("dsir_logweight", DoubleType(), True),
    ]
    return doc_rows(df, ["doc_id"], ["text"], fields, lambda: rows_of)


def classifier_scores_frame(df: DataFrame, weights: list[float]) -> DataFrame:
    """FastText-style hashed linear quality classifier serving — the
    model-based filter step of FineWeb-Edu / CCNet / Llama-style
    curation (score every document with a cheap linear model, keep
    from a score of 0.5 up): (id, n_feats, clf_score, clf_keep) from ONE
    mapInArrow pass (``kernels.doc_rows``) — zero shuffles, zero
    joins, embarrassingly parallel. ``weights`` (one per bucket;
    ``classifier_weights`` is the deterministic stand-in for a trained
    model) ships with the kernel's closure.

    Features are all unigrams then all bigrams (document order,
    multiplicity kept — fastText's word + wordNgrams=2 feature set) of
    ``kernels.ws_split``, hashed like dsir_scores_frame into 64
    buckets. logit = -0.1 + mean of ``weights[bucket]`` (float64
    sum in feature order); clf_score = sigmoid(logit) with libm exp,
    rounded 6 dp with ``kernels.spark_round``; clf_keep compares the
    ROUNDED score to 0.5, so last-ulp exp() drift cannot
    flip the verdict against the DuckDB oracle. The unigram leg always yields at least
    one feature (NULL, empty and blank text tokenize to the single
    empty token), so the mean never divides by zero and those rows
    all score alike.

    ~1 executor-CPU core-s at sf1.0, against 30 core-s / 1.5 s for the
    interpreted fold of the expression form this replaced."""
    import math

    from pyspark.sql.types import BooleanType, LongType

    from webxtract.kernels import doc_rows, md5_60, spark_round, ws_split

    w = [float(x) for x in weights]

    def rows_of(t):  # noqa: ANN001, ANN202
        toks = ws_split(t)
        feats = toks + [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
        acc = 0.0
        for g in feats:
            acc = acc + w[md5_60(g) % 64]
        logit = -0.1 + acc / float(len(feats))
        s = spark_round(1.0 / (1.0 + math.exp(-logit)), 6)
        return [(len(feats), s, s >= 0.5)]

    fields = [
        StructField("n_feats", LongType(), True),
        StructField("clf_score", DoubleType(), True),
        StructField("clf_keep", BooleanType(), True),
    ]
    return doc_rows(df, ["doc_id"], ["text"], fields, lambda: rows_of)


def split_assign_expr(
    host: Column,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.98),
        ("valid", 0.01),
        ("test", 0.01),
    ),
) -> Column:
    """Leakage-free train/valid/test split assignment, keyed by HOST:
    hashing the registered host (not the url or content) puts every
    page of a site — and therefore the overwhelming share of its
    near-duplicates and templated siblings — into the SAME split, the
    standard guard against test-set contamination by same-site
    near-dups. Deterministic across runs and partitionings (md5-60
    hash, no RNG), a pure narrow expression: splitting 10^12 rows is
    free. Weights are mapped onto integer thresholds out of 10^6, so
    the boundary arithmetic is exact in both engines (no float
    cumsum drift at the cut points)."""
    from webxtract.textops import stable_hash60_expr

    u = F.pmod(stable_hash60_expr(F.coalesce(host, F.lit(""))), F.lit(1000000))
    total = sum(w for _, w in splits)
    acc = 0.0
    expr = None
    cuts: list[tuple[str, int]] = []
    for name, w in splits:
        acc += w / total
        cuts.append((name, min(1000000, int(round(acc * 1000000)))))
    # ranges: [0, c0) -> split 0, [c0, c1) -> split 1, ...; built
    # inside-out so the earliest (lowest-cut) WHEN evaluates first
    expr = F.lit(cuts[-1][0])
    for name, cut in reversed(cuts[:-1]):
        expr = F.when(u < cut, F.lit(name)).otherwise(expr)
    return expr


def bigram_perplexity(df: DataFrame) -> DataFrame:
    """Interpolated bigram language-model perplexity against the
    corpus' own statistics — one rung up from unigram_surprisal toward
    the CCNet/DCLM KenLM filter, still fully deterministic:
    ``p(w|prev) = 0.7 * c(prev,w)/c(prev) + (1-0.7) * c(w)/T``
    with the bigram table truncated to the top 4000 bigrams, the
    unigram vocabulary to the top 1000 (both (count DESC, key ASC) at
    the boundary), and OOV unigrams smoothed to a count of 0.5.
    Returns (id, n_bigrams, ppl = exp(-mean ln p)), ppl rounded 6 dp;
    documents with <2 tokens (or NULL/blank text) emit no row.

    Scale shape: the stats passes are partial-aggregated count
    reduces whose top-k heads are TakeOrderedAndProject; scoring
    re-explodes bigrams and LEFT-joins three BROADCAST tables (top
    bigrams, vocabulary twice — context and word) plus the 1-row
    total, then one per-document aggregation — the corpus text never
    shuffles, and every join ships only the k-row tables. Bigram keys
    reuse word_grams_expr(k=2) ('prev w' strings; whitespace tokens
    cannot contain spaces, so substring_index splits are exact)."""
    from webxtract.textops import tokens_expr, word_grams_expr

    base = df.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
    tok = base.select(F.explode(tokens_expr(F.col("t"))).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("tt"))
    vocab = uni.orderBy(F.col("c").desc(), "w").limit(1000)
    bg = base.select(
        "id", F.explode(word_grams_expr(F.col("t"), 2)).alias("g")
    )
    bigtop = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cb"))
        .orderBy(F.col("cb").desc(), "g")
        .limit(4000)
    )
    split = bg.select(
        "id",
        "g",
        F.substring_index("g", " ", 1).alias("prev"),
        F.substring_index("g", " ", -1).alias("w"),
    )
    joined = (
        split.join(F.broadcast(bigtop), "g", "left")
        .join(
            F.broadcast(
                vocab.select(F.col("w").alias("prev"), F.col("c").alias("cp"))
            ),
            "prev",
            "left",
        )
        .join(
            F.broadcast(vocab.select("w", F.col("c").alias("cw"))),
            "w",
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    p = F.lit(0.7) * F.coalesce(
        F.col("cb").cast("double") / F.col("cp").cast("double"), F.lit(0.0)
    ) + F.lit(1.0 - 0.7) * (
        F.coalesce(F.col("cw").cast("double"), F.lit(0.5))
        / F.col("tt").cast("double")
    )
    return (
        joined.select("id", F.log(p).alias("lp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
        )
    )


def stratified_keep(
    df: DataFrame,
    value: Column,
    frac: float,
    strata_col: str = "lang",
    mode: str = "rank",
) -> DataFrame:
    """Keep the top ``frac`` of documents per stratum by ``value`` —
    relative (percentile) thresholding applied WITHIN each group, the
    FineWeb/CCNet move of filtering per language/dump so a
    high-resource stratum's score distribution never sets the bar for
    a low-resource one. A document survives when its within-stratum
    percent_rank >= 1 - frac; every member of a tied value class
    shares the class's MINIMUM rank (percent_rank semantics), so a
    value class straddling the cutoff is dropped together — achieved
    keep rate is UNDER ``frac`` by up to one value class, and the
    degenerate all-one-value (or singleton) stratum, where every row
    has percent_rank 0, keeps nothing for frac < 1. Deterministic,
    and identical in both engines (the oracle uses the same SQL
    percent_rank); callers that must retain at least the top value
    class of tiny strata should floor ``frac`` accordingly or use
    ``mode="cume"``.

    ``mode="cume"`` switches the keep rule to ``cume_dist() >=
    1 - frac`` (ties share the class's MAXIMUM rank): a value class
    straddling the cutoff is KEPT together — over-admission by up to
    one value class — and the degenerate uniform or singleton stratum
    keeps everything (cume_dist is 1.0 for the top class), matching
    the low-resource-language motivation where a tiny stratum must
    never be wiped. Output column is ``cume_dist``.

    Scale shape: same histogram trick as value_percentiles — the
    ordered window runs over the per-stratum VALUE HISTOGRAM
    (groupBy(strata, value), partial-aggregated), so window input is
    bounded by value cardinality per stratum, never corpus rows; the
    per-stratum doc counts ride in a second tiny aggregate and both
    join back BROADCAST. percent_rank here is exactly SQL's
    ``percent_rank() OVER (PARTITION BY strata ORDER BY value)``;
    in cume mode the cumulative sum simply includes the current value
    class (frame upper bound 0, divide by n) — exactly SQL's
    ``cume_dist()`` — so the histogram scale shape is identical."""
    from pyspark.sql import Window

    if mode not in ("rank", "cume"):
        raise ValueError(f"stratified_keep mode must be rank|cume, got {mode!r}")
    cume = mode == "cume"
    rank_col = "cume_dist" if cume else "pct_rank"
    v = value.alias("__v")
    base = df.select(F.col("doc_id"), F.col(strata_col).alias("__s"), v).where(
        F.col("__v").isNotNull() & F.col("__s").isNotNull()
    )
    hist = base.groupBy("__s", "__v").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy("__s")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0 if cume else -1)
    )
    ranked = hist.select(
        "__s",
        "__v",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__below"),
    )
    n = base.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    if cume:
        rank_expr = F.col("__below").cast("double") / F.col("__n").cast("double")
    else:
        rank_expr = F.when(
            F.col("__n") > 1,
            F.col("__below").cast("double")
            / (F.col("__n") - F.lit(1)).cast("double"),
        ).otherwise(F.lit(0.0))
    ranked = ranked.join(F.broadcast(n), "__s").select(
        "__s",
        "__v",
        F.round(rank_expr, 9).alias(rank_col),
    )
    return (
        base.join(F.broadcast(ranked), ["__s", "__v"])
        .where(F.col(rank_col) >= F.lit(1.0 - frac))
        .select(
            "doc_id",
            F.col("__s").alias(strata_col),
            F.col("__v").alias("value"),
            rank_col,
        )
    )


def classifier_weights(n_buckets: int = 64) -> list[float]:
    """Deterministic stand-in weight table for the hashed linear
    classifier: w[j] = ((37*j mod n) - (n/2 - 0.5)) / n. Every term is
    a small integer or a power-of-two-denominator rational, so the
    doubles are EXACT and identical however each engine computes them
    (the k-means/LSH lesson: closed-form literals, never RNG). A real
    deployment swaps in trained fastText/logistic weights — the
    serving kernel (classifier_scores_frame) is identical either way."""
    return [
        ((37 * j) % n_buckets - (n_buckets / 2 - 0.5)) / n_buckets
        for j in range(n_buckets)
    ]


def shard_assign(df: DataFrame, n_shards: int) -> DataFrame:
    """Deterministic global-shuffle shard assignment — the last step
    before a training-data writer: every document gets ``(shard, pos,
    tok_offset)`` where shard = md5-60(id) mod n_shards, ``pos`` is
    the document's 1-based position within its shard under the
    pseudo-random (hash, id) order, and ``tok_offset`` is the
    EXCLUSIVE prefix-sum of whitespace-token counts before it — the
    manifest a pack-and-write task needs to serialize its shard and
    to address any document inside it. Content-independent hashing of
    the id gives the standard "shuffled once, deterministically"
    training order: reproducible across runs and partitionings, no
    RNG, and documents from one host scatter across shards.

    Scale shape: one hash projection, then ONE window per shard
    partitioned on the shard key. A shard's rows deliberately land in
    a single window partition — the shard IS the unit one writer task
    must serialize in order anyway, so ``n_shards`` is chosen as
    corpus_tokens / shard_token_budget (10^4-10^6 shards at 100 TB,
    each task-sized); the window adds nothing beyond the sort the
    writer needs. Payload through the exchange is (id, shard, hash,
    n_tokens) — the text column never shuffles."""
    from pyspark.sql import Window

    from webxtract.textops import stable_hash60_expr, token_count_expr

    h = stable_hash60_expr(F.col("doc_id").cast("string"))
    base = df.select(
        F.col("doc_id").alias("id"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        h.alias("__h"),
        token_count_expr(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("__h", "id")
    return base.select(
        "id",
        "shard",
        F.row_number().over(w).alias("pos"),
        "n_tokens",
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("tok_offset"),
    )
