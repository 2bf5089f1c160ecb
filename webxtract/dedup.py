"""Deduplication operators for web-scale training-data pipelines.

Five strategies, all shuffle-conscious:

- exact:   md5(text) groupBy — one shuffle on the hash, map-side
           partial aggregation for free.
- minhash: word-shingles -> K minhashes (a*h+b mod P permutations over
           a 60-bit md5-derived shingle hash) -> B bands; candidate
           pairs join only inside (band, band_hash) buckets (classic
           MinHash-LSH), so the join is band-bucket-local instead of
           all-pairs.
- simhash: 32-bit sign-of-weighted-bit-sums fingerprint computed in ONE
           aggregate pass (per-token hash once, 32 bit-slots
           accumulated via zip_with) — near-dups = equal fingerprints.
- ngram-jaccard: exact Jaccard over word shingles for candidate pairs,
           with a document-frequency cap on posting lists so a hot
           shingle cannot go quadratic.
- embedding cosine near-dup: see webxtract.similarity.

Ordering contract for the pair generators' hot-bucket cap
(``MAX_BUCKET_SIZE``): run EXACT dedup first. A cluster of >cap
byte-identical documents (common boilerplate at crawl scale) saturates
its LSH bucket and the cap drops it from candidate generation — by
design, because all-pairs inside it is quadratic poison — but
exact_dedup collapses identical texts with a linear hash-groupBy, so
after that pass the cap only ever suppresses degenerate NEAR-duplicate
clusters, where the boilerplate argument applies.

Hashing is ENGINE-NEUTRAL *and* JVM-fast: every shingle/token hash is
the low 60 bits of md5 (one native call — Spark
``conv(substr(md5(s),1,15),16,10)``, DuckDB
``('0x' || substr(md5(s),1,15))::BIGINT``), reduced mod P = 2^31-1
where a permutation needs a bounded domain. Round 1 used a
per-character interpreted polynomial hash for oracle-neutrality; it
cost 42 ms/doc (212.7s for 5k docs). md5 keeps the DuckDB oracles exact
without per-character lambdas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract.kernels import doc_rows, md5_60, ws_split
from webxtract.textops import FINGERPRINT_MOD, stable_hash60_expr, word_shingles_expr

# (a, b) parameters for the K minhash permutations h_i(x) = (a*x+b) mod P.
# Fixed small primes — deterministic across engines. x < P = 2^31-1 and
# a ~ 10^6 keep a*x+b < 2^52: no 64-bit overflow in either engine.
MINHASH_PARAMS = [
    (1_000_003, 12_345), (999_983, 54_321), (1_000_033, 7_777),
    (1_000_037, 1_234_567), (1_000_039, 999), (1_000_081, 31_337),
    (1_000_099, 8_675_309), (1_000_117, 42), (1_000_121, 2_718_281),
    (1_000_133, 3_141_592), (1_000_151, 1_618_033), (1_000_159, 1_414_213),
]
MINHASH_K = len(MINHASH_PARAMS)
MINHASH_BANDS = 4  # 4 bands x 3 rows

SIMHASH_BITS = 32

# Pair generators drop a band-bucket holding more documents than this
# before their quadratic self-join or collect (module docstring).
MAX_BUCKET_SIZE = 1000


def shingle_hashes_expr(text: Column, k: int = 2) -> Column:
    """Distinct word-shingle hashes (bigint array, values in [0, 2^31-1))."""
    return F.array_distinct(
        F.transform(
            word_shingles_expr(text, k),
            lambda s: stable_hash60_expr(s) % FINGERPRINT_MOD,
        )
    )


def simhash_expr(text: Column) -> Column:
    """SimHash: per-token 60-bit hash (low ``SIMHASH_BITS`` used), one aggregate
    pass accumulating a per-bit +/-1 slot array, sign -> bit.

    Round-1 shape was 32 separate aggregate passes, each re-splitting
    the text and re-hashing every token per character; this is one
    tokenize + one hash per token + one pass."""
    tok_hashes = F.transform(
        F.split(F.trim(text), r"\s+"), lambda t: stable_hash60_expr(t)
    )
    pow2 = F.array(*[F.lit(2 ** b).cast("bigint") for b in range(SIMHASH_BITS)])
    sums = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums, pow2, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup groups: md5(text) -> (keep lowest id, dup count).
    Single shuffle on the 128-bit hash (never on the text payload)."""
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_incremental(df: DataFrame, seen: DataFrame) -> DataFrame:
    """Cross-run incremental exact dedup — the resumable-curation
    primitive: a periodic crawl increment is deduplicated against the
    fingerprint table committed by all PRIOR runs (anti-join on the
    md5), then keep-first within the increment itself. Returns
    (text_hash, keep_id, dup_count): exactly the rows whose hashes the
    caller appends to the fingerprint table for the next run — dedup
    state is a plain, idempotently-appendable table, never driver or
    executor memory.

    Scale shape: both the anti-join and the keep-first aggregation
    hash-partition on the 128-bit md5; the seen side ships ONLY its
    hash column (Catalyst prunes the rest) and the increment side ships
    (hash, id) pairs — text never shuffles. No broadcast assumption: a
    years-deep fingerprint table is large, so the anti-join is allowed
    to stay a shuffled join (AQE still broadcasts a small seen side)
    instead of OOMing on a forced build."""
    inc = df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
    fresh = inc.join(seen.select("text_hash"), "text_hash", "left_anti")
    return fresh.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (a < b) with exact Jaccard
    verification of band-bucket candidates.

    Scale shape: explode to (band, band_hash) keys -> shuffle on the
    bucket key only -> self-join inside buckets (tiny groups) -> exact
    verify. No all-pairs shuffle; skewed buckets are split by AQE.
    Band-buckets holding more than ``MAX_BUCKET_SIZE`` docs drop before
    the self-join: a bucket that large is a boilerplate/near-constant
    signature cluster, and all-pairs inside it is quadratic poison at
    10^12 docs.

    The input is hash-repartitioned on the id first: signature hashing
    is the CPU-heavy stage and must use every core even when the scan
    produced few splits (a filtered slice of one parquet file lands in
    one partition otherwise); at production scale the scan already
    yields thousands of splits and this exchange is a no-op cost-wise
    (it moves raw text once, before any per-candidate amplification).
    """
    df = df.repartition(F.col("doc_id"))
    sh = df.select(
        F.col("doc_id").alias("id"),
        shingle_hashes_expr(F.col("text")).alias("shingles"),
    )
    # Signatures via explode + codegen'd min-aggregation instead of
    # 12 interpreted array passes: each permutation is plain JVM
    # arithmetic inside whole-stage codegen, the groupBy gets map-side
    # partial aggregation for free, and the plan tree stays tiny (the
    # HOF formulation's large tree made Catalyst re-optimization itself
    # a per-query cost).
    posting = sh.select("id", F.explode("shingles").alias("h"))
    P = FINGERPRINT_MOD
    mins = posting.groupBy("id").agg(
        *[
            F.min((F.col("h") * a + b) % P).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_cols = []
    for bnd in range(MINHASH_BANDS):
        acc = F.lit(0).cast("bigint")
        for r in range(rows_per_band):
            acc = (acc * 1_000_003 + F.col(f"m{bnd * rows_per_band + r}")) % P
        band_cols.append(acc)
    sigs = mins.select("id", F.array(*band_cols).alias("bands"))

    # candidate generation carries ONLY (id, band, band_hash) through the
    # bucket shuffle — the shingle payloads are joined back after the
    # (a, b) pair set is deduplicated, so the wide arrays cross the wire
    # once per doc, not once per candidate pair.
    buckets = sigs.select(
        "id", F.posexplode("bands").alias("band", "band_hash")
    )
    # window count over the self-join's own shuffle key — cap for
    # free (exchange reuse), no extra agg+join branches
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_hash")
    buckets = (
        buckets.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") <= MAX_BUCKET_SIZE)
        .drop("__n")
    )
    cand = (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    joined = (
        cand.join(sh.withColumnRenamed("id", "a").withColumnRenamed("shingles", "sa"), "a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("shingles", "sb"), "b")
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    return (
        joined.select(
            "a",
            "b",
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _band_vals_expr(sh: Column, max_hamming: int) -> Column:
    """The ``max_hamming + 1`` bit-bands of a simhash as an array —
    any pair within the hamming budget agrees exactly on at least one
    band (pigeonhole), so equal band values are a 100%-recall candidate
    key. Shared by the batch pair generator and the incremental/
    streaming near-dedup."""
    n_bands = max_hamming + 1
    base = SIMHASH_BITS // n_bands
    sizes = [base + (1 if i < SIMHASH_BITS % n_bands else 0) for i in range(n_bands)]
    offs = [sum(sizes[:i]) for i in range(n_bands)]
    return F.array(
        *[
            F.shiftright(sh, offs[i]).bitwiseAND(F.lit((1 << sizes[i]) - 1))
            for i in range(n_bands)
        ]
    )


def simhash_near_dup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs (a < b, hamming distance <=
    ``max_hamming``) via the standard bit-band trick: split the
    fingerprint into ``max_hamming + 1`` bands — any pair within the
    distance budget must agree EXACTLY on at least one band
    (pigeonhole), so candidates are same-(band, band_value) pairs and
    the exact ``bit_count(xor)`` verify gives 100% recall at the
    threshold.

    Scale shape: the posting rows carry (id, simhash, band, band_value)
    — one bigint of payload, no text — so the bucket shuffle is as
    cheap as the key itself; ``MAX_BUCKET_SIZE`` drops
    degenerate bands (e.g. the all-zeros band of near-empty documents)
    before the quadratic self-join, same contract as the other pair
    generators."""
    from pyspark.sql import Window

    sh = df.select(F.col("doc_id").alias("id"), simhash_expr(F.col("text")).alias("sh"))
    posting = sh.select(
        "id", "sh",
        F.posexplode(_band_vals_expr(F.col("sh"), max_hamming)).alias("band", "bval"),
    )
    w = Window.partitionBy("band", "bval")
    posting = (
        posting.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") <= MAX_BUCKET_SIZE)
        .drop("__n")
    )
    cand = (
        posting.alias("l")
        .join(
            posting.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.col("l.sh").alias("sha"),
            F.col("r.sh").alias("shb"),
        )
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return cand.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def near_dedup_increment(
    df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Cross-run incremental NEAR-dedup — the hamming<=``max_hamming``
    twin of ``dedup_incremental``: a crawl increment is cleaned against
    the simhash fingerprint table (column ``sh``) committed by all
    prior runs, and near-dups WITHIN the increment are suppressed
    keep-smallest-id — a doc is dropped iff some bucket-mate within the
    hamming budget is a committed fingerprint or a smaller-id increment
    doc. Greedy, so a chain a~b~c with a!~c drops both b and c where
    sequential processing would keep c; documented over-drop, the safe
    direction for train-data hygiene, and increments are small next to
    history. Returns surviving
    (id, simhash) rows — exactly the fingerprints the caller appends
    for the next run. NULL-text docs carry a NULL simhash: they always
    survive (their NULL band values never equi-join) and callers must
    not fingerprint them.

    Scale shape — bucket-local, join-free candidate generation: inc
    and seen postings (band, bval, sh, id?) union into ONE frame — two
    bigints a row, never text — and ONE hash shuffle on (band, bval)
    serves both the window bucket-cap and the groupBy that collects
    each bucket's members (the agg reuses the window's partitioning:
    no second exchange). The hamming verify runs as array HOFs INSIDE
    the bucket — no candidate self-join at all — and only dropped ids
    leave the stage, so the follow-up anti-join against the increment
    ships ids, nothing else. The first candidate-join draft of this
    function re-derived the increment subtree per join (9 scans / 22
    exchanges in the initial plan); this shape scans the increment
    twice (postings + final anti-join) with ~4 exchanges. Per-bucket
    member arrays are bounded by the cap BEFORE collection
    (collect_list skips the NULLed-out over-cap structs), so a
    degenerate band can never materialize an unbounded array; capped
    buckets generate no candidates but their docs still survive via
    the anti-join (same contract as the pair generators, module
    docstring). The seen side is never assumed broadcastable (years of
    fingerprints) and never joins — it only shuffles its postings."""
    from pyspark.sql import Window

    inc = df.select(F.col(id_col).alias("id"), simhash_expr(F.col(text_col)).alias("sh"))
    null_id = F.lit(None).cast(inc.schema["id"].dataType)

    def postings(frame: DataFrame, is_seen: bool) -> DataFrame:
        return frame.select(
            (F.col("id") if not is_seen else null_id).alias("id"),
            "sh",
            F.lit(is_seen).alias("is_seen"),
            F.posexplode(_band_vals_expr(F.col("sh"), max_hamming)).alias("band", "bval"),
        )

    u = postings(inc.filter(F.col("sh").isNotNull()), False).unionByName(
        postings(
            seen.select(F.col("sh")).filter(F.col("sh").isNotNull()).distinct(),
            True,
        )
    )
    member = F.struct("id", "sh", "is_seen")
    w = Window.partitionBy("band", "bval")
    member = F.when(
        F.count(F.lit(1)).over(w) <= MAX_BUCKET_SIZE, member
    )  # otherwise NULL -> collect_list drops it: over-cap buckets go inert
    buckets = (
        u.select("band", "bval", member.alias("m"))
        .groupBy("band", "bval")
        .agg(F.collect_list("m").alias("ms"))
    )
    # a doc is dropped iff some bucket-mate within the hamming budget is
    # a committed fingerprint OR a smaller-id increment doc
    dropped = buckets.select(
        F.explode(
            F.filter(
                F.col("ms"),
                lambda m: ~m["is_seen"]
                & F.exists(
                    F.col("ms"),
                    lambda x: (
                        F.bit_count(x["sh"].bitwiseXOR(m["sh"])) <= max_hamming
                    )
                    & (x["is_seen"] | (x["id"] < m["id"])),
                ),
            )
        ).alias("d")
    ).select(F.col("d.id").alias("id")).distinct()
    return inc.join(dropped, "id", "left_anti").select(
        F.col("id").alias(id_col), F.col("sh").alias("simhash")
    )


def _min_root_batches(batches):  # noqa: ANN001, ANN202
    """One connected-components round over ONE partition of ``(lo, hi,
    nul)`` edges: ``(id, root)`` for every vertex of the partition, root
    = the minimum id of the vertex's component among this partition's
    edges. Rows with a NULL ``lo`` carry no edge; ``nul`` marks a pair
    that had a NULL end, which yields the one ``(NULL, NULL)`` row.

    The ids are factorised with ``np.unique`` (sorted, so index order
    is id order: Spark's ``min`` for numbers, and for binary ids the
    unsigned byte order Spark uses for strings), then a vectorised
    hook-and-compress union-find runs over the index pairs: every root
    hooks to the smallest root across its edges (``np.minimum.at``),
    then every label jumps to its root (``lab = lab[lab]`` until it
    stops changing); repeat until no edge joins two roots. A label never
    points at a larger index, so the component minimum is every
    member's root."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    lo, hi = t.column("lo"), t.column("hi")
    has_edge = pc.is_valid(lo)
    lo = lo.filter(has_edge).to_numpy()
    ids, inv = np.unique(
        np.concatenate([lo, hi.filter(has_edge).to_numpy()]), return_inverse=True
    )
    u, v = inv[: len(lo)], inv[len(lo) :]
    lab = np.arange(len(ids))
    while True:
        lu, lv = lab[u], lab[v]
        hooked = lab.copy()
        np.minimum.at(hooked, lu, lv)
        np.minimum.at(hooked, lv, lu)
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, lab):
            break
        lab = hooked
    id_type = t.schema.field("lo").type
    out_id, out_root = ids, ids[lab]
    if pc.any(t.column("nul")).as_py():
        out_id = np.append(out_id, None)
        out_root = np.append(out_root, None)
    yield pa.RecordBatch.from_arrays(
        [pa.array(out_id, id_type), pa.array(out_root, id_type)],
        ["id", "root"],
    )


def _min_root_round(edges: DataFrame) -> DataFrame:
    """One round of dedup_components over ``(lo, hi, nul)`` edges:
    ``(id, label, roots)`` — every local root of each vertex, and the
    smallest as its label. One exchange feeds the kernel (the
    deduplication reuses the ``lo`` partitioning) and one the
    aggregation."""
    from pyspark.sql.types import StructField, StructType

    kt = edges.schema["lo"].dataType
    return (
        edges.repartition("lo")
        .distinct()
        .mapInArrow(
            _min_root_batches,
            StructType([StructField("id", kt), StructField("root", kt)]),
        )
        .groupBy("id")
        .agg(F.min("root").alias("label"), F.collect_set("root").alias("roots"))
    )


def dedup_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Connected components over a near-duplicate pair list: (id,
    component) where component is the minimum id reachable through
    the pair graph — the standard "cluster near-dups, keep one
    canonical doc per cluster" step after any pair generator. Ids are
    integers or strings; strings compare by their UTF-8 bytes, which
    is code-point order, as Spark's ``min`` does.

    Algorithm: rounds of a min-root kernel (Kiveris et al., SoCC 2014).
    Each pair is normalised to ``(lo, hi)`` with least/greatest. A
    round (``_min_root_round``) repartitions the edges on ``lo`` with
    no partition count, so AQE sizes the partitions; one NumPy
    union-find per partition (``_min_root_batches``) gives each vertex
    its local root; ``groupBy("id")`` makes the smallest root the
    vertex's label and turns each other root r into a contracted edge
    ``(label, r)``, the next round's input. When no contracted edge is
    left, the rounds' labels are composed with one left join per round.
    A pair list AQE coalesces into one partition (the curate input)
    finishes in one round.

    Termination needs no cap. A local root r is the minimum of its
    local component, so it is the ``lo`` of its edges there, and all
    edges with ``lo = r`` share one partition: each vertex is a root in
    at most one partition, and the largest vertex of a component with
    an edge is never a root. Counting (vertex, partition) incidences,
    each round's contracted edge list is strictly shorter than its
    input.

    Each round is four Spark jobs under AQE: the two shuffle stages
    and the count of contracted edges (map and result stage). That
    count also fills the round's lazy localCheckpoint, which the next
    round and the final joins read instead of the lineage. Nothing is
    collected to the driver.

    ``mapInArrow``, not ``mapInPandas``: a NULL end must reach the
    kernel as NULL, and pandas turns a nullable bigint column into
    float64, which corrupts ids above 2**53. String ids cross the
    kernel as binary, so bytes that are not valid UTF-8 (a
    binary->string cast does not check) are never decoded.

    NULL connects nothing: a pair ``(x, NULL)`` gives ``x`` no
    neighbour and adds one ``(NULL, NULL)`` row; a self-pair ``(x,
    x)`` labels ``x`` with itself. Only vertices that appear in
    ``pairs`` are labeled (singletons are their own trivial component
    and never needed the shuffle)."""
    from pyspark.sql.types import StringType

    a, b = F.col(a_col), F.col(b_col)
    edges = pairs.select(
        F.least(a, b).alias("lo"),  # least/greatest skip a NULL end
        F.greatest(a, b).alias("hi"),
        (a.isNull() | b.isNull()).alias("nul"),
    )
    id_type = edges.schema["lo"].dataType
    as_bytes = isinstance(id_type, StringType)
    if as_bytes:
        edges = edges.select(
            F.col("lo").cast("binary"), F.col("hi").cast("binary"), "nul"
        )
    rounds = []
    while True:
        step = _min_root_round(edges).localCheckpoint(eager=False)
        rounds.append(step.select("id", "label"))
        edges = step.select(
            F.col("label").alias("lo"),
            F.explode(F.array_remove("roots", F.col("label"))).alias("hi"),
            F.lit(False).alias("nul"),
        )
        # the full count computes every partition of the lazy checkpoint
        # (persisting the round) in the round's one result job
        if edges.count() == 0:
            break
    comp = rounds.pop()
    for step in reversed(rounds):
        comp = step.join(
            comp.select(F.col("id").alias("label"), F.col("label").alias("__root")),
            "label",
            "left",
        ).select("id", F.coalesce("__root", "label").alias("label"))
    out = comp.select("id", F.col("label").alias("component"))
    if as_bytes:
        out = out.select(
            F.col("id").cast("string"), F.col("component").cast("string")
        )
    return out


# ------------------------------------------------- substring-level dedup


def chunk_spans(
    text: str | None, boundary_mod: int = 16
) -> list[tuple[int, int, str]]:
    """Content-defined chunking of whitespace tokens: ``[(idx, n_tok,
    chunk)]`` with 1-based ``idx`` and the chunk's tokens joined by
    single spaces.

    Tokens are ``kernels.ws_split`` of the text. A chunk boundary
    falls AFTER token *i* whenever ``kernels.md5_60(token_i) %
    boundary_mod == 0`` — boundaries depend only on local
    content, never on position, so a passage duplicated across
    documents (or at a different offset in the same document)
    produces byte-identical interior chunks. This is the
    position-independence trick that lets substring-level dedup (the
    "train-data repeated-passage" problem, Lee et al. 2022's suffix-
    array dedup) run as a hash-groupBy instead of a suffix array:
    fixed-stride windows would misalign across documents, content-
    defined boundaries cannot. Expected chunk length ~= boundary_mod
    tokens; edge chunks of a shared passage differ (documented recall
    loss vs exact maximal-repeat detection). NULL, empty and
    space-only text yield no chunks.

    Runs inside the chunk kernels (``_chunk_meta_frame``,
    ``dedup_chunks``, ``doc_containment``), one md5 per token."""
    toks = ws_split(text)
    if toks == [""]:
        return []
    n = len(toks)
    starts, ends = [1], []
    for i in range(1, n):
        if md5_60(toks[i - 1]) % boundary_mod == 0:
            ends.append(i)
            starts.append(i + 1)
    ends.append(n)
    return [
        (j + 1, e - s + 1, " ".join(toks[s - 1 : e]))
        for j, (s, e) in enumerate(zip(starts, ends))
    ]


def _chunk_meta_frame(docs: DataFrame, boundary_mod: int) -> DataFrame:
    """(id, idx, n_tok, chunk_hash) — one row per ``chunk_spans`` chunk,
    with chunk_hash = ``kernels.md5_60`` of the chunk text: the chunk
    META rows duplicate_chunks and dedup_chunks start from, produced by
    ONE mapInArrow pass (``kernels.doc_rows``; ~2 executor-CPU core-s per
    chunk query at sf1.0, against 25-40 core-s for the interpreted
    chunker + explode + per-chunk md5 expression this replaced). Chunk
    text never leaves the task; only (id, idx, n_tok, hash) rows come
    back, so no exchange downstream carries text. NULL, empty and
    space-only documents emit no rows."""
    from pyspark.sql.types import IntegerType, LongType, StructField

    def rows_of(t):  # noqa: ANN001, ANN202
        return [
            (j, ntok, md5_60(chunk))
            for j, ntok, chunk in chunk_spans(t, boundary_mod)
        ]

    fields = [
        StructField("idx", IntegerType(), True),
        StructField("n_tok", IntegerType(), True),
        StructField("chunk_hash", LongType(), True),
    ]
    docs = docs.select(F.col("doc_id").alias("id"), "text")
    return doc_rows(docs, ["id"], ["text"], fields, lambda: rows_of)


def duplicate_chunks(
    docs: DataFrame,
    boundary_mod: int = 16,
    min_dup_tokens: int = 8,
) -> DataFrame:
    """Duplicated-passage candidates: (chunk_hash, n_tok, n_occurrences,
    n_docs) for every content-defined chunk of >= ``min_dup_tokens``
    tokens that occurs more than once corpus-wide. The short-chunk
    floor keeps trivial fragments ("the end") out of the dup set.

    Scale: one kernel pass to (id, idx, n_tok, hash) — the chunk TEXT
    never leaves its partition; the only shuffle carries the 60-bit
    hash plus two ints, with map-side partial aggregation. No pair join anywhere,
    so a million-fold-duplicated boilerplate chunk costs one group, not
    a quadratic bucket."""
    ch = _chunk_meta_frame(docs, boundary_mod)
    return (
        ch.filter(F.col("n_tok") >= min_dup_tokens)
        .groupBy("chunk_hash")
        .agg(
            F.first("n_tok").alias("n_tok"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


def dedup_chunks(
    docs: DataFrame,
    boundary_mod: int = 16,
    min_dup_tokens: int = 8,
) -> DataFrame:
    """Substring-level dedup rewrite: every repeated passage keeps its
    FIRST occurrence (global (id, idx) order) and is dropped everywhere
    else; chunks under ``min_dup_tokens`` tokens are never dropped.
    Returns (id, clean_text, n_chunks, n_dropped).

    Plan shape (the 100-TB profile, same discipline as
    remove_boilerplate): two scans of ``docs``. Scan 1 derives
    (id, idx, hash) meta only — full text never shuffles — and a
    window over chunk_hash ranks occurrences; rows ranked >1 become the
    per-document drop lists (tiny: only documents that lose a chunk).
    Scan 2 joins the drop lists back by id (broadcast-eligible,
    unforced — AQE degrades to shuffle join instead of OOM when the
    corpus is pathologically duplicated) and rebuilds the text in one
    mapInArrow kernel (``kernels.doc_rows``) over the same ``chunk_spans``
    chunking. The rewrite itself is exchange-free."""
    from pyspark.sql.types import IntegerType, StringType, StructField
    from pyspark.sql.window import Window

    ch = _chunk_meta_frame(docs, boundary_mod)
    w = Window.partitionBy("chunk_hash").orderBy("id", "idx")
    drops = (
        ch.filter(F.col("n_tok") >= min_dup_tokens)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .groupBy("id")
        .agg(F.collect_list("idx").alias("drop_idx"))
    )
    # unforced join, as before: AQE broadcasts the (small) drop list at
    # runtime but degrades to a shuffle join instead of OOMing on a
    # pathologically duplicated corpus
    joined = docs.select(F.col("doc_id").alias("id"), "text").join(
        drops, "id", "left"
    )

    def rebuild(t, drop):  # noqa: ANN001, ANN202
        # the drop list filters the same deterministic chunking the
        # meta rows came from
        drop = drop or []
        dropset = set(drop)
        spans = chunk_spans(t, boundary_mod)
        clean = " ".join(c for j, _, c in spans if j not in dropset)
        return [(clean, len(spans), len(drop))]

    fields = [
        StructField("clean_text", StringType(), True),
        StructField("n_chunks", IntegerType(), True),
        StructField("n_dropped", IntegerType(), True),
    ]
    return doc_rows(joined, ["id"], ["text", "drop_idx"], fields, lambda: rebuild)


def dedup_keep_best(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster-representative selection — the step every fuzzy-dedup
    pipeline runs after its pair generator: resolve near-dup pairs to
    connected components, then keep exactly ONE member per cluster —
    the longest document by `length(text)` (ties break to the lowest
    id), the "keep best, not first" policy quality-aware pipelines use instead
    of arbitrary keep-first. Documents in no pair are their own
    singleton cluster and always keep themselves.

    Returns (id, component, keep, kept_id): `keep` marks the
    representative and `kept_id` points every dropped member at the doc
    that replaces it (the redirect map for provenance/audit).

    Scale shape: the components come from dedup_components' min-root
    kernel rounds — on a pair list AQE fits into one partition that is
    one round of four Spark jobs — and its (id, component) output is
    already materialised; the representative choice is one window over
    `component` whose rows are (id, length, component) only — the
    length is computed BEFORE the join so document text never shuffles. Cluster
    sizes are candidate-pair bounded (the upstream generators cap
    bucket fan-out), so the per-component window partition stays small
    by construction."""
    from pyspark.sql import Window

    comp = dedup_components(pairs)
    base = docs.select(F.col("doc_id").alias("id"), F.length("text").alias("__score"))
    j = base.join(comp, "id", "left").select(
        "id",
        "__score",
        F.coalesce("component", F.col("id")).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(F.desc("__score"), F.col("id"))
    ranked = j.select(
        "id",
        "component",
        F.row_number().over(w).alias("__rn"),
        F.first("id").over(w).alias("kept_id"),
    )
    return ranked.select(
        "id", "component", (F.col("__rn") == 1).alias("keep"), "kept_id"
    )


def doc_containment(
    docs: DataFrame,
    boundary_mod: int = 16,
    min_tok: int = 8,
    min_ratio: float = 0.8,
    min_chunks: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Asymmetric containment detection: ordered pairs ``(a, b,
    shared_chunks, n_chunks_a, containment)`` where a fraction >=
    ``min_ratio`` of document a's content-defined chunk SET also
    occurs in document b — catching quote-expansion pages, syndicated
    articles wrapped in new boilerplate, and superset re-posts that
    symmetric Jaccard misses (|A∩B|/|A∪B| stays low when B is much
    larger, |A∩B|/|A| does not).

    Chunking: the same content-defined boundaries as dedup_chunks
    (position-independent, so a passage embedded at any offset in b
    hashes identically); only chunks of >= ``min_tok`` tokens count,
    keeping trivial fragments out of both sets. Documents with <
    ``min_chunks`` qualifying chunks produce no a-side row (one edge
    chunk would dominate the ratio).

    Scale shape: chunk TEXT never leaves its partition — ONE kernel
    pass emits each document's DISTINCT qualifying chunk hashes plus
    its set size (within-doc dedup IS the global (id, hash) dedup, and
    the per-doc count is known locally, so neither needs a shuffle).
    The hashes group once by chunk_hash into bounded posting buckets
    — the ``max_df`` cap is exactly the bucket size, so the cap filter
    and the pair generation share that single exchange (the former
    posting SELF-join re-evaluated the chunking subtree per side) —
    and ordered pairs explode per bucket into the (a, b) count
    aggregation. Chunks occurring in > ``max_df`` documents are
    dropped BEFORE any pair exists (default-ON, the LSH bucket-cap
    contract: a boilerplate chunk shared by 10^6 pages must not become
    a 10^12-row bucket join); dropped hot chunks can only LOWER recall
    for pairs that were already near-identical elsewhere, never create
    false pairs.
    """
    from pyspark.sql.types import LongType, StructField

    def rows_of(t):  # noqa: ANN001, ANN202
        seen = {
            md5_60(chunk)
            for _j, ntok, chunk in chunk_spans(t, boundary_mod)
            if ntok >= min_tok
        }
        return [(h, len(seen)) for h in seen]

    fields = [
        StructField("chunk_hash", LongType(), True),
        StructField("n_chunks", LongType(), True),
    ]
    docs = docs.select(F.col("doc_id").alias("id"), "text")
    sets = doc_rows(docs, ["id"], ["text"], fields, lambda: rows_of)
    buckets = (
        sets.groupBy("chunk_hash")
        .agg(F.collect_list(F.struct("id", "n_chunks")).alias("m"))
        .filter(F.size("m") <= max_df)
    )
    pairs = (
        buckets.select(F.explode("m").alias("a"), "m")
        .select("a", F.explode("m").alias("b"))
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("a"),
            F.col("a.n_chunks").alias("n_chunks_a"),
            F.col("b.id").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
    )
    ratio = F.col("shared_chunks").cast("double") / F.col(
        "n_chunks_a"
    ).cast("double")
    return (
        pairs.filter(
            (F.col("n_chunks_a") >= min_chunks)
            & (ratio >= F.lit(float(min_ratio)))
        )
        .select(
            "a",
            "b",
            "shared_chunks",
            "n_chunks_a",
            F.round(ratio, 6).alias("containment"),
        )
    )
