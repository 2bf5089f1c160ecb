"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k against a broadcast query vector
  — the correctness baseline. The dot product is a string-built
  unrolled codegen expression (see dot_sql); top-k is a single
  `orderBy ... limit k` which Spark executes as TakeOrderedAndProject
  (per-partition heaps + driver merge, no full sort, no shuffle of
  the corpus).
- lsh_topk: random-hyperplane (signed-projection) bucketing — the scale
  path: candidates only from the query's bucket (and optional
  neighboring probes), then exact re-rank. At 10^12 vectors the
  bucket join touches ~1/2^H of the data.
- near_dup_pairs: embedding-cosine near-duplicate pairs via the same
  hyperplane buckets.

Vectors are cast float->double before arithmetic so results (and the
DuckDB oracle, which computes in float64 over the same float32 inputs,
same summation order) agree bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Column

# Deterministic pseudo-random hyperplanes: plane h, dim i weight =
# ((h*1009 + i*9176) % 2000)/1000 - 1  in [-1, 1).
N_PLANES = 8


def _plane_weight(h: int, i: int) -> float:
    return ((h * 1009 + i * 9176) % 2000) / 1000.0 - 1.0


# Corpus embedding dimensionality (embeddings.parquet; every oracle
# sums range(1, 65)). Fixed-dim lets the dot/norm kernels unroll.
EMBED_DIM = 64


def _elem(sql: str, i: int) -> str:
    # try_element_at: 1-based, NULL (never an ANSI throw) out of range
    return f"CAST(try_element_at({sql}, {i + 1}) AS DOUBLE)"


def dot_sql(a_sql: str, b, dim: int = EMBED_DIM) -> str:
    """In-order float64 dot product as ONE unrolled SQL string —
    codegen arithmetic with a single py4j/parse round trip.

    Three forms were measured at sf0.1 (2k-row brute-force scan):
    HOF lambdas 0.31s warm but interpreted (~1us/element — the wall
    for every operator that evaluates cosines per candidate PAIR);
    Column-object unrolling 1.2-2.4s warm (O(dim) py4j round trips
    per query, and F.get against a literal-array query clones the
    64-literal array into all 64 terms); this string form ~0.3s warm
    AND codegen — the same one-expression-string lesson as _proj_sql.
    Left-to-right + association reproduces the oracle's in-order
    list_sum exactly.

    ``b`` is either a SQL expression string (column form) or a
    list/tuple of floats (broadcast query form — literals are inlined
    via repr, which round-trips float64 exactly)."""
    if isinstance(b, (list, tuple)):
        terms = [
            f"{_elem(a_sql, i)} * CAST({float(b[i])!r} AS DOUBLE)"
            for i in range(dim)
        ]
    else:
        terms = [f"{_elem(a_sql, i)} * {_elem(b, i)}" for i in range(dim)]
    return "(" + " + ".join(terms) + ")"


def norm_sql(a_sql: str, dim: int = EMBED_DIM) -> str:
    return f"sqrt({dot_sql(a_sql, a_sql, dim)})"


def cosine_sql(a_sql: str, b, dim: int = EMBED_DIM) -> str:
    """round(dot/(norm*norm), 6) with the oracle's exact association.
    For a list-valued ``b`` the query norm is inlined as a Python
    float (same in-order float64 sum, exact repr round trip)."""
    if isinstance(b, (list, tuple)):
        qn = math.sqrt(_inorder_sumsq(b))
        nb = f"CAST({qn!r} AS DOUBLE)"
    else:
        nb = norm_sql(b, dim)
    return (
        f"round({dot_sql(a_sql, b, dim)}"
        f" / ({norm_sql(a_sql, dim)} * {nb}), 6)"
    )


def _inorder_sumsq(v) -> float:
    s = 0.0
    for x in v:
        s = s + float(x) * float(x)
    return s


def brute_force_topk(df: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k; ties broken by id for determinism. The
    cosine is the string-built unrolled kernel (see dot_sql): the
    whole-corpus scan is this operator's cost at 10^12 rows, and the
    unrolled form keeps it inside whole-stage codegen instead of
    interpreted lambda dispatch."""
    return (
        df.select(
            F.col("vec_id"),
            F.expr(cosine_sql("embedding", list(query), len(query))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(k)
    )


def _proj_sql(vec_sql: str, h: int, dim: int) -> str:
    """Signed projection as ONE SQL expression with the plane weights
    computed ARITHMETICALLY in-plan (same integer formula as
    _plane_weight, and as the DuckDB oracle) instead of literal
    arrays. Two wins at once: building the Column is one py4j call
    instead of dim+1 per plane, and the plan carries ~20 expression
    nodes per plane instead of ``dim`` literal nodes — AQE re-optimizes
    the plan between stages, and tree walks over thousands of literals
    were the dominant cost of the near-dup queries (measured 16.6s
    build + slow replans -> sub-second)."""
    return (
        f"aggregate(zip_with({vec_sql}, sequence(0, {dim - 1}), "
        f"(x, i) -> CAST(x AS DOUBLE) * "
        f"((({h} * 1009 + i * 9176) % 2000) / 1000.0 - 1.0)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def bucket_expr(vec_sql: str, dim: int) -> Column:
    """Signed-random-projection bucket id (0..2^N_PLANES-1).
    ``vec_sql`` is the vector column's SQL name/expression."""
    terms = [
        f"IF({_proj_sql(vec_sql, h, dim)} >= 0, {2 ** h}, 0)"
        for h in range(N_PLANES)
    ]
    return F.expr(" + ".join(terms))


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k: restrict to the query's hyperplane bucket, then exact
    re-rank. Recall < 1 by construction; the scale path for 10^12 rows
    (bucket column is precomputable/persistable as a partition key).

    ``multiprobe=True`` additionally probes every Hamming-distance-1
    bucket (each single plane flipped): vectors near a hyperplane land
    on either side by a hair, so the 1-flip neighborhood recovers most
    of the single-probe recall loss for ~(N_PLANES+1)x the candidate
    volume — still a 2^N_PLANES/(N_PLANES+1) fraction of the corpus,
    and the probe set is a driver-side constant (no extra pass)."""
    dim = len(query)
    qbucket = sum(
        (2 ** h) if sum(_plane_weight(h, i) * query[i] for i in range(dim)) >= 0 else 0
        for h in range(N_PLANES)
    )
    probes = [qbucket]
    if multiprobe:
        probes += [qbucket ^ (1 << h) for h in range(N_PLANES)]
    return (
        df.withColumn("bucket", bucket_expr("embedding", dim))
        .filter(F.col("bucket").isin(probes))
        .select(
            F.col("vec_id"),
            F.expr(cosine_sql("embedding", list(query), dim)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(k)
    )


_PAIR_CHUNK = 200_000  # upper-triangle pairs verified per NumPy step


def _triu_chunks(n: int, chunk: int):  # noqa: ANN202
    """The upper-triangle pairs (i < j) of n rows in row-major order
    (``np.triu_indices(n, 1)``'s), as (i, j) index arrays over blocks
    of whole rows holding at most ``max(chunk, n - 1)`` pairs each, so
    the full triangle is never materialised."""
    import numpy as np

    step = max(1, chunk // max(1, n - 1))
    for r in range(0, n - 1, step):
        rows = np.arange(r, min(r + step, n - 1))
        lens = n - 1 - rows
        ci = np.repeat(rows, lens)
        start = np.repeat(np.cumsum(lens) - lens, lens)
        yield ci, np.arange(len(ci)) - start + ci + 1


def _matrix(vecs):  # noqa: ANN001, ANN202
    """An Arrow column of n equal-width vectors as an (n, width) float64 matrix."""
    import numpy as np

    rows = vecs.to_numpy(zero_copy_only=False)
    return np.stack(rows).astype(np.float64) if len(rows) else np.empty((0, 0))


def _cosine_pairs(ids, V, dim: int, thr: float, chunk: int = _PAIR_CHUNK):  # noqa: ANN001, ANN201
    """(a, b, cosine) NumPy arrays for the a < b pairs of one group's
    int64 ``ids`` and (n, dim) vectors ``V`` with cosine >= ``thr``:
    the pair verifier of near_dup_pairs and semantic_dedup_pairs. The
    dot and the norms accumulate in float64 left to right over
    dimensions, vectorized across pairs, so each pair's sum has the
    DuckDB oracle's in-order association; cosine = dot / (na * nb).
    ``kernels.spark_round`` rounds only the pairs inside the 0.5e-6
    margin of the threshold (below it a raw cosine cannot round up to
    ``thr``). The triangle is walked in ``_triu_chunks``, so peak
    memory stays ~2 * chunk * dim * 8 B per task whatever the group
    size."""
    import numpy as np

    from webxtract.kernels import spark_round

    out_a, out_b, out_c = [], [], []
    n = len(ids)
    if n >= 2:
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.asarray(V, dtype=np.float64)[order]
        acc = V[:, 0] * V[:, 0]
        for i in range(1, dim):
            acc = acc + V[:, i] * V[:, i]
        nrm = np.sqrt(acc)
        for ci, cj in _triu_chunks(n, chunk):
            A, B = V[ci], V[cj]
            d = A[:, 0] * B[:, 0]
            for i in range(1, dim):
                d = d + A[:, i] * B[:, i]
            cos = d / (nrm[ci] * nrm[cj])
            m = cos >= thr - 5.000001e-7
            for a, b, c in zip(ids[ci[m]], ids[cj[m]], cos[m]):
                r = spark_round(c, 6)
                if r >= thr:
                    out_a.append(a)
                    out_b.append(b)
                    out_c.append(r)
    return (
        np.asarray(out_a, np.int64), np.asarray(out_b, np.int64), np.asarray(out_c, np.float64)
    )


_PAIR_SCHEMA = "a long, b long, cosine double"


def _pair_table(group, dim: int, thr: float):  # noqa: ANN001, ANN202
    """``_cosine_pairs`` over one group's Arrow (id, v) table, as an
    (a, b, cosine) Arrow table."""
    import pyarrow as pa

    pairs = _cosine_pairs(group.column("id").to_numpy(), _matrix(group.column("v")), dim, thr)
    return pa.table(list(pairs), names=["a", "b", "cosine"])


def _vectors(df: DataFrame) -> DataFrame:
    """(id long, v) of ``df``'s (vec_id, embedding) without the rows
    whose id or vector is NULL: such a row joins no pair, as in the
    oracles' ``l.vec_id < r.vec_id`` self-joins."""
    return df.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("v")
    ).where(F.col("id").isNotNull() & F.col("v").isNotNull())


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    planes_per_band: int = 16,
    n_bands: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH:
    per band, bucket by a ``planes_per_band``-bit signed-projection
    signature; candidates are pairs sharing ANY band's bucket; exact
    cosine verifies. A row whose id or vector is NULL joins no pair.

    Scale shape (round-6 form): 16 planes/band gives 65,536 buckets
    per band (vs 256), multiple bands restore recall, and
    ``max_bucket_size`` drops degenerate hot buckets outright (a
    bucket holding more vectors than the cap is a near-constant
    region; all-pairs inside it is quadratic poison at 10^12 rows, and
    its pairs are recoverable by raising the cap or adding planes).
    The cap is ON by default — at 10^12 rows hot buckets are a
    certainty, so unbounded generation is the explicit opt-in
    (``max_bucket_size=None``), not the default.

    Both the banding and the within-bucket verification run as
    vectorized NumPy kernels (the semantic_dedup_pairs lesson: the
    round-5 JVM form evaluated the 64-term unrolled cosine inside a
    self-join — past HotSpot's 8 KB JIT cap, hence interpreted — and
    the signed projections as interpreted HOF lambdas, ~2 ms/row at
    production width). Kernel A (``mapInArrow``) computes each
    vector's ``n_bands`` bucket ids (in-order float64 projections,
    exactly the oracle's association) and emits one (band, bucket, id,
    v) row per band — the vector ships n_bands times instead of being
    re-joined twice after pair dedup, a deliberate trade: both designs
    move O(n_bands x corpus) vector bytes once, this one without two
    join stages and a candidate shuffle. Kernel B (``applyInArrow``)
    receives one bucket's rows, applies the cap and verifies the a<b
    pairs with ``_cosine_pairs`` (exact in-order cosine, chunked over
    the upper triangle); survivors dedup on (a, b) across bands —
    band-identical values, so the kept row is well-defined."""
    planes = [
        [
            _plane_weight(band * planes_per_band + j, i)
            for i in range(dim)
        ]
        for band in range(n_bands)
        for j in range(planes_per_band)
    ]
    thr = float(threshold)
    cap = max_bucket_size

    def _bucketize(batches):  # noqa: ANN001, ANN202
        import numpy as np
        import pyarrow as pa

        W = np.asarray(planes, dtype=np.float64)  # (n_bands*P, dim)
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            V = _matrix(b.column(1))
            # in-order projection per plane: acc over dims, vectorized
            # across rows (same left-to-right association as _proj_sql)
            buckets = []
            for band in range(n_bands):
                bucket = np.zeros(n, dtype=np.int64)
                for j in range(planes_per_band):
                    w = W[band * planes_per_band + j]
                    acc = V[:, 0] * w[0]
                    for i in range(1, dim):
                        acc = acc + V[:, i] * w[i]
                    bucket += (acc >= 0).astype(np.int64) << j
                buckets.append(bucket)
            band = np.repeat(np.arange(n_bands, dtype=np.int32), n)
            rows = pa.array(np.tile(np.arange(n), n_bands))
            yield pa.RecordBatch.from_arrays(
                [pa.array(band), pa.array(np.concatenate(buckets)),
                 b.column(0).take(rows), b.column(1).take(rows)],
                ["band", "bucket", "id", "v"],
            )

    def _bucket_pairs(group):  # noqa: ANN001, ANN202
        if cap is not None and group.num_rows > cap:
            group = group.slice(0, 0)
        return _pair_table(group, dim, thr)

    vec_type = df.schema["embedding"].dataType.simpleString()
    posting = _vectors(df).mapInArrow(
        _bucketize, f"band int, bucket long, id long, v {vec_type}"
    )
    return (
        posting.groupBy("band", "bucket")
        .applyInArrow(_bucket_pairs, _PAIR_SCHEMA)
        .dropDuplicates(["a", "b"])
    )


def kmeans_assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One Lloyd assignment step — the embedding-clustering primitive
    behind semantic-dedup / SemDeDup-style curation (cluster the
    corpus, then prune within clusters): assign every vector to its
    nearest centroid by squared L2, ties to the lower centroid index.
    Returns (id, cluster, dist2) with dist2 rounded to 6 dp (the
    float64-stability contract shared with the DuckDB oracle).

    Scale shape: centroids ship as ONE array<array<double>> literal
    (a single py4j Literal, not k*dim Column objects — the round-3
    plane-weight lesson), so assignment is a pure narrow projection:
    no join, no shuffle, no Python; 10^12 vectors cost one map pass.
    The argmin is array_min over (dist2, index) structs — struct
    ordering gives lowest-distance-then-lowest-index exactly. The k
    seed vectors are fetched by the CALLER (a k-row collect, the same
    class as the 1-row query-vector fetch); full Lloyd iterations
    would alternate this map pass with a (cluster, dim)-keyed mean —
    the driver never touches corpus rows."""
    best = assign_expr(F.col("embedding"), centroids)
    return df.select(
        F.col("vec_id"),
        best["cluster"].alias("cluster"),
        best["dist2"].alias("dist2"),
    )


def assign_expr(v: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid struct (dist2, cluster) for one vector column —
    the kernel of kmeans_assign / kmeans_update. See kmeans_assign for
    the determinism and literal-shipping contract. Kept in the HOF
    literal form deliberately: at k=8 it benches 1.1s warm at sf0.1 —
    a string-built unrolled variant (8*64*2 inline literals) was
    measured SLOWER (kmeans_update 4-5.8s), because here the tree
    feeds a generator rewrite that re-walks it; the unrolled kernels
    win only where expressions are evaluated per candidate PAIR (see
    dot_sql). The literal grows as k*dim, so at k beyond ~16 assign in
    a kernel instead, as semantic_dedup_pairs does."""
    cent = F.lit([[float(x) for x in c] for c in centroids])
    scored = F.transform(
        cent,
        lambda c, j: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        v, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ),
                6,
            ).alias("dist2"),
            j.cast("long").alias("cluster"),
        ),
    )
    return F.array_min(scored)


def kmeans_update(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """The other half of a Lloyd iteration: per-cluster member count
    and the recomputed mean centroid (each dimension rounded 6 dp).
    Returns (cluster, n_members, centroid: array<double>); empty
    clusters simply emit no row (the caller re-seeds or drops them).

    Scale shape: assignment is the narrow assign_expr pass; the mean
    is a posexplode to (cluster, dim, value) followed by a
    groupBy(cluster, dim) average — k*dim groups total (e.g. 8*64 =
    512), so partial aggregation collapses every partition to <= k*dim
    rows before a tiny shuffle, then a second k-group reduce
    reassembles the arrays with sort_array over (dim, mean) structs.
    The driver never sees a corpus row; a full k-means run is this op
    + a k-row collect per iteration. Cross-engine float contract: the
    per-dimension mean is a float64 group sum (order-free after the
    6 dp round; members-per-cluster sums are exact integers)."""
    # two projections: mixing the struct-field access with a generator
    # in ONE select loses the lambda-struct's field names (Spark 4
    # renames them col1/col2 during the generator rewrite)
    a = df.select(
        assign_expr(F.col("embedding"), centroids)["cluster"].alias("cluster"),
        F.col("embedding").alias("__v"),
    ).select("cluster", F.posexplode("__v").alias("dim", "val"))
    per_dim = a.groupBy("cluster", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_dim.groupBy("cluster")
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.array_sort(
                F.collect_list(F.struct("dim", "m"))
            ).alias("__s"),
        )
        .select(
            "cluster",
            "n_members",
            F.transform(F.col("__s"), lambda s: s["m"]).alias("centroid"),
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means clusters
    as the blocking key, exact cosine only WITHIN a cluster, pairs with
    cosine >= threshold (a < b, cosine rounded 6 dp). A row whose id or
    vector is NULL joins no pair. Clustering turns the O(N^2) all-pairs
    cosine into O(sum |c|^2): at 10^12 documents the operator is run
    with k ~ N/target so each cluster holds ~1-10k vectors and the
    per-cluster quadratic runs inside one task; the shuffle ships each
    (cluster, id, vector) row exactly once.

    Assignment (round 6) runs in the SAME kernel family as the pair
    stage: a ``mapInArrow`` pass computes each vector's nearest
    centroid in NumPy — in-order float64 squared-L2 per (row,
    centroid), exact only-where-it-can-matter rounding (entries within
    1.5e-6 of the row minimum get the ``kernels.spark_round`` 6 dp
    round and the (dist2, cluster) lexicographic tie-break; a gap above
    1e-6 cannot be reordered by two sub-0.5e-6 rounds). This replaces the
    broadcast-nested-loop join + groupBy(id) argmin, whose unrolled
    128-term distance evaluated interpreted (HotSpot 8 KB JIT cap,
    ~19 CPU core-s at sf1.0) and whose argmin exchange shipped every
    vector once more.

    The pair stage is a per-cluster vectorized NumPy kernel
    (``applyInArrow``), not a JVM self-join. The round-5 self-join form
    evaluated one 64-term unrolled dot per candidate PAIR inside the
    SortMergeJoin condition; the generated method for that expression
    exceeds HotSpot's 8 KB JIT bytecode cap (DontCompileHugeMethods),
    so every pair ran in the bytecode interpreter at ~15 us/pair —
    measured 1000 CPU core-s / 238 s wall on 6.4M candidates at sf1.0
    (vs 24 s with codegen forced off via hugeMethodLimit, vs ~3 s
    here). NumPy does the same arithmetic two orders of magnitude
    faster, and only N rows cross the Python boundary — pairs are
    generated and filtered inside the worker, survivors only come
    back.

    The pair verifier is ``_cosine_pairs``, shared with near_dup_pairs:
    bit-exact against the DuckDB oracle, and chunked over the upper
    triangle so a large cluster never materialises all its pairs."""
    dim = len(centroids[0])
    cents = [[float(x) for x in c] for c in centroids]
    thr = float(threshold)

    def _assign(batches):  # noqa: ANN001, ANN202
        import numpy as np
        import pyarrow as pa

        from webxtract.kernels import spark_round

        C = np.asarray(cents, dtype=np.float64)  # (k, dim)
        k = len(C)
        for b in batches:
            if not b.num_rows:
                continue
            V = _matrix(b.column(1))
            n = len(V)
            D = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                diff0 = V[:, 0] - C[j, 0]
                acc = diff0 * diff0
                for i in range(1, dim):
                    d = V[:, i] - C[j, i]
                    acc = acc + d * d
                D[:, j] = acc
            raw_min = D.min(axis=1)
            clusters = np.empty(n, dtype=np.int64)
            for r in range(n):
                cand = np.nonzero(D[r] - raw_min[r] < 1.5e-6)[0]
                if len(cand) == 1:
                    clusters[r] = cand[0]
                else:
                    best = min((spark_round(D[r, j], 6), int(j)) for j in cand)
                    clusters[r] = best[1]
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(clusters)], ["id", "v", "cluster"]
            )

    def _cluster_pairs(group):  # noqa: ANN001, ANN202
        return _pair_table(group, dim, thr)

    vec_type = df.schema["embedding"].dataType.simpleString()
    a = _vectors(df).mapInArrow(
        _assign, f"id long, v {vec_type}, cluster long"
    )
    return a.groupBy("cluster").applyInArrow(_cluster_pairs, _PAIR_SCHEMA)
