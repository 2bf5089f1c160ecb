"""Physical-plan audits: the properties that make these operators hold
at 100 TB are asserted on the plan itself, so a refactor that silently
adds a shuffle, drops predicate pushdown, or flips a broadcast join to
a sort-merge join fails CI — not a cluster bill.

(The extraction stage's zero-shuffle guarantee is asserted separately
in test_extract.test_no_shuffle_in_extraction_plan.)
"""

from __future__ import annotations

import contextlib
import gc
import io
import re
import threading

import pytest

TESTDATA = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    """Count distinct physical nodes of a type (explain('formatted')
    repeats node names in the details section; node ids are unique)."""
    return len(set(re.findall(rf"\((\d+)\) {name}", plan)))


_PYTHON_NODE = (
    "MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInArrow"
    "|FlatMapGroupsInArrow|ArrowEvalPython|BatchEvalPython"
)


def _python_node_names(plan: str) -> list[str]:
    """Sorted names of the distinct physical nodes of an explain('formatted')
    plan that run Python. A createDataFrame fixture's PythonRDD scan is
    input, not Python evaluation, and is not counted."""
    found = dict(re.findall(rf"\((\d+)\) ({_PYTHON_NODE})\b", plan))
    return sorted(found.values())


def test_q1_pushdown_pruning_partial_agg(spark):
    from webxtract.contract import q_tpch_q1_agg

    plan = _plan(q_tpch_q1_agg(spark, TESTDATA))
    # filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 6 needed columns are read
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in schema_line and "l_orderkey" not in schema_line
    assert "l_quantity" in schema_line
    # map-side combine: partial + final HashAggregate around one shuffle
    assert _nodes(plan, "HashAggregate") == 2
    assert _nodes(plan, "Exchange") <= 2  # agg shuffle (+ output sort)


def test_small_dim_join_broadcasts(spark):
    from webxtract.contract import q_broadcast_revenue_by_nation

    plan = _plan(q_broadcast_revenue_by_nation(spark, TESTDATA))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "SortMergeJoin") == 0  # big side never shuffles for the join


def test_exact_dedup_reads_only_needed_columns(spark):
    from webxtract.contract import q_exact_dedup

    plan = _plan(q_exact_dedup(spark, TESTDATA))
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # shuffle carries md5+id, never the payload; the scan reads only
    # the hashed column and the id
    assert "text" in schema_line and "doc_id" in schema_line
    assert "lang" not in schema_line and "url" not in schema_line


def test_pipeline_has_exactly_one_exchange(spark, corpus):
    from webxtract.pipeline import run_pipeline

    pages_path, _ = corpus
    plan = _plan(run_pipeline(spark.read.parquet(pages_path)))
    # the salted url-hash bucketing is the ONLY wide dependency in the
    # whole extract->validate lifecycle
    assert _nodes(plan, "Exchange") == 1


def _python_nodes(node, above: bool = True) -> list:  # noqa: ANN001
    """(above_exchange, node name, Python function names) for every node
    of a physical plan that runs Python."""
    name = node.nodeName()
    found = []
    if name == "ArrowEvalPython":
        udfs = node.udfs()
        found.append((above, name, [udfs.apply(i).name() for i in range(udfs.size())]))
    elif name in ("MapInPandas", "MapInArrow", "FlatMapGroupsInArrow", "BatchEvalPython"):
        found.append((above, name, [] if name == "BatchEvalPython" else [node.func().name()]))
    above = above and name != "Exchange"
    kids = node.children()
    for i in range(kids.size()):
        found += _python_nodes(kids.apply(i), above)
    return found


def test_pipeline_battery_is_one_arrow_eval_above_the_exchange(spark, corpus):
    """Every document rule runs in ONE Arrow kernel on the reduce side of
    the salted exchange: above the Exchange the only Python node is one
    ArrowEvalPython evaluating the rule kernel; below it only the
    extraction kernel runs Python; and no rule is a Catalyst lambda."""
    from webxtract.pipeline import run_pipeline

    pages_path, _ = corpus
    qe = run_pipeline(spark.read.parquet(pages_path))._jdf.queryExecution()
    nodes = _python_nodes(qe.sparkPlan())
    assert [(n, f) for above, n, f in nodes if above] == [("ArrowEvalPython", ["_rule_kernel"])]
    below = sorted((n, f) for above, n, f in nodes if not above)
    assert below == [("MapInArrow", ["_extract_rows"])]
    assert "lambdafunction" not in qe.optimizedPlan().toString().lower()


def _above_arrow_eval(node) -> list | None:  # noqa: ANN001
    """The nodes above the first ArrowEvalPython on the path to it (root
    first), or None when this subtree holds none."""
    if node.nodeName() == "ArrowEvalPython":
        return []
    kids = node.children()
    for i in range(kids.size()):
        path = _above_arrow_eval(kids.apply(i))
        if path is not None:
            return [node, *path]
    return None


def _expression_classes(expr) -> set[str]:  # noqa: ANN001
    kids = expr.children()
    return {expr.getClass().getSimpleName()}.union(
        *[_expression_classes(kids.apply(i)) for i in range(kids.size())]
    )


def test_pipeline_projection_above_rule_kernel_only_selects(spark, corpus):
    """Every per-document rule output comes from the rule kernel: the
    projection above its ArrowEvalPython selects the kernel's outputs,
    packs document_integrity and computes success, and holds no
    conditional, counting, rounding, string-building or max expression."""
    from webxtract.pipeline import run_pipeline

    pages_path, _ = corpus
    plan = run_pipeline(spark.read.parquet(pages_path))._jdf.queryExecution().sparkPlan()
    above = _above_arrow_eval(plan)
    assert above and {n.nodeName() for n in above} == {"Project"}
    classes = set()
    for node in above:
        exprs = node.expressions()
        for i in range(exprs.size()):
            classes |= _expression_classes(exprs.apply(i))
    assert "GetStructField" in classes and "CreateNamedStruct" in classes
    banned = {"CaseWhen", "Size", "ArrayRemove", "Floor", "Concat", "Greatest"}
    assert not classes & banned, sorted(classes & banned)


def test_pipeline_build_py4j_round_trips(spark, tmp_path):
    """Building run_pipeline on a fresh input stays under 2,190 py4j round
    trips, 1.25x the ~1,750 measured with every per-document rule output
    from the Arrow kernel and PySpark's per-call call-site capture off
    (counted, not timed). With the required-field check, the validation
    summary and the integrity result as Catalyst projections it was
    ~2,150; with the capture on ~4,450; the expression forms of
    detection, fake scoring and the battery cost ~39.5k and ~150k. Only
    this thread's round trips count: the session's Python-worker warm-up
    may still be running on its own thread."""
    from webxtract import pipeline as P
    from webxtract.synth import gen_pages, to_parquet

    pages, _ = gen_pages(20, "2026-01-15", seed=3)
    path = str(tmp_path / "pages.parquet")
    to_parquet(pages, path)
    df = spark.read.parquet(path)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    # proxies other tests left for the collector would be deleted (one
    # round trip each) inside the counted window
    gc.collect()
    me = threading.current_thread()

    def counting(*args, **kw):  # noqa: ANN002, ANN003, ANN202
        if threading.current_thread() is me:
            calls.append(1)
        return send(*args, **kw)

    client.send_command = counting
    try:
        P.run_pipeline(df, run_date="2026-01-15")
    finally:
        del client.send_command
    assert len(calls) < 2_190, len(calls)


def _write_plan_nodes(spark, run_id: str) -> list[str]:
    """Node names of the physical plans that ran the jobs of
    ``commit_run``'s write of ``run_id`` (job group
    ``webxtract-write-{run_id}``), read from the driver's SQL status
    store, which is kept with the UI off too. Only the last 100 SQL
    executions are searched."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(f"webxtract-write-{run_id}")
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 100), 100)
    names = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if any(e.jobs().contains(j) for j in jobs):
            nodes = store.planGraph(e.executionId()).allNodes()
            names += [nodes.apply(k).name() for k in range(nodes.size())]
    return names


def test_commit_write_plans_no_sort(spark, tmp_path):
    """commit_run adds the run_id literal right under the write, so the
    write of its run_id partition plans no Sort (a sort by a constant
    that takes a Tungsten page per write task): on the batch job with
    the default transform and with run_pipeline, and on a microbatch of
    the audited stream."""
    from webxtract.audit import run_extraction_job
    from webxtract.pipeline import run_pipeline
    from webxtract.streaming import start_audited_extraction_stream
    from webxtract.synth import gen_pages, to_parquet

    pages, _ = gen_pages(20, "2026-01-15", seed=5)
    to_parquet(pages, str(tmp_path / "pages.parquet"))
    drops = str(tmp_path / "drops")
    spark.read.parquet(str(tmp_path / "pages.parquet")).coalesce(1).write.parquet(drops)
    df = spark.read.parquet(drops)
    run_extraction_job(df, str(tmp_path / "x"), str(tmp_path / "xa"), "nosort-x", spark)
    run_extraction_job(
        df, str(tmp_path / "p"), str(tmp_path / "pa"), "nosort-p", spark,
        transform=run_pipeline,
    )
    start_audited_extraction_stream(
        spark, drops, str(tmp_path / "s"), str(tmp_path / "sa"), str(tmp_path / "ck")
    ).awaitTermination(300)
    assert spark.read.parquet(str(tmp_path / "s")).count() == 20
    for run_id in ("nosort-x", "nosort-p", "batch-0"):
        nodes = _write_plan_nodes(spark, run_id)
        assert "WriteFiles" in nodes, (run_id, nodes)
        assert "Sort" not in nodes, (run_id, nodes)


def test_benchmark_overlap_broadcasts_benchmark_side(spark):
    """Decontamination must broadcast the (small) benchmark shingle
    set: the corpus side is the 100 TB table and must never shuffle
    for the join."""
    from webxtract.contract import q_benchmark_overlap

    plan = _plan(q_benchmark_overlap(spark, TESTDATA))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "SortMergeJoin") == 0
    # exchanges: benchmark-side distinct (small side only), per-doc
    # hit-count agg, output sort — the corpus scan itself never
    # shuffles before the join
    assert _nodes(plan, "Exchange") <= 3


def test_pii_redaction_is_narrow(spark):
    """Regex redaction is pure projection: zero exchanges, and the scan
    reads only (doc_id, text)."""
    from webxtract.contract import q_pii_redaction

    plan = _plan(q_pii_redaction(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 0
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in schema_line and "lang" not in schema_line


def test_deterministic_sample_is_narrow(spark):
    """Hash-threshold sampling is a pure narrow filter: no joins, and
    the only exchange is the query's output orderBy (the md5 threshold
    is a computed predicate, so parquet-level pushdown is not expected
    — what must never appear is a shuffle or join for the sampling
    decision itself)."""
    from webxtract.contract import q_deterministic_sample

    plan = _plan(q_deterministic_sample(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1  # output sort only
    assert "Join" not in plan
    assert _nodes(plan, "Filter") >= 1


def test_repetition_signals_is_shuffle_free(spark):
    """Top-n-gram repetition statistics are document-local: the whole
    operator must stay a single projection over one scan (sorted-gram
    run-length scan per n), never the explode + groupBy + join-back
    shape. The OPERATOR itself adds zero exchanges (first assert, on
    its own plan); the contract query adds only its output orderBy
    (scan parallelism comes from the input layout — bench.py re-chunks
    its fixture — not from an in-query repartition)."""
    from webxtract.contract import q_repetition_signals
    from webxtract.curation import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b c a b c")], "doc_id long, text string"
    )
    op_plan = _plan(repetition_signals(df))
    assert _nodes(op_plan, "Exchange") == 0
    assert "Join" not in op_plan
    assert _nodes(op_plan, "Generate") == 0  # no explode
    assert _nodes(op_plan, "HashAggregate") == 0

    plan = _plan(q_repetition_signals(spark, TESTDATA))
    assert _nodes(plan, "Exchange") <= 1  # output sort only
    assert "Join" not in plan
    assert _nodes(plan, "Generate") == 0
    assert _nodes(plan, "HashAggregate") == 0


def test_pack_sequences_single_window_exchange(spark):
    """Packing is one shuffle on the shard key (the window), plus the
    final per-sequence aggregation reusing that partitioning where AQE
    allows; never a driver-side sequential scan."""
    from webxtract.contract import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, TESTDATA))
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Exchange") <= 3  # window + agg + output sort


def test_cosine_topk_uses_takeordered(spark):
    from webxtract.contract import q_cosine_topk

    plan = _plan(q_cosine_topk(spark, TESTDATA))
    # top-k must be per-partition heaps + driver merge, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_host_stats_partial_agg_no_join(spark):
    """Per-host rollup: map-side partial aggregation before the host
    exchange, and no join anywhere (the rollup is pure groupBy)."""
    from webxtract.contract import q_host_stats

    plan = _plan(q_host_stats(spark, TESTDATA))
    assert _nodes(plan, "HashAggregate") >= 2
    assert "Join" not in plan


def test_domain_filter_broadcast_anti(spark):
    """Blocklist filtering must be a broadcast LEFT ANTI: the corpus
    never shuffles and the join never degrades to sort-merge."""
    from webxtract.contract import q_domain_filter

    plan = _plan(q_domain_filter(spark, TESTDATA))
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "SortMergeJoin" not in plan


def test_normalize_text_is_narrow_arrow(spark):
    """Text normalization is one narrow pass: the only exchange is the
    query's output orderBy, and the control strip, NFC and counts run in
    one Arrow-batched kernel (MapInArrow), never row-at-a-time Python:
    that one node is the plan's only Python."""
    from webxtract.contract import q_normalize_text

    plan = _plan(q_normalize_text(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1  # output sort only
    assert _python_node_names(plan) == ["MapInArrow"]


def test_dedup_paragraphs_shuffle_budget(spark):
    """Paragraph dedup's documented scale shape: at most 4 exchanges
    (winner agg on the hash, join-back, per-doc regroup, output sort —
    one may collapse when AQE broadcasts the winner set), map-side
    partial aggregation for both the struct-min winner and the rebuild,
    and zero Python anywhere."""
    from webxtract.contract import q_dedup_paragraphs

    plan = _plan(q_dedup_paragraphs(spark, TESTDATA))
    assert _nodes(plan, "Exchange") <= 4
    # partial + final for winner min(struct) and for the rebuild agg
    agg_nodes = (
        _nodes(plan, "SortAggregate")
        + _nodes(plan, "HashAggregate")
        + _nodes(plan, "ObjectHashAggregate")
    )
    assert agg_nodes >= 4
    assert "CartesianProduct" not in plan
    assert _python_node_names(plan) == []


def test_top_tokens_partial_agg_topk(spark):
    """Corpus vocabulary head: exactly ONE exchange (post-partial-count,
    carrying ~vocab-size rows), and the global top-k is a
    TakeOrderedAndProject — never a full sort of the vocabulary."""
    from webxtract.contract import q_top_tokens

    plan = _plan(q_top_tokens(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "HashAggregate") == 2
    assert _nodes(plan, "TakeOrderedAndProject") == 1
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_dedup_incremental_hash_only_payload(spark):
    """Incremental dedup's scale shape: the anti-join and keep-first
    agg run on md5-only payloads (text never shuffles), no Cartesian
    product, no Python, and the seen side is pruned to its hash
    column."""
    from webxtract.contract import q_dedup_incremental

    plan = _plan(q_dedup_incremental(spark, TESTDATA))
    assert "CartesianProduct" not in plan
    assert _python_node_names(plan) == []
    assert _nodes(plan, "Exchange") <= 4
    # map-side partial aggregation for the keep-first groups
    assert _nodes(plan, "HashAggregate") >= 2


def test_temperature_mix_broadcast_rates_no_corpus_shuffle(spark):
    """The rate table (#sources rows) broadcasts onto the corpus; the
    corpus side never shuffles for the sampling decision — the only
    exchanges are the tiny per-source count aggregation and the query's
    output orderBy."""
    from webxtract.contract import q_temperature_mix

    plan = _plan(q_temperature_mix(spark, TESTDATA))
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # count-agg exchange (sources only) + broadcast + output sort; the
    # corpus branch itself must contribute no shuffle
    assert _nodes(plan, "Exchange") <= 3


def test_chunk_tokens_is_narrow(spark):
    """Token windowing is document-local: one scan, one generate, zero
    joins; the only exchange is the query's output orderBy."""
    from webxtract.contract import q_chunk_tokens

    plan = _plan(q_chunk_tokens(spark, TESTDATA))
    assert "Join" not in plan
    assert _nodes(plan, "Exchange") == 1  # output sort only
    assert _nodes(plan, "Generate") == 1


def test_chunk_dedup_plan_text_never_shuffles(spark):
    """Substring dedup rewrite: the meta branch shuffles only
    (id, idx, hash) rows (window on chunk_hash + drop-list groupBy);
    the document TEXT is joined back by a broadcast-eligible join and
    rewritten exchange-free — never sort-merge-joined, never shuffled."""
    from webxtract.dedup import dedup_chunks
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{TESTDATA}/documents.parquet").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    plan = _plan(dedup_chunks(d, boundary_mod=8, min_dup_tokens=4))
    assert _nodes(plan, "SortMergeJoin") == 0
    assert _nodes(plan, "BroadcastHashJoin") == 1
    # window shuffle + drop-list groupBy shuffle + the broadcast: no
    # exchange ever carries the text column
    assert _nodes(plan, "Exchange") <= 3
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line and "chunk" not in line.split("hashpartitioning")[0]


def test_extraction_eval_is_narrow_single_aggregate(spark):
    """Per-row extraction scoring must stay embarrassingly parallel:
    zero exchanges/joins besides the query's output orderBy (vs the
    oracle's explode→group→join formulation, which at 10^12 docs would
    shuffle ~10^14 token rows), and the multiset-intersection aggregate
    must appear ONCE in the plan (CollapseProject duplicating it across
    the three metric columns would triple the per-row cost)."""
    from webxtract.contract import q_extraction_eval

    plan = _plan(q_extraction_eval(spark, TESTDATA))
    # one exchange: the contract orderBy's range partitioning
    assert _nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Generate" not in plan
    assert plan.count("aggregate(") == 1


def test_c4_clean_is_narrow(spark):
    """The C4 ruleset is one narrow projection over the scan: zero
    joins/explodes, the only exchange is the output orderBy."""
    from webxtract.contract import q_c4_clean

    plan = _plan(q_c4_clean(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Generate" not in plan


def test_wet_records_is_narrow(spark):
    """WET serialization is one narrow projection over the scan: zero
    joins/explodes/Python; the only exchange is the output orderBy."""
    from webxtract.contract import q_wet_records

    plan = _plan(q_wet_records(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Generate" not in plan
    assert _python_node_names(plan) == []


def test_fix_mojibake_is_narrow(spark):
    """The repair chain is one narrow projection: zero joins/explodes/
    Python; the only exchange is the output orderBy."""
    from webxtract.contract import q_fix_mojibake

    plan = _plan(q_fix_mojibake(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Generate" not in plan
    assert _python_node_names(plan) == []


def test_postings_plan_bounded(spark):
    """Postings build: no cartesian/broadcast-nested-loop, no Python,
    and a bounded exchange count (tf agg, salt window, term window,
    stats agg, join, output sort)."""
    from webxtract.contract import q_postings

    plan = _plan(q_postings(spark, TESTDATA))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _python_node_names(plan) == []
    assert _nodes(plan, "Exchange") <= 6


def test_tag_topics_is_narrow(spark):
    """Topic tagging is one narrow mapInArrow kernel pass (no
    rule-table join): exactly one Python node, zero joins/explodes, one
    output-sort exchange."""
    from webxtract.contract import q_tag_topics

    plan = _plan(q_tag_topics(spark, TESTDATA))
    assert _nodes(plan, "Exchange") == 1
    assert "Join" not in plan and "Generate" not in plan
    assert _python_node_names(plan) == ["MapInArrow"]


def test_value_percentiles_window_over_histogram(spark):
    """The ordered window runs over the value HISTOGRAM: exactly one
    Window node, fed by an aggregate (the groupBy(value) reduce), and
    the doc-side join is a broadcast — never a row-level global sort
    of the corpus."""
    from webxtract.contract import q_value_percentiles

    plan = _plan(q_value_percentiles(spark, TESTDATA))
    assert _nodes(plan, "Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the window's running sum is over the histogram COUNT column, not
    # raw document rows — the proof it scales with value cardinality
    assert re.search(r"sum\(__c", plan)
    assert _nodes(plan, "HashAggregate") >= 1


def test_host_cap_sample_two_phase_windows(spark):
    """The per-host cap ranks in TWO window phases (salted then final)
    so a hot host never collapses into one window partition — two
    Window nodes, no join, no Python."""
    from webxtract.contract import q_host_cap_sample

    plan = _plan(q_host_cap_sample(spark, TESTDATA))
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 2
    # Spark's rank-limit pushdown kicks in on both phases: each window
    # gets a Partial WindowGroupLimit BEFORE its exchange, so even the
    # salted phase ships at most cap rows per (host, salt) group
    assert _nodes(plan, "WindowGroupLimit") >= 2
    assert "Join" not in plan
    assert _python_node_names(plan) == []


def test_bpe_pairs_vocab_reduce_then_topk(spark):
    """The corpus-wide shuffle is the word-frequency reduce (partial
    agged); the pair explode runs over the DISTINCT vocab; top-k is
    TakeOrderedAndProject, never a global sort; no joins, no Python."""
    from webxtract.contract import q_bpe_pairs

    plan = _plan(q_bpe_pairs(spark, TESTDATA))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and _python_node_names(plan) == []
    assert _nodes(plan, "HashAggregate") >= 3  # partial+final x2 aggs
    assert _nodes(plan, "Exchange") <= 2  # vocab reduce + pair reduce


def test_dsir_scoring_is_narrow(spark):
    """DSIR scoring ships the log-ratio table with one mapInArrow kernel
    that folds per document: exactly one Python node, no join, no
    aggregation shuffle beyond the output sort (the bucket histogram is
    collected before the scoring plan is built)."""
    from webxtract.contract import q_dsir_weights

    plan = _plan(q_dsir_weights(spark, TESTDATA))
    assert "Join" not in plan
    assert _python_node_names(plan) == ["MapInArrow"]
    assert _nodes(plan, "Exchange") == 1  # output sort only
    assert _nodes(plan, "HashAggregate") == 0


def test_bucket_counts_is_one_partial_count_kernel(spark):
    """The DSIR bucket histogram is one mapInArrow partial-count kernel
    per task, then a partial + final sum around ONE (bucket, n)
    exchange: no join, and no text crosses the shuffle."""
    from webxtract.curation import bucket_counts

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    plan = _plan(bucket_counts(docs, n_buckets=64))
    assert "Join" not in plan
    assert _python_node_names(plan) == ["MapInArrow"]
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "HashAggregate") == 2


def test_bigram_perplexity_broadcast_stats(spark):
    """Scoring joins the top-k stats tables as BROADCASTS (three of
    them + the 1-row total); the corpus bigram stream itself never
    shuffles for a join — no SortMergeJoin anywhere."""
    from webxtract.contract import q_bigram_perplexity

    plan = _plan(q_bigram_perplexity(spark, TESTDATA))
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan  # the top-k stats heads


def test_semantic_dedup_blocked_kernel_no_lambdas(spark):
    """SemDeDup pair stage (round-6 shape): (1) the within-cluster
    quadratic runs in ONE per-cluster vectorized NumPy kernel
    (FlatMapGroupsInArrow) — never a JVM self-join whose per-pair
    unrolled dot falls out of HotSpot JIT (8 KB bytecode cap; measured
    ~15 us/pair interpreted = 238 s at sf1.0 vs ~5 s here) and never a
    cartesian; (2) each (cluster, id, vector) row is shuffled exactly
    once (one Exchange on cluster beyond the assignment's broadcast);
    (3) no interpreted higher-order functions anywhere; (4) assignment
    is the mapInArrow NumPy kernel — no joins of any kind in the
    whole plan (the round-5 BroadcastNestedLoopJoin centroid attach
    and its groupBy(id) argmin exchange are gone)."""
    from webxtract.contract import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, TESTDATA))
    assert "CartesianProduct" not in plan
    # the pair kernel and the assignment kernel, nothing else in Python
    assert _python_node_names(plan) == ["FlatMapGroupsInArrow", "MapInArrow"]
    assert "Join" not in plan
    # exactly one hash exchange: group by cluster for the pair kernel
    # (the only other exchange is the output orderBy's range partition)
    assert plan.count("hashpartitioning(") == 1
    for hof in ("zip_with", "aggregate(", "transform("):
        assert hof not in plan, f"interpreted HOF {hof} in semantic_dedup plan"


def test_near_dedup_increment_is_bucket_local(spark):
    """Candidate generation must stay INSIDE the (band, bval) buckets —
    no posting self-join — and the increment must be scanned at most
    twice (postings + final anti-join). The first draft of this op
    re-derived the increment per candidate join: 9 scans and 22
    exchanges. Pinned on a plain parquet input (the contract query's
    union fixture triggers Catalyst's push-through-union rewrite, which
    legitimately clones the subtree per branch)."""
    from pyspark.sql import functions as F

    from webxtract.dedup import near_dedup_increment, simhash_expr

    d = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    seen = d.filter(F.col("doc_id") % 7 == 0).select(
        simhash_expr(F.col("text")).alias("sh")
    )
    plan = _plan(near_dedup_increment(d.select("doc_id", "text"), seen))
    assert _nodes(plan, "SortMergeJoin") == 0
    # exactly one join in the whole plan: the dropped-id anti-join
    assert len(set(re.findall(r"\((\d+)\) \w*Join", plan))) == 1
    assert _nodes(plan, "Scan parquet") <= 3
    assert _nodes(plan, "Exchange") + _nodes(plan, "BroadcastExchange") <= 4


def test_split_sentences_is_narrow(spark):
    """Sentence segmentation is a pure projection + explode: zero
    exchanges, zero Python, no joins — it parallelizes with the scan
    at any corpus size."""
    from webxtract.contract import q_split_sentences

    plan = _plan(q_split_sentences(spark, TESTDATA).limit(10))
    assert _nodes(plan, "Exchange") == 0
    assert _python_node_names(plan) == []
    assert "Join" not in plan
    assert _nodes(plan, "Generate") == 1  # the posexplode


def test_stratified_keep_window_over_histogram(spark):
    """Per-stratum relative thresholding windows over the (strata,
    value) HISTOGRAM — one Window node fed by an aggregate, histogram
    and per-stratum counts broadcast back; never a row-level window
    over corpus rows."""
    from webxtract.contract import q_stratified_keep

    plan = _plan(q_stratified_keep(spark, TESTDATA))
    assert _nodes(plan, "Window") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert re.search(r"sum\(__c", plan)


def test_frontier_schedule_two_phase_salted_broadcast_delay(spark):
    """The frontier's per-host ranking is the two-phase salted window
    (hot hosts never collapse into one partition; rank-limit pushdown
    applies on both phases) and the per-host crawl-delay table joins
    BROADCAST — the url side never shuffles for the join."""
    from webxtract.contract import q_frontier_schedule

    plan = _plan(q_frontier_schedule(spark, TESTDATA))
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 2
    assert _nodes(plan, "WindowGroupLimit") >= 2
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    # the robots fixture arrives via createDataFrame (a PythonRDD
    # scan); what must be absent is Python EVALUATION over the urls
    assert _python_node_names(plan) == []


def test_doc_containment_hash_only_shuffles_no_cartesian(spark):
    """Containment detection never shuffles chunk text: one mapInArrow
    kernel emits each document's distinct (id, chunk_hash) set, the
    posting buckets group on the hash, and everything downstream carries
    bigints. Exactly one Python node, no cartesian product, no
    sort-merge explosion on the text column."""
    from webxtract.contract import q_doc_containment

    plan = _plan(q_doc_containment(spark, TESTDATA))
    assert "CartesianProduct" not in plan
    assert _python_node_names(plan) == ["MapInArrow"]
    # chunk text exists only below the hash projection: no Exchange
    # input schema may carry the chunk STRING column (`chunk#N`;
    # `chunk_hash#N` is the two-bigint payload and is expected)
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?", plan):
        assert not re.search(r"\bchunk#\d", m.group(0))


def test_wat_records_is_narrow(spark):
    """WAT serialization is one codegen'd concat per row: zero
    exchanges (bar the output sort), zero Python, zero joins."""
    from webxtract.contract import q_wat_records

    plan = _plan(q_wat_records(spark, TESTDATA).limit(5))
    assert _nodes(plan, "Exchange") == 0
    assert _python_node_names(plan) == []
    assert "Join" not in plan


def test_robots_sitemaps_is_narrow(spark):
    from webxtract.contract import q_robots_sitemaps

    plan = _plan(q_robots_sitemaps(spark, TESTDATA).limit(5))
    assert _nodes(plan, "Exchange") == 0
    assert _python_node_names(plan) == []


def test_classifier_score_is_narrow(spark):
    """Model serving is one map pass: exactly one Python node (the
    mapInArrow kernel, which carries the weight table), zero joins.
    The contract query adds only its output orderBy (scan parallelism
    is the input layout's job — bench.py re-chunks its fixture — not an
    in-query repartition)."""
    from webxtract.contract import q_classifier_score

    plan = _plan(q_classifier_score(spark, TESTDATA).limit(5))
    assert _nodes(plan, "Exchange") == 0  # orderBy+limit folds to TakeOrdered
    assert _python_node_names(plan) == ["MapInArrow"]
    assert "Join" not in plan


def test_shard_assign_text_never_shuffles(spark):
    """The shard window shuffles (id, shard, hash, n_tokens) only —
    no Exchange carries the text column, and there is no join."""
    from webxtract.contract import q_shard_assign

    plan = _plan(q_shard_assign(spark, TESTDATA))
    assert "Join" not in plan
    assert _python_node_names(plan) == []
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.+\n)+?", plan):
        assert not re.search(r"\btext#\d", m.group(0))


def test_sitemap_entries_is_narrow(spark):
    from webxtract.contract import q_sitemap_entries

    plan = _plan(q_sitemap_entries(spark, TESTDATA).limit(5))
    assert _nodes(plan, "Exchange") == 0
    assert _python_node_names(plan) == []


def test_structured_metadata_is_narrow(spark):
    from webxtract.contract import q_structured_metadata

    plan = _plan(q_structured_metadata(spark, TESTDATA).limit(5))
    assert _nodes(plan, "Exchange") == 0
    assert _python_node_names(plan) == []


def test_component_round_is_one_arrow_kernel(spark):
    """A dedup_components round is two exchanges around one mapInArrow
    kernel: the repartition on lo (the deduplication reuses it) and the
    per-id aggregation. The components the rounds return are
    materialised, so no Python runs again when they are read."""
    from pyspark.sql import functions as F

    from webxtract.dedup import _min_root_round, dedup_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "a long, b long")
    edges = pairs.select(
        F.col("a").alias("lo"), F.col("b").alias("hi"), F.lit(False).alias("nul")
    )
    plan = _plan(_min_root_round(edges))
    assert _nodes(plan, "Exchange") == 2
    assert "REPARTITION_BY_COL" in plan
    assert _python_node_names(plan) == ["MapInArrow"]
    assert _python_node_names(_plan(dedup_components(pairs))) == []
