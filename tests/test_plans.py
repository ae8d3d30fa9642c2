"""Physical-plan regression tests: the properties that decide whether a
query survives a 100× scale-up, pinned as assertions.

If one of these fails after a change, the plan regressed — not just the
runtime on the 60k-row fixture.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Window, functions as F

import data_ingestion_py_spark.queries_ext  # noqa: F401
from data_ingestion_py_spark.plans import explain as E
from data_ingestion_py_spark.queries import QUERIES
from tests.conftest import SF_SMOKE, code_matches, run_and_read


def _q(spark, name):
    return QUERIES[name].spark(spark, SF_SMOKE)


def _sweep(registry_runs, names, faults):
    """Run the generator ``faults(name, facts)`` over each query's
    ``PlanFacts``. A query that fails to build or run is reported as
    that query's failure, without hiding the lint result for the rest."""
    failures: list[str] = []
    for name in names:
        try:
            facts = registry_runs.facts(name)
            failures += [f"{name}: {f}" for f in faults(name, facts)]
        except Exception as exc:  # noqa: BLE001 — collect, don't abort
            failures.append(f"{name}: BROKEN ({type(exc).__name__}: {exc})")
    assert not failures, "\n".join(failures)


def test_q6_filters_pushed_to_scan(spark):
    df = _q(spark, "q6_revenue_filter")
    pushed = E.pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pushed), f"{col} not pushed: {pushed}"
    # one entry per filter, whole: a literal's comma does not split it
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01 00:00:00.0)" in pushed


def test_q6_column_pruning(spark):
    schemas = E.read_schemas(_q(spark, "q6_revenue_filter"))
    assert schemas, "no scan found"
    # only the 4 referenced columns are read, not all 11
    assert all(s.count(":") <= 4 for s in schemas), schemas


def test_read_schema_keeps_nested_types(spark):
    """A ReadSchema with a nested type is read whole, not cut at the
    first ``>``."""
    from data_ingestion_py_spark.io import load_table

    assert E.read_schemas(load_table(spark, SF_SMOKE, "embeddings")) == [
        "struct<vec_id:bigint,embedding:array<float>,label:int>"
    ]


def test_filter_eq_project_prunes_and_pushes(spark):
    df = _q(spark, "filter_eq_project")
    assert any("source" in f for f in E.pushed_filters(df))
    schemas = E.read_schemas(df)
    assert all("text" not in s for s in schemas), (
        f"giant text column read unnecessarily: {schemas}"
    )


def test_dim_join_broadcasts(spark):
    df = _q(spark, "dim_broadcast_join")
    assert E.has_broadcast_join(df)
    assert not E.has_sort_merge_join(df), "dim join must not shuffle-sort"
    # only the final groupBy may shuffle
    assert E.num_exchanges(df) <= 1, E.executed_plan(df)


def test_q3_broadcasts_filtered_dim(spark):
    df = _q(spark, "q3_top_revenue_orders")
    assert E.has_broadcast_join(df)


def test_q5_six_way_join_limits_shuffles(spark):
    df = _q(spark, "q5_region_volume")
    assert E.has_broadcast_join(df)
    # big-side joins + final agg; dims must not add exchanges
    assert E.num_exchanges(df) <= 4, E.executed_plan(df)


def test_snippetize_is_narrow_and_jvm_only(spark):
    df = _q(spark, "snippets_flat")
    assert E.num_exchanges(df) == 0, "snippetize must not shuffle"
    assert E.codegen_stage_count(df) >= 1


def test_flagship_agg_single_shuffle(spark):
    df = _q(spark, "snippet_stats_by_lang")
    # countDistinct adds an expand/second agg pass; ≤2 exchanges total
    assert E.num_exchanges(df) <= 2


def test_similarity_topk_no_shuffle_before_topk(spark):
    df = _q(spark, "similarity_cosine_topk")
    # broadcast of the query vector, TakeOrdered on top — corpus side
    # must not shuffle
    assert E.num_exchanges(df) == 0, E.executed_plan(df)


def test_dedup_exact_single_shuffle(spark):
    assert E.num_exchanges(_q(spark, "dedup_exact")) <= 1


# Non-multimodal queries whose Arrow (mapInPandas) stage is by design.
ARROW_BY_DESIGN = frozenset(
    {
        # numpy batch kernels: k-means/IVF assignment, random
        # projection, MinHash signatures
        "dedup_semdedup_kmeans",
        "embedding_kmeans_assign",
        "similarity_ivf_kmeans",
        "embedding_random_projection",
        "similarity_rp_topk",
        "dedup_minhash_signatures",
        # per-payload document decoders (sources/ kernel_rows stages)
        "docx_text_extract",
        "pdf_annotation_text",
        "pdf_ccitt_scanned_digits",
        "pdf_cid_text_extract",
        "pdf_differences_text_extract",
        "pdf_encrypted_text_extract",
        "pdf_form_xobject_text",
        "pdf_inline_fax_ocr",
        "pdf_jbig2_arith_scanned_digits",
        "pdf_jbig2_scanned_digits",
        "pdf_jpx_scanned_digits",
        "pdf_pure_text_extract",
        "pdf_scanned_multipage_snippets",
        "pdf_scanned_prose_dedup",
        "pdf_scanned_prose_quality",
        "pdf_scanned_text_extract",
        # per-payload shard and archive manifests
        "archive_orc_stripes",
        "corpus_jsonl_lz4_lines",
        "corpus_jsonl_zst_lines",
        "corpus_tar_zst_members",
        "corpus_zstd_entropy_records",
        "shards_lz4_block_plan",
        "shards_zstd_frame_plan",
    }
)


_ARROW_STAGE = ARROW_BY_DESIGN | {
    n for n, q in QUERIES.items() if "multimodal" in q.tags
}


def _python_eval_faults(name, facts):
    ops = facts.ops
    if name in _ARROW_STAGE:
        if not ops["MapInPandas"]:
            yield "lost its Arrow stage"
        if ops["BatchEvalPython"]:
            yield "row-at-a-time Python"
        if name in ARROW_BY_DESIGN and ops["ArrowEvalPython"]:
            yield "Arrow UDF beside its stage"
    elif E.python_eval_in(ops):
        yield "uses Python eval"


def test_no_python_udfs_anywhere_in_registry(registry_runs):
    """Every registered query stays JVM-side, except the multimodal
    entries and the ``ARROW_BY_DESIGN`` names, whose stage is BY DESIGN
    an Arrow-batched mapInPandas (never row-at-a-time BatchEvalPython).
    An ``ARROW_BY_DESIGN`` query may not add a scalar Arrow UDF
    (ArrowEvalPython) beside its stage either."""
    _sweep(registry_runs, QUERIES, _python_eval_faults)


def test_embedding_near_dup_no_crossjoin(spark):
    """The LSH candidate join must be a real equi-join on band keys —
    a crossJoin here is the O(n²) plan that dies at scale."""
    df = _q(spark, "dedup_embedding_cosine")
    assert E.count_ops(df, "BroadcastNestedLoopJoin") == 0, E.executed_plan(df)


def test_embedding_near_dup_leaves_no_cache_entry(spark):
    """``dedup_embedding_cosine`` pins its corpus by an eager
    ``localCheckpoint``: once it has run, the CacheManager holds no
    entry, and ``dedup_semdedup_kmeans`` (same planted corpus) plans
    as before — a persisted corpus would serve it from an
    ``InMemoryTableScan``."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = E.op_counts(_q(spark, "dedup_semdedup_kmeans"))
    _q(spark, "dedup_embedding_cosine").write.format("noop").mode(
        "overwrite"
    ).save()
    assert cache.isEmpty()
    after = E.op_counts(_q(spark, "dedup_semdedup_kmeans"))
    assert after == before and after["InMemoryTableScan"] == 0, after


def test_asof_join_single_shuffle_no_python(spark):
    """The as-of join must stay a union + one keyed window: one
    exchange, no cartesian/range join, no Python."""
    df = _q(spark, "events_asof_join")
    assert E.num_exchanges(df) == 1, E.executed_plan(df)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """The 100 TB co-location story: bucketing both join sides on the
    key removes the per-query exchanges entirely — the join reads
    pre-shuffled data. This is the deploy-time answer to the
    lineitem⋈orders shuffles the plan tests above merely bound."""
    from data_ingestion_py_spark.io import load_table
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    load_table(spark, SF_SMOKE, "lineitem").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
    load_table(spark, SF_SMOKE, "orders").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("ord_b")
    try:
        li, od = spark.table("li_b"), spark.table("ord_b")
        joined = li.join(
            od, li["l_orderkey"] == od["o_orderkey"]
        ).groupBy("o_orderpriority").count()
        # disable broadcast so the join itself is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = E.executed_plan(joined)
            assert E.num_exchanges(joined) <= 1, plan  # only the final agg
            ops = E.op_counts(joined)
            assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] > 0, plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_range_join_is_banded_equi_join(spark):
    """The bounded-distance join must execute as an equi-join on
    (key, bin) — a BroadcastNestedLoopJoin here is the O(n·m) plan
    the banding exists to prevent."""
    df = _q(spark, "events_range_join_pairs")
    assert E.num_exchanges(df) <= 2, E.executed_plan(df)


def test_salted_join_equals_plain_join_and_distributes(spark):
    """Salting must not change results, only the key distribution:
    every output row of the salted join matches the plain join, and the
    physical join key includes the salt."""
    from data_ingestion_py_spark.io import load_table
    from data_ingestion_py_spark.operators.skew import salted_join
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # simulate a hot-key dim join: parts joined from lineitem
    part = load_table(spark, SF_SMOKE, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    salted = salted_join(li, part, key="l_partkey", salt_from="l_orderkey")
    plain = li.join(part, "l_partkey")
    a = salted.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("q"),
    )
    b = plain.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("q"),
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    assert "_salt" in E.executed_plan(salted.select("p_brand")), (
        "salt not part of the join key"
    )


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_partitioned → read with a partition predicate must scan
    only the matching partition directories (PartitionFilters in the
    scan, not a post-scan Filter over everything)."""
    from data_ingestion_py_spark.io import load_table, write_partitioned
    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    filters = E.partition_filters(back)
    assert any("lang" in f for f in filters), E.executed_plan(back)
    assert back.count() > 0


# queries that intentionally broadcast a 1-row/tiny DataFrame via
# crossJoin (scalar subqueries, query vectors, doc counts) — their BNLJ
# is a broadcast of O(1) rows, not an accidental cartesian
#
# LIMITATION of every plan assertion in this file: a localCheckpoint /
# persisted pin truncates the visible plan at a LogicalRDD / InMemory
# node, so operators that pin intermediates (materialize.pin, the
# per-round checkpoints in kmeans/pagerank/components, packing's
# derived-range sizing) hide everything BELOW the pin from these
# lints — the checks cover each query's post-pin composition, and the
# pinned stages are covered where their builders are linted directly
# (e.g. the signature pipeline via dedup-query plans before pinning).
# A lint pass over a pinned stage's pre-pin plan requires asserting on
# the builder expression itself, which the operator unit tests do.
_TINY_BROADCAST_OK = {
    "similarity_cosine_topk",
    "similarity_lsh_ann",
    "similarity_ivf_topk",
    "similarity_active_snippets",
    "customers_above_avg_balance",
    "q15_top_supplier",
    "q22_dormant_rich_customers",
    "text_tfidf_top_terms",
    "similarity_knn_join",
    "embedding_kmeans_assign",
    "dedup_semdedup_kmeans",
    "similarity_ivf_kmeans",
    "events_value_histogram",
    "events_funnel_conversion",
    "dq_constraint_violations",
    "similarity_pq_topk",
    "corpus_build_e2e",
    "orders_winsorized_stats",
    # 1-row corpus stats (N, Σdl) / vocab-size broadcasts
    "text_bm25_topk",
    "corpus_bigram_lm_score",
    "corpus_dsir_weights",
    # 1-row query vector + m-row shortlist self-join (m=10)
    "similarity_mmr_diversify",
    # 1-row argmax merge broadcast per BPE round / stats scalars
    "text_bpe_merges",
    "corpus_subword_tokens",
    "text_pmi_pairs",
    "corpus_temperature_mixture",
    # 1-row projected-query + query-vector broadcasts
    "similarity_rp_topk",
    # 10-row anchor broadcast with a non-equi (source<>source) guard
    "corpus_negative_samples",
    # 1-row snapshot-totals broadcast
    "corpus_drift_terms",
    # BM25 over snippets: same 1-row corpus-stats broadcast as
    # text_bm25_topk
    "snippets_bm25_search",
    # 1-row basket-count broadcast
    "orders_brand_basket_pairs",
    # 1-row leaked-pairs counter broadcast onto the 3-row split report
    "dataset_split_leakage_safe",
    # 1-row token-budget scalar broadcast onto the source-sized plan
    "corpus_token_budget_allocation",
    # 1-row revenue-total broadcast onto the 10-row decile rollup
    "customer_decile_gains",
    # 1-row traffic-total broadcast onto the 168-row weekly profile
    "events_weekly_seasonality",
    # type-pair scaffolding: a types² (≤ ~10²-row) broadcast drives the
    # a<b pair generation and the IN-(ta,tb) membership probe — the
    # broadcast side is bounded by distinct types, never data-sized
    "events_kmv_set_overlap",
    # ≤9-row first-digit agg × 1-row total-count broadcast (the same
    # scalar-denominator shape as events_value_histogram); added in r7
    # without this entry — the lint was red for two rounds over it
    "dq_benford_first_digit",
    # inherits both legs' scalar broadcasts: BM25's 1-row corpus stats
    # (as text_bm25_topk) + cosine's 1-row query vector
    "text_rrf_hybrid_search",
    # 1-row dangling-mass scalar crossJoin(F.broadcast(dang)) into every
    # node's update: a deliberate tiny-broadcast BNLJ (operators/pagerank.py)
    "graph_pagerank",
    "graph_ppr_nation",
}


def _cartesian_faults(name, facts):
    if facts.ops["CartesianProduct"]:
        yield "has a cartesian"
    if name not in _TINY_BROADCAST_OK and facts.ops["BroadcastNestedLoopJoin"]:
        yield "unexpected nested-loop join"


def test_no_accidental_cartesian_anywhere(registry_runs):
    """No registry query may contain a CartesianProduct, and
    BroadcastNestedLoopJoin only where a deliberate 1-row/tiny
    broadcast is part of the algorithm."""
    _sweep(registry_runs, QUERIES, _cartesian_faults)


# events_kmv_set_overlap's broadcast is the distinct-type-pair scaffold
# (types², 792 rows at SF_SMOKE) — bounded by event-type cardinality,
# which does NOT grow with data volume
_BROADCAST_BOUNDS = {"events_kmv_set_overlap": 4096}


def _broadcast_faults(name, facts):
    bound = _BROADCAST_BOUNDS.get(name, 1000)
    if oversized := [r for r in facts.bnlj_rows if r > bound]:
        yield f"broadcast side(s) {oversized} exceed {bound} rows"


def test_tiny_broadcast_allowlist_is_actually_tiny(registry_runs):
    """The BNLJ allowlist is a CHECKED contract, not a trust-forever
    list: execute every allowlisted query and measure the actual
    broadcast row count of each BroadcastNestedLoopJoin build side
    (numOutputRows on the feeding BroadcastExchange). A name whose
    "1-row scalar" broadcast silently grows to corpus size fails here
    even though the cartesian lint above would keep waving it through.

    Bound: 1000 rows — an order of magnitude above the biggest
    legitimate scalar/shortlist broadcast (k-row shortlists, 10-row
    anchors) and far below any data-sized relation even at SF_SMOKE;
    ``_BROADCAST_BOUNDS`` holds the documented higher bounds."""
    _sweep(registry_runs, sorted(_TINY_BROADCAST_OK), _broadcast_faults)


def test_knn_join_uses_partial_window_group_limit(spark):
    """The batch k-NN per-query top-k must execute two-phase: a PARTIAL
    WindowGroupLimit per input partition ahead of the exchange (only
    ≤k rows per query per partition shuffle), never the full scored
    corpus. This is the Catalyst-native form of the hand-rolled
    local-top-k pattern — if a refactor loses the rank<=k filter shape,
    the partial limit disappears and this pins the regression."""
    df = _q(spark, "similarity_knn_join")
    plan = E.executed_plan(df)
    limits = [n for n in E.nodes(df) if n.nodeName() == "WindowGroupLimit"]
    assert "Partial" in [n.mode().toString() for n in limits], plan
    assert E.num_exchanges(df) == 1, plan


def test_deterministic_sample_is_scan_side(spark):
    """The hash-bucket sample filter must be a narrow scan-side filter:
    no shuffle, no Python — at 100 TB a sample that shuffles first
    defeats its own purpose."""
    df = _q(spark, "sample_deterministic_pct")
    assert E.num_exchanges(df) == 0, E.executed_plan(df)


def test_pii_redaction_stays_codegen(spark):
    """Regex scrub is a pure map stage: zero shuffles, zero Python."""
    df = _q(spark, "text_redact_pii")
    assert E.num_exchanges(df) == 0, E.executed_plan(df)
    assert E.codegen_stage_count(df) >= 1


def test_merge_upsert_single_shuffle(spark):
    """MERGE-shape upsert = one exchange on the merge key (the window's
    partitionBy); updates and base co-shuffle in the same exchange."""
    df = _q(spark, "documents_merge_upsert")
    assert E.num_exchanges(df) <= 1, E.executed_plan(df)


def test_grouping_sets_single_expand_pass(spark):
    """GROUPING SETS must be one Expand + hash-agg pass over the scan,
    not one job per dimension."""
    df = _q(spark, "events_grouping_sets")
    plan = E.executed_plan(df)
    assert E.count_ops(df, "Expand") >= 1, plan
    # one shuffle for the (expanded) group keys
    assert E.num_exchanges(df) <= 1, plan


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Scale machinery pin: with a selective filter on the build side of
    a shuffle join, the optimizer must inject a runtime bloom filter
    into the fact scan (might_contain over bloom_filter_agg) so the
    fact table is pruned BEFORE the exchange. Thresholds are lowered
    here because the payoff condition (fact bytes >> filtered build
    side) only exists at cluster scale; session.py enables the feature
    so a real deployment gets this plan automatically."""
    from data_ingestion_py_spark.io import load_table

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_SMOKE, "orders")
        l = load_table(spark, SF_SMOKE, "lineitem")
        sel = o.where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            l.join(sel, l.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = E.executed_plan(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# queries whose plan legitimately contains partition-less windows — a
# Window, or a final WindowGroupLimit, with an empty partitionSpec (a
# map-side Partial limit runs per partition and does not count). Every
# such node counts, wherever it sits: one fed by an Exchange
# SinglePartition, one stacked directly on another window in the same
# task, one over a single-partition input with no Exchange below it.
# They are counted in the final plan, where a window below a reused
# exchange runs, and counts, once. Every entry's window input is
# provably BOUNDED (calendar-sized or partition-count-sized), never
# row-proportional:
#   orders_yoy_revenue        lag over the year rollup (rows = years)
#   orders_rolling_7d_revenue range window over the day rollup
#                             (rows = calendar days)
#   corpus_pack_sequences     packing offsets table (rows = id-ranges,
#                             operators/packing.py two-phase form).
#                             NOTE: its default derived-range_size path
#                             localCheckpoints, so the executed plan
#                             shows Scan ExistingRDD — scan-level
#                             assertions (pushed_filters/read_schemas)
#                             on this query must use an explicit
#                             range_size build instead.
#   customer_rfm_segments     3x ranking offsets tables (rows =
#                             shuffle partitions, operators/ranking.py)
#   orders_pareto_revenue     1x ranking offsets table (same)
# name -> max allowed count, so a regression that ADDS one still fails.
_BOUNDED_GLOBAL_WINDOW_OK = {
    # RRF fusion: two row_number windows, each over a ≤20-row LIMIT
    # shortlist (per-leg top-k already cut) — bounded by construction
    "text_rrf_hybrid_search": 2,
    "orders_yoy_revenue": 1,
    "orders_rolling_7d_revenue": 1,
    "corpus_pack_sequences": 1,
    "customer_rfm_segments": 3,
    "orders_pareto_revenue": 1,
    # second node: a window stacked on the first in the same task
    # (measured inputs [1, 1])
    "orders_exact_quantiles": 2,
    # two-phase global rank: offsets window runs over the bounded
    # per-partition-count aggregate (operators/ranking.py:94-98)
    "corpus_global_shuffle": 1,
    "corpus_length_powerlaw": 1,
    # Heaps-law: with_global_rank's offsets window over the
    # #partitions-row aggregate (two cumsums ride one window spec)
    "corpus_heaps_law": 1,
    # budget planning: rank+cumsum over the SOURCE-cardinality
    # aggregate (~1e2-1e4 rows at any corpus size)
    "corpus_token_budget_allocation": 1,
    # Gini rank formula over the same source-cardinality rollup; the
    # second node is a window stacked on the first in the same task
    # (measured inputs [20, 20])
    "corpus_source_gini": 2,
    # per-group quantile transform: with_global_rank's offsets window
    # over the #partitions-row aggregate; its second offsets window sits
    # below an exchange AQE reuses, so the final plan holds one
    "customer_quantile_normalize": 1,
    # decile gains: 2 offsets windows (with_global_rank) + the cumsum
    # over the 10-row decile rollup
    "customer_decile_gains": 3,
    # sorted-neighborhood linkage: one with_global_rank offsets window
    # over the #partitions-row aggregate (the second sits below a
    # reused exchange, as in customer_quantile_normalize)
    "parts_sorted_neighborhood": 1,
    # one window over the single-partition calendar spine (a Generate,
    # no Exchange below it; measured input 4274), bounded by the
    # _WINDOW_INPUT_BOUNDS entries below
    "events_gap_fill_locf": 1,
    "events_gap_fill_interp": 1,
}


# calendar-grain overrides: the gap-fill spine is one row per 10-minute
# bin over the generator's FIXED event time span — measured 4274 at
# every SF (more data densifies the bins, it doesn't lengthen the
# calendar), so the input is constant in data volume; the override
# leaves room for a longer planted span while still tripping on
# anything data-proportional.
_WINDOW_INPUT_BOUNDS = {
    "events_gap_fill_locf": 65536,
    "events_gap_fill_interp": 65536,
}


def _window_input_faults(name, facts):
    bound = _WINDOW_INPUT_BOUNDS.get(name, 4096)
    rows = [r for r in facts.windows if r is not None]
    if oversized := [r for r in rows if r > bound]:
        yield (
            f"partition-less window input(s) {oversized} exceed {bound} "
            "rows — use the two-phase global-rank/offsets form"
        )


def test_single_partition_window_inputs_measured_bounded(registry_runs):
    """The bounded-window allowlist as a MEASURED contract (the
    bnlj-broadcast-lint pattern applied to windows): execute EVERY
    registry query at SF_SMOKE and read the actual input row count of
    every partition-less window (the same nodes the count lint below
    counts) off the final plan's SQL metrics. Every such window must
    stay under a grain constant (4096 rows —
    an order of magnitude above the biggest legitimate bounded input:
    calendar-day spines, #shuffle-partitions offset tables, top-k
    shortlists) no matter which query it hides in; a future window
    over a corpus-proportional input fails here even if its query
    name is allowlisted for plan SHAPE above."""
    _sweep(registry_runs, QUERIES, _window_input_faults)


def _window_count_faults(name, facts):
    n = len(facts.windows)
    if n > (cap := _BOUNDED_GLOBAL_WINDOW_OK.get(name, 0)):
        yield (
            f"{n} partition-less window(s), allowed {cap} — "
            "use the two-phase global-rank/offsets form"
        )


def test_no_unbounded_single_partition_windows(registry_runs):
    """No registry query may single-partition a row-proportional input
    through a partition-less Window. The allowlist above enumerates the
    windows that run over bounded aggregates (the correct two-phase
    form); anything else must use operators/ranking.py or
    operators/packing.py. This pins VERDICT r2 finding #2 permanently."""
    _sweep(registry_runs, QUERIES, _window_count_faults)


def test_plans_are_read_through_explain():
    """Outside ``plans/explain.py`` neither the package nor the tests
    call ``.executedPlan()``: every plan fact goes through its one node
    walker. Strings and comments are not code."""
    roots = [Path(E.__file__).parents[1], Path(__file__).parent]
    assert code_matches(r"\.\s*executedPlan\s*\(", roots, E.__file__) == []


def test_package_has_one_decode_path():
    """No package module imports PyMuPDF, pytesseract, Pillow or spaCy,
    or keeps a ``HAVE_*`` flag: each format has one decode path, the
    pure kernel, not a second one picked by whichever library imports."""
    pkg = Path(E.__file__).parents[1]
    # one import statement is one line: tokens joined by single spaces
    libs = "(?:fitz|pytesseract|PIL|spacy)"
    imports = rf"\b(?:from|import(?: [\w. ]+ ,)*) {libs}\b"
    assert code_matches(imports, [pkg], "") == []
    assert code_matches(r"\bHAVE_\w", [pkg], "") == []


def test_intermediates_pin_by_local_checkpoint():
    """The package pins an intermediate one way: an eager
    ``localCheckpoint`` at the call site. No module calls ``.persist(``
    or ``.cache(`` or names a ``storage_level``, except
    ``catalog/actions.py``'s command cache, which its caller releases.
    Strings and comments are not code."""
    pkg = Path(E.__file__).parents[1]
    pattern = r"\.\s*(?:persist|cache)\s*\(|\bstorage_level\b"
    assert code_matches(pattern, [pkg], pkg / "catalog" / "actions.py") == []


def test_registry_is_built_once_per_session(registry_runs):
    """Oracle parity and the five lints above share one build and one
    run of each registry query (``registry_runs``)."""
    for name in QUERIES:
        registry_runs.facts(name)
    assert set(registry_runs.builds.values()) == {1}, registry_runs.builds


def test_lints_flag_bad_plans(spark):
    """Deliberately bad plans, read the way the memo reads a registry
    query, are flagged by the same fault functions the lints apply; a
    fault function listed as clean for a plan must not flag it."""
    r = spark.range
    udf = F.udf(lambda x: x + 1, "long")
    big = F.broadcast(r(2000).withColumnRenamed("id", "b"))
    # global top-k by rank, in an order each partition has to sort: a
    # Window over a final WindowGroupLimit, both partition-less, fed by
    # map-side Partial limits that cut each partition to 5 rows first
    rk = F.rank().over(Window.orderBy((F.col("id") * 7919) % 5000))
    topk = r(5000).select(rk.alias("rk")).where("rk <= 5")
    # a UDF and a cartesian inside a cached input, below its
    # InMemoryTableScan (over r(7): no case above is served from it)
    cached = r(7).select(udf("id").alias("u")).crossJoin(r(7)).persist()
    try:
        for df, flagged, clean in [
            (r(3).crossJoin(r(3)), [_cartesian_faults], []),
            (r(3).select(udf("id")), [_python_eval_faults], []),
            (
                r(5000).select(F.row_number().over(Window.orderBy("id"))),
                [_window_input_faults, _window_count_faults],
                [],
            ),
            (topk, [_window_count_faults], [_window_input_faults]),
            (
                r(10).join(big, F.col("id") + F.col("b") == 5),
                [_broadcast_faults],
                [],
            ),
            (
                cached.groupBy().count(),
                [_python_eval_faults, _cartesian_faults],
                [],
            ),
        ]:
            facts, _ = run_and_read(df)
            for f in flagged:
                assert list(f("bad_plan", facts)), (f.__name__, facts)
            for f in clean:
                assert not list(f("bad_plan", facts)), (f.__name__, facts)
    finally:
        cached.unpersist()


def test_reused_exchange_is_walked_once(spark):
    """A self-join whose second side AQE reuses: the window below the
    reused exchange runs once, so the final plan holds one window (its
    input measured once) and two shuffle exchanges, not the reused
    subtree a second time."""
    rn = F.row_number().over(Window.orderBy("id")) % 7
    side = spark.range(3000).select(rn.alias("k")).repartition(4, "k")
    side = side.groupBy("k").count()
    df = side.alias("l").join(side.alias("r").hint("merge"), "k")
    facts, _ = run_and_read(df)
    ops, plan = E.op_counts(df), E.executed_plan(df)
    assert ops["ReusedExchange"] == 1 and facts.windows == [3000], plan
    assert ops["Window"] == 1 and ops["Exchange"] == 2, plan
