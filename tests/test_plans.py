"""Plan-shape assertions (SURVEY §4: what Catalyst must give us).

These are the scale guarantees: a plan that stops pushing filters into
the scan or stops broadcasting query terms would still pass value
checks at sf0.01 but regress at 100 TB — so the plan itself is tested.
"""

from __future__ import annotations

import pytest

from snowplow_elasticsearch_loader_spark import contract as C
from snowplow_elasticsearch_loader_spark.plans import assert_in_plan, assert_not_in_plan


def test_lineitem_filter_pushdown(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_lineitem_pricing"](spark, sf_tiny)
    assert_in_plan(df, "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
    # aggregate must be partial+final hash agg, no sort-based fallback
    assert_in_plan(df, "HashAggregate")


@pytest.mark.parametrize(
    "name",
    [
        "q_bm25_topk",  # the fused path
        # the shared naive scaffold: bm25.score_queries + bm25.topk
        "q_bm25_filtered_topk",
        "q_bm25_collapse_topk",
        "q_function_score_topk",
        "q_query_string_topk",
    ],
)
def test_bm25_naive_broadcasts_query_terms(spark, sf_tiny, name):
    df = C.SPARK_QUERIES[name](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_wand_scan_prunes_partitions_and_pushes_terms(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_bm25_topk_wand"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [term_bucket", "In(term, [")
    # r6: query weights ride the evaluator closure — ONE Arrow group
    # stage per range, no qterms broadcast join in the plan at all
    assert_in_plan(df, "FlatMapGroupsInPandas", "WindowGroupLimit")
    assert_not_in_plan(df, "BroadcastHashJoin")


def test_postings_single_exchange(spark, sf_tiny):
    import re

    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_postings_tf"](spark, sf_tiny)
    plan = formatted_plan(df)
    # partial+final agg around exactly one shuffle (formatted output
    # names each operator once in the detail section: "(n) Exchange")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan[:2000]


def test_documents_scan_prunes_columns(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_doc_stats"](spark, sf_tiny)
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    plan = formatted_plan(df)
    # only doc_id+text may be read for doclen; lang/source must be pruned
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan[:2000]


def test_dedup_pairs_have_no_cartesian(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_minhash_lsh_pairs"](spark, sf_tiny)
    assert_not_in_plan(df, "CartesianProduct")
    df2 = C.SPARK_QUERIES["q_ngram_jaccard_pairs"](spark, sf_tiny)
    assert_not_in_plan(df2, "CartesianProduct")


def test_embed_neardup_has_no_cartesian(spark, sf_tiny):
    """The banded-LSH near-dup path must generate candidates via
    equi-joins on (band, bucket) — never a cross product (r01's
    crossJoin was the scale-killer this replaces)."""
    df = C.SPARK_QUERIES["q_embed_neardup_pairs"](spark, sf_tiny)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_phrase_scan_is_pruned_and_never_rescans_corpus(spark, sf_tiny):
    """match_phrase must answer from the positional index: partition-
    pruned block scan, and NO scan of the documents table anywhere in
    the plan (r01 re-normalized the whole corpus per phrase batch)."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_phrase_topk"](spark, sf_tiny)
    # r6: query weights/offsets ride the evaluator closure — one Arrow
    # group stage per range, no qterms broadcast join in the plan
    assert_in_plan(df, "PartitionFilters: [term_bucket", "FlatMapGroupsInPandas")
    assert_not_in_plan(df, "BroadcastHashJoin")
    plan = formatted_plan(df)
    assert "documents" not in plan, plan[:3000]


def test_ivf_materialized_prunes_partitions_and_matches(spark, sf_tiny):
    """IVF over the partitioned cell layout must read ONLY the probe
    cell (PartitionFilters on ivf_cell, no per-row cell computation in
    the scan) and return exactly what the on-the-fly path returns."""
    df = C.SPARK_QUERIES["q_ann_ivf_topk_materialized"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [isnotnull(ivf_cell")
    got = [(r["rank"], r["vec_id"]) for r in df.collect()]
    ref = [
        (r["rank"], r["vec_id"])
        for r in C.SPARK_QUERIES["q_ann_ivf_topk"](spark, sf_tiny).collect()
    ]
    assert got == ref


def test_footer_cuts_join_detection_is_node_based(spark, tmp_path):
    """ADVICE r3 (low): join detection must inspect plan NODES, not the
    pretty-printed string — a column literally named 'joinDate' must NOT
    disable the footer-cuts optimization, while a real join must."""
    from snowplow_elasticsearch_loader_spark.operators.docs import _footer_cuts

    p = str(tmp_path / "fc")
    df = spark.range(200).selectExpr(
        "concat('conv-', lpad(cast(id as string), 8, '0')) as conv_id",
        "cast(id as int) as turn_idx",
        "cast(id as string) as joinDate",
    )
    df.repartitionByRange(6, "conv_id").write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    # bare scan with a 'Join'-substring column name: cuts produced
    assert _footer_cuts(scan.select("conv_id", "turn_idx", "joinDate"), 4)
    # real join: refused (other side's files would pollute the cuts)
    other = spark.range(5).selectExpr("concat('conv-', lpad(cast(id as string), 8, '0')) as conv_id")
    joined = scan.join(other, "conv_id", "left_anti")
    assert _footer_cuts(joined, 4) is None


def test_footer_reads_refuse_plans_that_add_rows(spark, tmp_path):
    """Footer row counts are used as UPPER bounds on a plan's rows, so
    a Union or Generate above the scan (which can emit more rows than
    the files hold) must make them refuse, like a Join; a bare scan
    keeps its footer count and cuts."""
    from pyspark.sql import functions as F

    from snowplow_elasticsearch_loader_spark.operators.docs import (
        _footer_cuts,
        footer_row_count,
    )

    p = str(tmp_path / "fr")
    spark.range(1000).selectExpr(
        "concat('conv-', lpad(cast(id as string), 8, '0')) as conv_id",
        "cast(id as int) as turn_idx",
    ).repartitionByRange(2, "conv_id").write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    assert footer_row_count(scan) == 1000
    assert footer_row_count(scan.filter("turn_idx < 10")) == 1000
    assert _footer_cuts(scan, 2)
    union = scan.union(scan)
    exploded = scan.select("conv_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("x"))
    assert (union.count(), exploded.count()) == (2000, 3000)
    for df in (union, exploded):
        assert footer_row_count(df) is None
        assert _footer_cuts(df, 2) is None


def test_blocks_build_single_exchange_at_range_granularity(spark, tmp_path):
    """The block build's explicit one-task-per-range repartition must be
    reused by the groupBy (ONE Exchange total — the doc-store shuffle)
    and must not be coalesced away by AQE."""
    from snowplow_elasticsearch_loader_spark.operators import index_build

    df = spark.range(2000).selectExpr("id as doc_id", "concat('text ', id) as text")
    plan = index_build.build_blocks_df(df, 50.0, num_ranges=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # partitioning is the user-specified one (REPARTITION_BY_COL hint
    # compiles to a shuffle whose partitioning AQE must preserve)
    assert "FlatMapGroupsInPandas" in plan


def test_terms_agg_uses_takeordered_not_global_sort(spark, sf_tiny):
    """The terms aggregation's top-N must execute as
    TakeOrderedAndProject (per-partition heaps + driver merge), not a
    full global sort of the vocabulary — the difference between O(N)
    and a vocabulary-wide range shuffle at corpus scale."""
    df = C.SPARK_QUERIES["q_terms_agg"](spark, sf_tiny)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_prefix_expansion_pushes_startswith(spark, sf_tiny):
    """Prefix-query term expansion must reach the termdict scan as a
    pushed StringStartsWith filter (the dictionary range-seek), and the
    candidate join must be a broadcast equi-join — no nested-loop."""
    df = C.SPARK_QUERIES["q_prefix_topk"](spark, sf_tiny)
    assert_in_plan(df, "StringStartsWith(term,")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_collapse_topk_no_cartesian_and_group_limit(spark, sf_tiny):
    """Field collapsing ranks with two windows; both must run with
    window-group-limit pushdown (rank<=k prunes before the final
    sort) and without any cross product."""
    df = C.SPARK_QUERIES["q_bm25_collapse_topk"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_search_after_filters_below_ranking_window(spark, sf_tiny):
    """search_after's scale property: the cursor is a VALUE filter on
    the scored set applied BEFORE the page's ranking window — page
    depth must never grow the ranked set. The physical plan must show
    the cursor comparison (score < / = cursor, doc_id > cursor) as a
    Filter feeding the Window, and the cursor side broadcast."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_bm25_search_after"](spark, sf_tiny)
    plan = formatted_plan(df)
    # cursor joined by broadcast (one row per query — never a shuffle)
    assert "BroadcastHashJoin" in plan
    # the keyset predicate survives as a real filter condition on the
    # scored set (not folded away, not applied post-window)
    assert "c_score" in plan and "c_doc" in plan, "cursor predicate absent from plan"
    # the page ranking runs with the rank<=k limit pushed into the
    # window operator (WindowGroupLimit), on the FILTERED set
    assert "WindowGroupLimit" in plan
    # no per-query cartesian anywhere
    assert "CartesianProduct" not in plan


def test_adjacency_matrix_single_row_agg(spark, sf_tiny):
    """adjacency_matrix's scale property: the bucket matrix is ONE
    partial+final aggregation producing a single metadata-sized row
    (6 conditional longs), unpivoted driver-free with stack — never a
    per-bucket union of corpus scans and never a join."""
    import re

    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_adjacency_matrix_agg"](spark, sf_tiny)
    plan = formatted_plan(df)
    # exactly one exchange: the partial agg's single-row gather
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan[:2000]
    # one scan of documents, not one per bucket
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, plan[:2000]
    assert "Join" not in plan


def test_completion_suggest_broadcasts_probes(spark, sf_tiny):
    """The suggester joins the metadata-sized probe table against the
    term dictionary by broadcast (range predicate, no shuffle of the
    dictionary) and ranks with the group limit pushed into the
    window."""
    df = C.SPARK_QUERIES["q_completion_suggest"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_terms_set_pushes_set_terms_into_scan(spark, sf_tiny):
    """terms_set candidates come from the set terms' postings only:
    the term IN (...) predicate must reach the postings derivation so
    candidate volume is bounded by the set's df, not the corpus."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_terms_set_topk"](spark, sf_tiny)
    plan = formatted_plan(df)
    assert "IN (hash,join,merge,sort)" in plan, "set-term filter absent from plan"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_percolate_broadcasts_query_terms_no_cartesian(spark, sf_tiny):
    """Percolation scales with the incoming BATCH, not the registered
    query count: the query-terms table must enter as a broadcast
    (metadata-sized literal relation) joined to the batch postings —
    never a shuffle of the batch per query, never a cartesian."""
    df = C.SPARK_QUERIES["q_percolate"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_ids_query_pushes_in_list_to_scan(spark, sf_tiny):
    """The ids query is the doc-store point-read path: the IN-list must
    reach the parquet scan as a pushed filter so only matching row
    groups are read (footer min/max prune the rest at scale)."""
    df = C.SPARK_QUERIES["q_ids_query"](spark, sf_tiny)
    assert_in_plan(df, "PushedFilters: [In(doc_id")


def test_dis_max_same_plan_family_as_bm25(spark, sf_tiny):
    """dis_max reuses the term-pushed candidate plan: broadcast query
    weights, one partial+final agg over (query, doc), window top-k —
    the max/sum blend must not introduce a second corpus exchange."""
    df = C.SPARK_QUERIES["q_dis_max_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_string_stats_entropy_exchange_is_alphabet_sized(spark, sf_tiny):
    """string_stats' entropy distribution groups by single characters:
    the plan must be partial+final hash aggregation (map-side combine
    collapses each task to O(|alphabet|) rows before the exchange)."""
    df = C.SPARK_QUERIES["q_string_stats_agg"](spark, sf_tiny)
    assert_in_plan(df, "HashAggregate")
    assert_not_in_plan(df, "CartesianProduct")


def test_knn_filter_is_pushed_to_scan(spark, sf_tiny):
    """ES knn.filter semantics demand the filter restrict candidates
    BEFORE k selection; in the exact path that means the label
    predicate must reach the parquet scan so a 100 TB embedding table
    reads only the filtered stripe."""
    df = C.SPARK_QUERIES["q_knn_filtered_topk"](spark, sf_tiny)
    assert_in_plan(df, "EqualTo(label,3)")
    assert_not_in_plan(df, "CartesianProduct")


def test_rrf_fusion_joins_topk_sides_only(spark, sf_tiny):
    """RRF fuses two top-100 rankings: the fusion join runs above the
    rank windows (WindowGroupLimit caps each side), so the full outer
    join is bounded by 2x rank_window_size rows at any corpus size —
    no corpus-sized join and no cartesian anywhere."""
    df = C.SPARK_QUERIES["q_rrf_hybrid_topk"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_pinned_union_keeps_organic_plan_family(spark, sf_tiny):
    """The pinned side must stay a driver-literal relation (the
    Range+Generate lowering of literal_df — never a pickled-RDD scan
    that forks Python workers) and the organic side the standard
    broadcast+window top-k plan."""
    df = C.SPARK_QUERIES["q_pinned_topk"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct", "Scan ExistingRDD")


def test_random_sampler_filters_at_scan_level(spark, sf_tiny):
    """The sampling predicate is an arithmetic filter over doc_id: it
    must sit directly on the scan (no shuffle before the sample) and
    aggregate partial+final to a singleton."""
    df = C.SPARK_QUERIES["q_random_sampler_agg"](spark, sf_tiny)
    assert_in_plan(df, "HashAggregate")
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "SortMergeJoin")


def test_intervals_and_span_first_never_rescan_corpus(spark, sf_tiny):
    """Positional queries answer from the index: intervals' three-way
    postings self-join and span_first's single posting-list scan must
    both prune to the probed terms (pushed In/EqualTo on term) and
    never join corpus-sized relations without a key."""
    df = C.SPARK_QUERIES["q_span_first_topk"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [isnotnull(term_bucket", "EqualTo(term,merge)")
    assert_not_in_plan(df, "CartesianProduct")
    df2 = C.SPARK_QUERIES["q_intervals_topk"](spark, sf_tiny)
    assert_not_in_plan(df2, "CartesianProduct")


def test_combined_fields_single_postings_exchange(spark, sf_tiny):
    """combined_fields tokenizes the joined fields once — the plan is
    q_bm25_topk's (broadcast query weights + window top-k), not a
    per-field union of scans."""
    df = C.SPARK_QUERIES["q_combined_fields_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_change_point_windows_run_over_bucket_series(spark, sf_tiny):
    """change_point's global windows must sit ABOVE the daily
    aggregation (one row per day), never over the raw events scan.
    The formatted detail section numbers nodes leaf-first, so the
    aggregate's node id must be LOWER than every Window's."""
    import re

    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_change_point_agg"](spark, sf_tiny)
    plan = formatted_plan(df)
    nodes = re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
    agg_ids = [int(i) for i, op in nodes if op == "HashAggregate"]
    win_ids = [int(i) for i, op in nodes if op == "Window"]
    assert agg_ids and win_ids, plan[:2000]
    assert max(agg_ids) < min(win_ids), nodes


def test_termvectors_prunes_doc_range_partitions(spark, sf_tiny):
    """The _termvectors doc-axis lookup must read only the requested
    docs' range_id partitions (derived driver-side from the effective
    range width), never the whole blocks table."""
    df = C.SPARK_QUERIES["q_termvectors"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [isnotnull(range_id")
    assert_not_in_plan(df, "CartesianProduct")


def test_count_api_broadcasts_query_terms(spark, sf_tiny):
    """_count is a semi-join from term-pushed postings to a distinct
    count: the query-term literal must broadcast and the absent-term
    query must NOT force a corpus-sized outer join (the left join runs
    over the 8-row query-key literal)."""
    df = C.SPARK_QUERIES["q_count_api"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct", "Scan ExistingRDD")


def test_fuzzy_expansion_is_deletion_neighborhood_equijoin(spark, sf_tiny):
    """The fuzzy expansion must prune the term dictionary through the
    SymSpell deletion-neighborhood EQUI-join (hash join on the shared
    delete-variant), never a BroadcastNestedLoopJoin evaluating
    levenshtein against every dictionary term — the difference between
    an FST-walk analog and 10^8 x P edit-distance evaluations on a
    real corpus (VERDICT r4 #3)."""
    from pyspark.sql import functions as F

    from snowplow_elasticsearch_loader_spark.functions.localdf import literal_df
    from snowplow_elasticsearch_loader_spark.operators import postings as P

    docs = C._docs(spark, sf_tiny)
    ts = P.term_stats(P.build_postings(docs))
    probes = literal_df(spark, [(p,) for p in C._FUZZY_PROBES], "query_id string")
    probe_vars = probes.select(
        "query_id", F.explode(C._deletion_variants("query_id")).alias("v")
    ).distinct()
    term_vars = ts.select("term", "df", F.explode(C._deletion_variants("term")).alias("v"))
    cand = (
        term_vars.join(F.broadcast(probe_vars), "v")
        .select("query_id", "term", "df")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.col("query_id")) <= 1)
    )
    assert_in_plan(cand, "BroadcastHashJoin")
    assert_not_in_plan(cand, "BroadcastNestedLoopJoin", "CartesianProduct")


def test_deletion_neighborhood_is_complete_for_distance_1():
    """Property backing the equi-join rewrite: lev(a,b) <= 1 implies the
    deletion neighborhoods intersect (the join can only LOSE a match if
    this fails; false candidates are removed by the verify filter)."""
    import itertools

    def dn(s):
        return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    alphabet = "abc"
    words = ["".join(w) for n in range(0, 4) for w in itertools.product(alphabet, repeat=n)]
    for a in words:
        for b in words:
            if lev(a, b) <= 1:
                assert dn(a) & dn(b), (a, b)


# --- batches 12-13 (r5 close): parent/child, _mget, scroll, lookup, suggest

def test_mget_pushes_id_list_and_broadcasts_pruned_hits(spark, sf_tiny):
    """_mget must be a point lookup: the id list pushed into the scan
    as an IN filter (row-group pruning at corpus scale), and the
    missing-id-preserving left join must broadcast the PRUNED hit set
    (build right) — never shuffle the corpus."""
    df = C.SPARK_QUERIES["q_mget"](spark, sf_tiny)
    assert_in_plan(df, "In(doc_id, [", "BroadcastHashJoin")
    assert_not_in_plan(df, "SortMergeJoin", "CartesianProduct")


def test_terms_lookup_topk_is_sort_limit_not_global_window(spark, sf_tiny):
    """The matched set is corpus-sized for hot lookup terms, so the
    global top-k must plan as TakeOrderedAndProject (per-partition
    top-k merged on the driver), not a single-partition window over
    every matched doc."""
    df = C.SPARK_QUERIES["q_terms_lookup"](spark, sf_tiny)
    assert_in_plan(df, "TakeOrderedAndProject", "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_has_child_and_parent_no_cartesian(spark, sf_tiny):
    """Join-field queries roll children up to parents with
    partial-aggregable max/sum on the co-partitioned conv key — no
    cartesian anywhere, hash aggregation throughout."""
    for name in ("q_has_child_topk", "q_has_parent_topk", "q_children_agg"):
        df = C.SPARK_QUERIES[name](spark, sf_tiny)
        assert_in_plan(df, "HashAggregate")
        assert_not_in_plan(df, "CartesianProduct")


def test_scroll_pushes_topk_window_limit(spark, sf_tiny):
    """Scroll is one top-(pages*size) plan: the rank window must carry
    a group-limit pushdown (WindowGroupLimit), not rank the full hit
    list and filter after."""
    df = C.SPARK_QUERIES["q_scroll"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit")


def test_reindex_pushes_query_filter_and_prunes_columns(spark, sf_tiny):
    """_reindex's source query must reach the parquet scan (filter
    pushdown) and read only the projected columns."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_reindex"](spark, sf_tiny)
    plan = formatted_plan(df)
    assert "EqualTo(lang," in plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_phrase_suggest_candidates_use_deletion_equijoin(spark, sf_tiny):
    """The suggester's per-slot candidate expansion must ride the same
    deletion-neighborhood hash join as the fuzzy query; the only
    nested-loop join allowed is the broadcast cross of the two
    driver-tiny candidate slots (bounded like max_expansions)."""
    df = C.SPARK_QUERIES["q_phrase_suggest"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct", "SortMergeJoin")


def test_distance_feature_and_runtime_field_keep_bm25_plan_family(spark, sf_tiny):
    """Both queries are one JVM projection/filter over the scored
    candidate set joined to the doc store: broadcast joins and a
    group-limited rank window, same family as q_bm25_topk."""
    for name in ("q_distance_feature_topk", "q_runtime_field_topk"):
        df = C.SPARK_QUERIES[name](spark, sf_tiny)
        assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
        assert_not_in_plan(df, "CartesianProduct")


# --- batch 14 (r5 close): match_bool_prefix, terms_enum, indices_boost,
#     variable_width_histogram

def test_match_bool_prefix_expansion_is_pushed_startswith(spark, sf_tiny):
    """The prefix clause must expand via a pushed StartsWith range
    predicate on the term stats (dictionary seek), broadcast into the
    postings join — never a non-equi join against the corpus."""
    df = C.SPARK_QUERIES["q_match_bool_prefix_topk"](spark, sf_tiny)
    assert_in_plan(df, "StartsWith", "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_terms_enum_touches_dictionary_only(spark, sf_tiny):
    """_terms_enum is a dictionary seek: StartsWith pushed to the
    termdict scan, no postings or doc-store join anywhere, and the
    per-prefix order-by group-limited (never ranking the full
    dictionary slice past size)."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_terms_enum"](spark, sf_tiny)
    plan = formatted_plan(df)
    assert "StartsWith" in plan
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_indices_boost_keeps_bm25_plan_family(spark, sf_tiny):
    """indices_boost is one JVM projection over the scored candidates
    joined to the doc store's shard column: broadcast joins, group-
    limited rank window, no cartesian."""
    df = C.SPARK_QUERIES["q_indices_boost_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_variable_width_histogram_windows_domain_not_corpus(spark, sf_tiny):
    """The corpus must be compressed to the distinct-value domain by a
    partial-aggregable groupBy BEFORE the single-partition cumulative
    window runs — the window input is domain-sized (bounded by max doc
    length), never doc-sized. The scan must prune to the one numeric
    column."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_variable_width_histogram"](spark, sf_tiny)
    plan = formatted_plan(df)
    # partial agg (map-side combine) feeds the exchange, window after
    assert plan.index("HashAggregate") < plan.index("Window")
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_chars" in read and "text" not in read


def test_simple_query_string_broadcasts_clauses_no_cartesian(spark, sf_tiny):
    """SQS candidates come from a term-pushed postings scan joined to a
    broadcast clause table; the must-coverage count rides the score
    aggregation and exclusion is an anti-join — never a cartesian."""
    df = C.SPARK_QUERIES["q_simple_query_string_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_span_or_and_within_prune_term_buckets(spark, sf_tiny):
    """Both new span queries read ONLY the probed terms' partitions of
    the positional block store (term_bucket pruning like span_not) and
    push the term list into the scan."""
    for name in ("q_span_or_topk", "q_span_within_topk"):
        df = C.SPARK_QUERIES[name](spark, sf_tiny)
        assert_in_plan(df, "PartitionFilters: [term_bucket")
        assert_not_in_plan(df, "CartesianProduct")


def test_parent_id_pushes_docid_ranges(spark, sf_tiny):
    """The conv->doc contiguity contract must surface as doc_id range
    predicates IN THE SCAN (zone-map seeks at scale), not a post-scan
    filter on a computed conv column."""
    df = C.SPARK_QUERIES["q_parent_id_children"](spark, sf_tiny)
    assert_in_plan(df, "PushedFilters: [Or(Or(And(GreaterThanOrEqual(doc_id,")


def test_significant_text_sample_is_group_limited(spark, sf_tiny):
    """The sampler (top-N hits per query) must run as a group-limited
    window over broadcast-joined candidates — the foreground fan-out
    is bounded by the sample, so no full-corpus window may appear."""
    df = C.SPARK_QUERIES["q_significant_text_agg"](spark, sf_tiny)
    assert_in_plan(df, "WindowGroupLimit", "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_wrapper_query_keeps_bm25_plan_family(spark, sf_tiny):
    """The wrapper decodes on the driver; the executed plan must be
    indistinguishable from the plain match query's."""
    df = C.SPARK_QUERIES["q_wrapper_query_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_span_containing_prunes_term_buckets(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_span_containing_topk"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [term_bucket")
    assert_not_in_plan(df, "CartesianProduct")


def test_field_caps_is_metadata_only(spark, sf_tiny):
    """_field_caps reads the SCHEMA, never the data: the returned plan
    must be a literal local relation with no file scan at all."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_field_caps"](spark, sf_tiny)
    plan = formatted_plan(df)
    # literal plan (Range+Generate or LocalTableScan) — no file scan
    assert ("LocalTableScan" in plan) or ("Range (" in plan), plan[:1500]
    assert "ReadSchema" not in plan, plan[:1500]
    assert "Scan parquet" not in plan, plan[:1500]


def test_nested_query_rolls_up_without_cartesian(spark, sf_tiny):
    """The per-turn conjunction must evaluate before the parent max
    rollup — broadcast/equi joins only, partial-aggregable max."""
    df = C.SPARK_QUERIES["q_nested_query"](spark, sf_tiny)
    assert_in_plan(df, "HashAggregate")
    assert_not_in_plan(df, "CartesianProduct")


def test_span_multi_prunes_buckets_and_broadcasts_expansion(spark, sf_tiny):
    """The dynamic prefix expansion is broadcast; the positional block
    scan partition-prunes to the expansion's buckets."""
    df = C.SPARK_QUERIES["q_span_multi_topk"](spark, sf_tiny)
    assert_in_plan(df, "PartitionFilters: [term_bucket", "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_rank_feature_log_keeps_bm25_plan_family(spark, sf_tiny):
    df = C.SPARK_QUERIES["q_rank_feature_log_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_sparse_vector_broadcasts_weights_no_cartesian(spark, sf_tiny):
    """The learned-sparse dot product must run as a term-pushed
    postings scan joined to the broadcast token-weight literal."""
    df = C.SPARK_QUERIES["q_sparse_vector_topk"](spark, sf_tiny)
    assert_in_plan(df, "BroadcastHashJoin", "WindowGroupLimit")
    assert_not_in_plan(df, "CartesianProduct")


def test_bucket_correlation_moments_are_partial_aggregable(spark, sf_tiny):
    """Both passes (day buckets, then centered integer moments) must be
    hash aggregations with map-side combine; the min-centering join is
    a broadcast over group-cardinality rows."""
    df = C.SPARK_QUERIES["q_bucket_correlation_agg"](spark, sf_tiny)
    assert_in_plan(df, "HashAggregate")
    assert_not_in_plan(df, "CartesianProduct")


def test_bucket_ks_windows_domain_not_corpus(spark, sf_tiny):
    """The ECDF window must run over the aggregated (type x day)
    domain — the corpus is compressed by partial hash aggs BEFORE any
    window; the domain cross sits above aggregated inputs only."""
    from snowplow_elasticsearch_loader_spark.plans import formatted_plan

    df = C.SPARK_QUERIES["q_bucket_ks_test_agg"](spark, sf_tiny)
    plan = formatted_plan(df)
    assert plan.index("HashAggregate") < plan.index("Window")
