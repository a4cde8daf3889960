"""Physical-plan shape assertions: the 100 TB design rules, unit-tested.

Mirror of the reference's plan-matcher tests (presto-main/src/test/java/io/
prestosql/sql/planner/assertions/; SURVEY.md §5.6). Correctness tests prove
the small-SF answer is right; these prove the *plan* is the one that survives
a 1000-executor cluster: filters reach the parquet scan, dims broadcast,
candidate generation never degrades to a cartesian product, scans prune
columns.
"""

from __future__ import annotations

import pytest

from lyft_presto_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    count_exchanges,
)
from lyft_presto_spark.queries import all_queries

QS = all_queries()


def test_q6_filter_pushdown(spark, sf_dir):
    # Q6: every predicate is scan-pushable; the scan must carry them.
    df = QS["tpch_q6"].spark(spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")


def test_q6_column_pruning(spark, sf_dir):
    # Q6 touches 4 lineitem columns; the scan must not read more.
    df = QS["tpch_q6"].spark(spark, sf_dir)
    assert_read_schema_pruned(df, "lineitem", max_columns=4)


def test_q3_broadcasts_dimension(spark, sf_dir):
    # Filtered customer is tiny relative to lineitem: must broadcast.
    df = QS["tpch_q3"].spark(spark, sf_dir)
    assert_broadcast_join(df, expect=True)


def test_q1_single_agg_shuffle(spark, sf_dir):
    # Partial/final hash aggregation: exactly one hash exchange, plus the
    # final sort's range exchange. More would mean a redundant reshuffle.
    df = QS["tpch_q1"].spark(spark, sf_dir)
    assert count_exchanges(df) <= 2


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
     "dedup_incremental_minhash"],
)
def test_dedup_candidates_are_equijoins(spark, sf_dir, name):
    # LSH banding exists precisely to avoid all-pairs comparison; the plan
    # must contain no cartesian product.
    df = QS[name].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_incremental_delta_verdict_precedence_and_equijoins(spark, sf_dir):
    """NEW r13: incremental ingestion dedup. The fixture has NO exact
    duplicates (zero-row audit: the 'exact' branch would be vacuous on
    fixture evidence alone), so drive the template against a synthetic
    corpus where a batch doc is byte-identical to a corpus doc AND
    near-identical to another: 'exact' must win precedence, near verdicts
    must pick the best corpus match, and fresh docs keep. The fixture run
    then pins no-cartesian and batch-sided candidate generation."""
    from lyft_presto_spark.operators import text as T
    from lyft_presto_spark.queries.dedup_queries import _incremental_delta_sql

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions under a pale autumn moon tonight"
    )
    rows = [
        (1, base),                                   # corpus
        (2, base + " extra trailing words here"),    # corpus near-variant
        (3, "completely different corpus text about sailing ships and tides"),
        (7, base),                                   # batch: exact dup of 1 (and near 2)
        (14, base + " extra trailing words here appended"),  # batch: near of 2
        (21, "fresh unseen batch document about volcanic glass formations"),
    ]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").createOrReplaceTempView(
        "delta_probe_docs"
    )
    toks = T.tokens("text", "spark")
    sh = T.shingles("toks", "spark")
    spark.sql(
        f"""
        SELECT doc_id, size(sh) AS n_sh, {T.hash60("s", "spark")} AS h
        FROM (SELECT doc_id, {sh} AS sh
              FROM (SELECT doc_id, {toks} AS toks FROM delta_probe_docs))
        LATERAL VIEW explode(sh) AS s
        """
    ).createOrReplaceTempView("delta_probe_inv")
    out = spark.sql(
        _incremental_delta_sql("spark", inv_view="delta_probe_inv", src="delta_probe_docs")
    )
    by_id = {r.doc_id: r for r in out.collect()}
    assert set(by_id) == {7, 14, 21}  # exactly the batch (doc_id % 7 = 0)
    assert by_id[7].verdict == "exact" and by_id[7].matched_doc == 1
    assert by_id[7].near_jaccard is None  # exact wins precedence over near
    assert by_id[14].verdict == "near" and by_id[14].matched_doc == 2
    assert by_id[14].near_jaccard > 0.5
    assert by_id[21].verdict == "keep" and by_id[21].matched_doc is None
    # fixture run: candidate generation is equi-join only, batch-sided
    df = QS["dedup_incremental_delta"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    verdicts = {r.verdict for r in df.collect()}
    assert "near" in verdicts and "keep" in verdicts  # both live on the fixture


def test_ivf_partitioned_index_probe_prunes_partitions(spark, sf_dir):
    """NEW r13 (VERDICT r12 ask #6): the cell-partitioned IVF index write
    path. The probe's cell predicate must reach the parquet scan as
    PartitionFilters — whole cell directories pruned at planning, the
    ~nprobe/K I/O claim the partitionBy('cell') write makes at 100 TB —
    and the scan must touch only the probed partitions' files."""
    import re

    from lyft_presto_spark.queries.similarity_queries import _IVFPQ_NPROBE

    df = QS["sim_ivf_partition_probe"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert scan_lines, "index read-back scan missing from the plan"
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan_lines[0])
    assert pf and "c#" in pf.group(1) and pf.group(1).strip(), (
        f"cell predicate did not become a partition filter: {scan_lines[0][:200]}"
    )
    # pruning is real: the scanned relation exposes exactly the probed
    # partitions (selectedPartitions of the file index after pruning)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    cells_seen = {r.cell for r in rows}
    assert len(cells_seen) <= _IVFPQ_NPROBE
    dists = [r.l2q_dist for r in rows]
    assert dists == sorted(dists)
    assert all(r.vec_id != 0 for r in rows)  # query vector excluded


def test_ivf_index_upsert_census_matches_physical_append(spark, sf_dir, tmp_path):
    """NEW r13: index maintenance. The upsert census query promises what a
    physical append to the cell-partitioned index would produce; prove it —
    write the corpus cells partitionBy('c'), APPEND the batch's frozen-
    codebook codes (no retraining, no corpus re-coding), and the read-back
    per-cell counts must equal the query's n_after, with the same
    partition directories on disk."""
    import os

    from pyspark.sql import functions as F

    from lyft_presto_spark.queries.similarity_queries import (
        _UPSERT_BATCH_MOD,
        _pq_assign_cte,
        _pq_dist_cte,
        _upsert_staged,
    )

    census = {r.cell: r for r in QS["sim_ivf_index_upsert"].spark(spark, sf_dir).collect()}
    assert census and all(r.n_after == r.n_corpus + r.n_batch for r in census.values())
    assert any(r.n_batch > 0 for r in census.values())  # the batch is non-trivial
    v = _upsert_staged(spark, sf_dir)
    idx_path = str(tmp_path / "ups_idx")
    spark.sql(f"SELECT vec_id, c FROM {v['cells']}").write.partitionBy("c").parquet(idx_path)
    m = _UPSERT_BATCH_MOD
    bflat = (
        f"SELECT vec_id, CAST(0 AS INT) AS m, dim, xq FROM {v['flat']} "
        f"WHERE vec_id % {m} = {m - 1}"
    )
    batch_codes = spark.sql(
        f"WITH bflat AS ({bflat}),"
        + _pq_dist_cte("bd", v["ccb2"], "bflat")
        + ","
        + _pq_assign_cte("bcodes", "bd", "spark")
        + "SELECT vec_id, c FROM bcodes"
    )
    batch_codes.write.mode("append").partitionBy("c").parquet(idx_path)
    back = (
        spark.read.parquet(idx_path)
        .groupBy("c")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {r.c: r.n for r in back} == {c: r.n_after for c, r in census.items()}
    dirs = {d for d in os.listdir(idx_path) if d.startswith("c=")}
    assert dirs == {f"c={c}" for c in census}


def test_ivf_compaction_splits_only_overgrown_cells(spark, sf_dir):
    """NEW r14 (VERDICT r13 ask #6): the compaction decision must (a) touch
    only the triggered cells' vectors — plan has no cartesian, the member
    join is gated by the trigger semi-join — and (b) conserve the index:
    a split cell's subcell counts and vec_id checksums recompose exactly
    its census entry; untouched cells pass through as subcell -1; every
    split cell was genuinely above capacity (mean occupancy) and every
    pass-through cell at or below it."""
    census = {
        r.cell: r.n_after
        for r in QS["sim_ivf_index_upsert"].spark(spark, sf_dir).collect()
    }
    df = QS["sim_ivf_compaction"].spark(spark, sf_dir)
    assert_no_cartesian(df, allow_scalar_bnlj=True)
    rows = df.collect()
    # Post-upsert census counted vec_id 0 (the query vector) in its cell;
    # compaction excludes it from the index, so derive the compaction-side
    # census independently: total per cell = sum over that cell's rows.
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    totals = {c: sum(r.n_vecs for r in rs) for c, rs in by_cell.items()}
    mean_by_k = sum(totals.values()) / len(totals)
    split = {c for c, rs in by_cell.items() if any(r.subcell >= 0 for r in rs)}
    assert split, "no cell triggered — the capacity trigger is dead"
    for c, rs in by_cell.items():
        if c in split:
            # a split cell emits exactly subcells {0, 1}, both nonempty
            assert sorted(r.subcell for r in rs) == [0, 1]
            assert all(r.n_vecs > 0 for r in rs)
            assert totals[c] > mean_by_k  # genuinely above capacity
        else:
            assert [r.subcell for r in rs] == [-1]
            assert totals[c] <= mean_by_k
    # Index conservation vs the upsert census (modulo the excluded query
    # vector, which lives in exactly one cell). Per-cell, not summed
    # (ADVICE r14): a cross-cell leak (+1 here, -1 there) conserves the
    # total, so assert exactly one cell differs by exactly 1 (the query
    # vector's cell) and every other cell matches exactly.
    diff = {c: census[c] - totals.get(c, 0) for c in census}
    off = {c: d for c, d in diff.items() if d != 0}
    assert list(off.values()) == [1], (
        f"per-cell conservation violated (query-vector cell aside, every "
        f"cell must recompose exactly): {off}"
    )


def test_shared_span_stop_gram_cap_bounds_postings(spark, sf_dir):
    """VERDICT r12 #2: the shared-span seed index must cap ubiquitous seeds
    AS ALGEBRA — a boilerplate k-gram shared by n docs would otherwise emit
    n^2 hit rows before chaining. Drive the build against a synthetic
    corpus where 80 docs (> _SPAN_DF_CAP = 64) share one boilerplate
    sentence and 2 docs share a rare 12-token span: the boilerplate seeds
    must vanish from the index, per-seed postings must stay <= the cap,
    the rare span must still be detected, and no boilerplate pair may be
    reported."""
    from lyft_presto_spark.queries.dedup_queries import (
        _SPAN_DF_CAP,
        _shared_span_sql,
        _span_grams_build_sql,
    )

    boiler = "terms of service apply to all users of this site always"  # 11 toks
    rare = "zephyr quartz vexing gnome plucks bright jade flowers during warm dusk nights"  # 12 toks
    rows = [(i, f"uniq{i}a uniq{i}b {boiler}") for i in range(80)]
    rows += [(1000, f"head1000 {rare}"), (1001, f"head1001x {rare}")]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").createOrReplaceTempView(
        "span_cap_docs"
    )
    grams = spark.sql(_span_grams_build_sql("span_cap_docs"))
    grams.createOrReplaceTempView("span_cap_grams")
    # (a) bounded postings: no surviving seed exceeds the df cap
    from pyspark.sql import functions as F

    max_df = (
        grams.groupBy("gh").count().agg(F.max("count").alias("m")).first().m
    )
    assert max_df is not None and max_df <= _SPAN_DF_CAP
    # (b) the boilerplate seeds (df = 80 > cap) were dropped: none of the
    # 80 boilerplate docs contributes ANY in-boilerplate gram (their only
    # full-width grams besides the unique prefix bridge are boilerplate)
    out = spark.sql(_shared_span_sql("spark", grams_view="span_cap_grams"))
    pairs = {(r.doc_a, r.doc_b): r.longest_span for r in out.collect()}
    assert (1000, 1001) in pairs, "rare shared span lost to the cap"
    assert pairs[(1000, 1001)] == 12  # the full rare run chains intact
    boiler_pairs = [p for p in pairs if p != (1000, 1001)]
    assert not boiler_pairs, f"boilerplate pairs leaked past the cap: {boiler_pairs[:5]}"


def test_blocked_similarity_is_equijoin(spark, sf_dir):
    df = QS["sim_pairs_blocked"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_events_rollup_exchange_budget(spark, sf_dir):
    # Tumbling-window rollup: distinct-count rewrite uses two hash exchanges
    # (partial distinct + final), plus the output sort. Budget <= 4.
    df = QS["events_tumbling_window"].spark(spark, sf_dir)
    assert count_exchanges(df) <= 4


def test_salted_join_no_cartesian_bounded_shuffles(spark, sf_dir):
    # The salted join must stay an equi-join on (key, salt) — salting that
    # degrades to a cartesian replicate-everything defeats its purpose.
    df = QS["op_skew_salted_join"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    # big-side shuffle on (key,salt) + agg + sort; small side replicates
    # salt_n ways but is still one exchange at most.
    assert count_exchanges(df) <= 4


def test_hll_rollup_two_level_shuffles(spark, sf_dir):
    # Mergeable-sketch rollup: nation-level sketch agg + region-level union
    # agg (+ output sort); the nation dim must broadcast, not shuffle.
    df = QS["fn_hll_merge"].spark(spark, sf_dir)
    assert_broadcast_join(df, expect=True)
    assert count_exchanges(df) <= 4


def test_video_decode_prunes_documents_scan(spark, sf_dir):
    # The y4m synth stage needs only (doc_id, n_chars): column pruning must
    # reach the parquet scan — reading text/embedding blobs for a 2-column
    # pipeline is exactly the 100 TB mistake.
    df = QS["multimodal_video_frames"].spark(spark, sf_dir)
    assert_read_schema_pruned(df, "documents", max_columns=2)


def test_decontaminate_is_equijoin(spark, sf_dir):
    # The train-shingle membership check must stay an equi-join on the
    # shingle key (inverted index); a cartesian test x train scan is the
    # all-pairs failure mode this op exists to avoid.
    df = QS["text_decontaminate"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_domain_mixture_broadcasts_rates(spark, sf_dir):
    # The per-source rate table is a handful of rows; it must broadcast back
    # onto the document scan rather than shuffling the corpus by source.
    df = QS["text_domain_mixture"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=True)


def test_hopping_window_single_expand_agg_shuffle(spark, sf_dir):
    # Hopping windows multiply rows via one Expand (4 overlapping 1h/15m
    # windows per event), NOT a join against a window table; after that the
    # rollup is a normal hash agg. Distinct-user rewrite adds one exchange,
    # plus the output sort: budget <= 4 and exactly one Expand.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["events_hopping_window"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Expand") >= 1
    # Expand nodes appear once in the numbered-operator list; the distinct
    # rewrite may re-list it, but a second *distinct* Expand would mean the
    # window explosion ran twice.
    import re

    expand_ops = re.findall(r"\(\d+\) Expand", plan)
    assert len(expand_ops) == 1, plan[:2000]
    assert count_exchanges(df) <= 4
    assert_no_cartesian(df)


def test_streaming_tumbling_rollup_exchange_budget(spark, sf_dir):
    # The streaming rollup's plan shape, checked on its batch twin (the
    # logical plan is identical; streaming only adds the state store): one
    # hash exchange for the windowed agg — HLL distinct is a single-pass
    # mergeable agg, so no extra distinct exchange.
    from lyft_presto_spark.session import load_table
    from lyft_presto_spark.streaming import tumbling_counts

    df = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert count_exchanges(df) <= 2
    assert_no_cartesian(df)


def test_streaming_enriched_join_broadcasts_dim(spark, sf_dir):
    # Stream-static enrichment must broadcast the bounded dimension — a
    # shuffled join would re-shuffle the unbounded stream every micro-batch.
    from lyft_presto_spark.session import load_table
    from lyft_presto_spark.streaming import enriched_stream

    df = enriched_stream(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
    assert_broadcast_join(df, expect=True)
    assert count_exchanges(df) <= 2
    assert_no_cartesian(df)


def test_exchange_counter_sees_real_shuffles(spark, sf_dir):
    # Regression guard for the counter itself: Spark 4.1 moved partitioning
    # info out of the tree line into per-node Arguments blocks, which made
    # the old regex count 0 everywhere — every budget assertion passed
    # vacuously. q1 provably shuffles (partial -> final agg), so the counter
    # must see at least one exchange here.
    assert count_exchanges(QS["tpch_q1"].spark(spark, sf_dir)) >= 1


def test_attribution_join_is_equi_with_bounded_shuffles(spark, sf_dir):
    # The stream-stream join's batch twin: user_id equi-join with the time
    # range as a post-join filter — degrading to a nested-loop over all
    # (click, purchase) pairs would be quadratic at scale.
    df = QS["events_click_attribution"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) <= 3  # join + agg (+ output sort)


def test_boilerplate_strip_shuffle_budget(spark, sf_dir):
    # explode -> frequency hash-agg -> equi-join back -> grouped reassembly:
    # text crosses the network as (doc_id, chunk) exactly once per stage.
    df = QS["text_boilerplate_strip"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) <= 4


def test_quantile_rollup_stages_join_once(spark, sf_dir):
    # The fact join feeds both the histogram and the exact median; staged
    # once (operators/staging.py), not inlined twice by CTE expansion. The
    # per-region total rides the cumsum's window partitioning. Was 11
    # exchanges with double-join + total-reaggregation; budget pins <= 6.
    df = QS["fn_quantile_rollup"].spark(spark, sf_dir)
    assert count_exchanges(df) <= 6
    assert_no_cartesian(df)


def test_knn_join_broadcasts_bounded_query_side(spark, sf_dir):
    # The kNN join's product is INTENTIONAL and bounded: the query side is a
    # stride sample (|corpus|/100 rows), broadcast against one corpus pass.
    # allow_scalar_bnlj documents that boundedness; the big side must never
    # be the build side, and the per-query top-k adds one window exchange.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["sim_knn_join"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df, allow_scalar_bnlj=True)
    assert "BroadcastExchange" in plan  # query side replicates, corpus streams
    assert count_exchanges(df) <= 2  # window on q_id (+ output sort)


def test_tpcds_q67_broadcasts_nation_no_cartesian(spark, sf_dir):
    # rank-over-ROLLUP: the fact joins must broadcast the tiny nation dim
    # and never degrade to all-pairs; rollup Expand + window add bounded
    # exchanges (agg shuffle, window shuffle, output sort).
    df = QS["tpcds_q67_rollup_topn"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    assert count_exchanges(df) <= 5


def test_tpcds_q78_outer_chain_is_equijoin(spark, sf_dir):
    # three no-returns channel rollups chained with LEFT JOINs: every join
    # (anti-via-outer against returns, the two chain joins) must be an
    # equi-join — a cartesian here explodes at fact scale.
    df = QS["tpcds_q78_channel_ratio_chain"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_tpcds_q04_six_leg_chain_is_equijoin(spark, sf_dir):
    # the year_total CTE consumed six times: all five self-joins must stay
    # keyed on the customer key.
    df = QS["tpcds_q04_triple_channel_growth"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_tpcds_q09_scalar_subqueries_allowed_bnlj(spark, sf_dir):
    # fifteen uncorrelated scalar subqueries: each is a 1-row broadcast
    # nested-loop join (the scalar-subquery plan shape) — allowed; a
    # non-scalar cartesian is not.
    df = QS["tpcds_q09_case_scalar_subqueries"].spark(spark, sf_dir)
    assert_no_cartesian(df, allow_scalar_bnlj=True)


def test_tpcds_q25_chain_pre_aggregates_then_equijoins(spark, sf_dir):
    # three date-role legs each pre-aggregate before the (ck, pk) chain;
    # every join (the chain, customer, nation) must be an equi-join and
    # the nation dim must broadcast.
    df = QS["tpcds_q25_chained_repurchase_profit"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert_broadcast_join(df)


def _count_scans(plan: str) -> int:
    """Count scan operators in a formatted plan's detail sections.

    Matches both the DSv1 header ('(n) Scan parquet') and the DSv2 header
    ('(n) BatchScan') so a Spark plan-format change cannot flip a
    scan-count bound to vacuously passing (0 matches <= bound) — callers
    must also assert a minimum of 1 (ADVICE r15).
    """
    import re

    return len(re.findall(r"\(\d+\) (?:Scan parquet|BatchScan)", plan))


def test_tpcds_q97_overlap_is_single_pass_classification(spark, sf_dir):
    # OPTIMIZATION r15: the overlap census is one grouped presence pass —
    # the oracle's FULL OUTER of two distinct sets must NOT reappear in
    # the Spark plan (it cost 2 fact scans + 2 DISTINCT shuffles + a
    # full-outer sort-merge join). One fact scan, no join of derived
    # sets, never cartesian.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q97_channel_overlap"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "FullOuter" not in plan
    # lineitem + orders, once each (detail headers; the tree repeats them)
    assert 1 <= _count_scans(plan) <= 2


def test_tpcds_repeated_cte_collapses_stay_single_pass(spark, sf_dir):
    """ADVICE r15: the r15 conditional-aggregation collapses (q78/q04/q74/
    q51) only had q97 pinned — a refactor could silently reintroduce the
    multi-scan self-join plans with identical results. Pin each collapse:
    no self-join of the repeated CTE (no SortMergeJoin chain, no
    FullOuter), and the fact is scanned a bounded number of times."""
    from lyft_presto_spark.plans.inspect import formatted_plan

    bounds = {
        # name -> (max scans, forbidden plan substrings)
        "tpcds_q78_channel_ratio_chain": (3, ("SortMergeJoin",)),
        "tpcds_q04_triple_channel_growth": (2, ("SortMergeJoin",)),
        "tpcds_q74_min_ratio_growth_gate": (2, ("SortMergeJoin",)),
        "tpcds_q51_cumulative_crossover": (2, ("SortMergeJoin", "FullOuter")),
    }
    for name, (max_scans, forbidden) in bounds.items():
        df = QS[name].spark(spark, sf_dir)
        assert_no_cartesian(df)
        plan = formatted_plan(df)
        for frag in forbidden:
            assert frag not in plan, f"{name}: {frag} reappeared"
        n = _count_scans(plan)
        assert 1 <= n <= max_scans, f"{name}: {n} scans (bound {max_scans})"


def test_nb_classifier_single_model_chain(spark, sf_dir):
    """ADVICE r15: the r15 single-pass max(struct) argmax rewrite must not
    regress to the duplicated scores-chain plan (the oracle references the
    scores CTE twice; Spark inlines CTEs, so the old plan carried the
    entire test_postings x model x priors subtree TWICE — 59 Exchanges).
    Bound the scan count to one chain's worth."""
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["text_hashed_nb_classifier"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    n = _count_scans(plan)
    assert 1 <= n <= 6, f"duplicated model chain suspected: {n} scans"


def test_tpcds_q56_screen_is_broadcast_semi(spark, sf_dir):
    # the item-attribute id screen must reach each leg as a broadcast
    # semi-join, not a shuffle of the fact.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q56_screened_channel_totals"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


def test_tpcds_q69_exclusion_is_semi_plus_anti(spark, sf_dir):
    # EXISTS + two NOT EXISTS: one semi and two anti joins on the customer
    # key — never a cartesian, never a row-multiplying inner join.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q69_exclusive_channel_customers"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_tpcds_q90_q28_scalar_buckets_allowed_bnlj(spark, sf_dir):
    # the band buckets cross-join 1-row aggregates (the scalar-subquery
    # shape): allowed as BNLJ, anything non-scalar is not.
    for name in ("tpcds_q90_band_count_ratio", "tpcds_q28_band_distinct_buckets"):
        df = QS[name].spark(spark, sf_dir)
        assert_no_cartesian(df, allow_scalar_bnlj=True)


def test_tpcds_q72_inequality_rides_equikey(spark, sf_dir):
    # the 30-day reorder window is an inequality RESIDUAL on a custkey
    # equi-join — it must never plan as a cartesian/BNLJ over orders.
    df = QS["tpcds_q72_reorder_within_window"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_tpcds_q96_screens_push_to_scans(spark, sf_dir):
    # all three screens reach their scans: the lineitem quantity band and
    # the customer segment must appear as PushedFilters.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q96_multi_screen_count"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    assert "GreaterThanOrEqual(l_quantity,20" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_tpcds_q24_scalar_avg_is_broadcast(spark, sf_dir):
    # the avg-of-totals gate is a 1-row broadcast; only the scalar BNLJ
    # shape is allowed.
    df = QS["tpcds_q24_totals_above_scalar_avg"].spark(spark, sf_dir)
    assert_no_cartesian(df, allow_scalar_bnlj=True)


def test_tpcds_q06_category_screen_is_broadcast_semi(spark, sf_dir):
    # the above-category-average item set is dimension-only work pushed
    # into the fact as a broadcast semi-join.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q06_above_category_avg_buyers"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


def test_tpcds_q08_intersect_feeds_semi(spark, sf_dir):
    # IntersectNode output driving a SemiJoinNode: the set-op runs on the
    # dimension only and the fact is probed, never shuffled by the screen.
    df = QS["tpcds_q08_intersect_screened_sales"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_tpcds_q83_date_list_is_semi(spark, sf_dir):
    # each leg's date-list subquery must reach the fact as a semi-join.
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["tpcds_q83_three_channel_item_returns"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert "LeftSemi" in formatted_plan(df)


def test_tpcds_q94_correlates_are_one_window_pass(spark, sf_dir):
    # EXISTS + NOT EXISTS over the same order rewritten as per-order
    # window flags: no cartesian, no second lineitem self-join shuffle.
    df = QS["tpcds_q94_multi_supplier_no_returns"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_random_projection_is_map_side_plus_one_rollup(spark, sf_dir):
    # the unrolled projection must fuse into the scan: the ONLY exchanges
    # are the per-label rollup's shuffle (+ the final sort's range exchange)
    df = QS["sim_random_projection"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    assert count_exchanges(df) <= 2


def test_bigram_lm_joins_stay_equi(spark, sf_dir):
    # model + context joins back to the postings are equi-joins on the
    # token keys, never cartesian (the LM stays vocab-bounded relational)
    df = QS["text_bigram_lm_score"].spark(spark, sf_dir)
    assert_no_cartesian(df)


def test_vocab_stats_rank_is_distributed_topk(spark, sf_dir):
    # the frequency ranking must lower to TakeOrderedAndProject (partial
    # per-partition top-k): a global-order window over the whole vocab is
    # the 100 TB scale-killer these two queries were shaped to avoid
    from lyft_presto_spark.plans.inspect import formatted_plan

    for name in ("text_vocab_coverage", "text_zipf_fit"):
        plan = formatted_plan(QS[name].spark(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name


def test_bm25_ranking_is_distributed_topk_and_equijoin(spark, sf_dir):
    # BM25 (NEW r10): the final ranking lowers to TakeOrderedAndProject
    # (per-partition partial top-k), the tf/df/length joins stay equi
    # (the single CROSS JOIN is the 1-row corpus-stats scalar — the
    # standard scalar-subquery shape), and the probe-term IN filter
    # prunes the exploded postings BEFORE the shuffle
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["text_bm25_retrieval"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert_no_cartesian(df, allow_scalar_bnlj=True)


def test_bpe_merge_train_topk_pick_and_no_cartesian(spark, sf_dir):
    # BPE training (NEW r11): each round's merge pick is a global top-1 —
    # it must lower to TakeOrderedAndProject (per-partition partial
    # top-k), never a global sort; the only cross joins are the 1-row
    # best-pair / token-count scalars broadcast onto the corpus
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["text_bpe_merge_train"].spark(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert [r.round for r in rows] == [1, 2, 3]
    # each merge strictly shrinks the corpus token count
    counts = [r.tokens_after for r in rows]
    assert counts[0] > counts[1] > counts[2]
    assert all(r.pair_count > 0 for r in rows)


def test_pq_codebook_and_adc_are_equijoin_only(spark, sf_dir):
    # PQ (NEW r11): every join in training and search is an equi-join on
    # (m, dim) / (m, c) / (vec_id, m) — no cartesian anywhere (the argmin
    # NOT EXISTS decorrelates to an anti-join on the group key)
    cb = QS["sim_pq_codebook"].spark(spark, sf_dir)
    assert_no_cartesian(cb)
    rows = cb.collect()
    assert len(rows) > 0
    # subspace/centroid grid: every surviving cluster carries all 16 dims
    from collections import Counter
    dims_per_cluster = Counter((r.subspace, r.centroid) for r in rows)
    assert all(v == 16 for v in dims_per_cluster.values())
    assert all(r.n_assigned > 0 for r in rows)

    adc = QS["sim_pq_adc_search"].spark(spark, sf_dir)
    assert_no_cartesian(adc)
    top = adc.collect()
    assert 0 < len(top) <= 10
    dists = [r.adc_dist for r in top]
    assert dists == sorted(dists)  # ranked ascending, exact ints
    assert all(r.vec_id != 0 for r in top)  # query excluded


def test_ivfpq_search_cell_pruned_semi_join_no_cartesian(spark, sf_dir):
    # IVF-PQ (NEW r12): the composed search must (1) contain NO cartesian,
    # (2) restrict candidates through the probed-cell SEMI join before
    # ranking (the cell-pruning pin — at 100 TB this is the partition
    # prune), and (3) rank in exact ascending integer ADC distance
    from lyft_presto_spark.plans.inspect import formatted_plan

    df = QS["sim_ivfpq_search"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan  # c IN (SELECT c FROM probed) -> semi join
    top = df.collect()
    assert 0 < len(top) <= 10
    dists = [r.adc_dist for r in top]
    assert dists == sorted(dists)
    assert all(r.vec_id != 0 for r in top)
    # candidate restriction is REAL (ADVICE r12: the old assertion only
    # checked the index artifacts existed): recompute the nprobe=2 probed
    # cell ids from the staged ccb2/cells views and require (a) every
    # returned vec's cell to be probed and (b) some corpus vectors to sit
    # in UNprobed cells — i.e. the semi-join excluded candidates.
    from lyft_presto_spark.operators.staging import _STAGED
    from lyft_presto_spark.queries.similarity_queries import (
        _IVFPQ_NPROBE,
        _ivfpq_staged,
    )
    from lyft_presto_spark.session import session_key

    names = {k[2] for k in _STAGED if k[0] == session_key(spark)}
    assert {"ivf_cells", "pq_codes", "ivf_ccb2"} <= names  # index staged
    v = _ivfpq_staged(spark, sf_dir)  # idempotent: returns the staged views
    probed = {
        r.c
        for r in spark.sql(
            f"""
            WITH qv AS (SELECT dim, xq FROM {v["flat"]} WHERE vec_id = 0),
            cmu AS (SELECT c, d, (2 * S + n) DIV (2 * n) AS mu FROM {v["ccb2"]}),
            qcell AS (
                SELECT b.c,
                       CAST(SUM((q.xq - b.mu) * (q.xq - b.mu)) AS BIGINT) AS cdist
                FROM qv q JOIN cmu b ON b.d = q.dim GROUP BY b.c)
            SELECT c FROM qcell ORDER BY cdist, c LIMIT {_IVFPQ_NPROBE}
            """
        ).collect()
    }
    assert len(probed) == _IVFPQ_NPROBE
    cell_of = {
        r.vec_id: r.c
        for r in spark.sql(f"SELECT vec_id, c FROM {v['cells']}").collect()
    }
    for r in top:  # (a) every ranked vec came from a probed cell
        assert cell_of[r.vec_id] in probed, (
            f"vec {r.vec_id} ranked from unprobed cell {cell_of[r.vec_id]}"
        )
    excluded = {
        vid for vid, c in cell_of.items() if vid != 0 and c not in probed
    }
    assert excluded, "cell pruning excluded nothing — semi-join is vacuous"


def test_dedup_semantic_cell_bucketed_and_canonical(spark, sf_dir):
    """NEW r15 (VERDICT r14 ask #3): semantic dedup's candidate generator
    must be the cell-bucketed equi-join (no cartesian anywhere in the
    plan), clusters must partition their members (a vector joins at most
    one cluster), singletons are not emitted, and the component id is the
    keep-first canonical (the minimum member)."""
    df = QS["dedup_semantic"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    rows = df.collect()
    assert rows, "threshold yields no clusters — the row is vacuous"
    members = [int(x) for r in rows for x in r.members.split(",")]
    assert len(members) == len(set(members)), "a vector leaked into two clusters"
    for r in rows:
        ms = [int(x) for x in r.members.split(",")]
        assert r.cluster_size == len(ms) >= 2
        assert r.component == min(ms), "component must be the keep-first canonical"


# --- py4j plan-construction budget (VERDICT r14 #2) ---------------------------
# Driver-side DataFrame CONSTRUCTION is a real per-run cost: every Column
# operator is a Py4J round trip (fn_geo_boolean_ops spent 1.4 s/run there
# until r14). Every bench headline query must construct within a budget of
# round trips, and a synthetic deep Column tree must trip it. Counts, unlike
# timings, do not move under CPU contention. At sf0.001 the headline max is
# 1457 (op_spatial_polygon_pair_join; median 72) and the control sends
# 10265; the budget sits near their geometric middle. A session memo that
# stopped hitting would rebuild its Column trees every call and blow it.

_CONSTRUCTION_BUDGET = 4000


def _headline_names():
    import bench

    qs = all_queries()
    names = [n for n in sorted(qs) if n.startswith(bench.HEADLINE_PREFIXES)]
    names += [n for n in bench.HEADLINE_EXTRAS if n in qs]
    return names


@pytest.mark.parametrize("name", _headline_names())
def test_headline_construction_within_budget(spark, sf_dir, name):
    from lyft_presto_spark.plans import construction_round_trips

    q = all_queries()[name]
    sent = construction_round_trips(lambda: q.spark(spark, sf_dir), attempts=3)
    assert sent <= _CONSTRUCTION_BUDGET, (
        f"{name} sends {sent} Py4J commands to construct its plan per run "
        f"(budget {_CONSTRUCTION_BUDGET}) — the py4j Column-tree tax; emit "
        f"the algebra as selectExpr/SQL strings instead (BENCHNOTES r14)"
    )


def test_construction_gate_trips_on_deep_column_tree(spark):
    """Negative control: a 250-step chained-select Column tree (each step a
    py4j round trip + re-analysis) must blow the budget — proving the gate
    would catch a regrown fn_geo_boolean_ops-class tree."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.plans import construction_round_trips

    def build():
        df = spark.range(1).selectExpr("id AS x")
        for i in range(250):
            df = df.select((F.col("x") + i).alias("x"))
        return df

    sent = construction_round_trips(build, attempts=1)
    assert sent > _CONSTRUCTION_BUDGET, (
        f"synthetic deep tree sent only {sent} Py4J commands — the budget no "
        f"longer discriminates; tighten it or deepen the control"
    )


def test_semantic_gate_batch_sided_and_deterministic(spark, sf_dir):
    """NEW r15: the semantic ingest gate must generate candidates from the
    batch side only (no cartesian; corpus x corpus never joined — the
    candidate join is batch codes vs corpus cells on the cell key), emit
    exactly one verdict per batch vector, and pick a deterministic best
    match (l2q_dist under the threshold, matched_vec set iff dup)."""
    from lyft_presto_spark.queries.dedup_queries import _SEMANTIC_L2Q_T
    from lyft_presto_spark.queries.similarity_queries import _UPSERT_BATCH_MOD

    df = QS["dedup_semantic_incremental"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    rows = df.collect()
    m = _UPSERT_BATCH_MOD
    assert rows and all(r.vec_id % m == m - 1 for r in rows)  # batch only
    assert len({r.vec_id for r in rows}) == len(rows)  # one verdict per vec
    verdicts = {r.verdict for r in rows}
    assert verdicts == {"dup", "keep"}  # both live on the fixture
    for r in rows:
        if r.verdict == "dup":
            assert r.matched_vec is not None and r.matched_vec % m != m - 1
            assert r.l2q_dist is not None and r.l2q_dist <= _SEMANTIC_L2Q_T
        else:
            assert r.matched_vec is None and r.l2q_dist is None


def test_packed_embedding_dim_guard_raises_on_short_vector(spark):
    """ADVICE r15: consumers of the packed xqa index xqa[0..63] with an
    unrolled 64-term distance, so a short embedding must fail LOUDLY at
    packing time — a NULL distance would win min(struct) and be dropped by
    the threshold filter, silently classifying the vector 'keep'."""
    from lyft_presto_spark.queries.similarity_queries import (
        _PACKED_XQA,
        _RP_IN_DIMS,
    )

    good = spark.createDataFrame(
        [(1, [float(i) for i in range(_RP_IN_DIMS)])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    packed = good.selectExpr(f"{_PACKED_XQA} AS xqa").first().xqa
    assert len(packed) == _RP_IN_DIMS and packed[0] is not None

    bad = spark.createDataFrame(
        [(2, [1.0, 2.0, 3.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(Exception, match="packed embedding requires exactly"):
        bad.selectExpr(f"{_PACKED_XQA} AS xqa").collect()


def test_ivf_delete_tombstone_mask_and_purge_decision(spark, sf_dir):
    """NEW r15: deletes are tombstones, not rewrites. The census must
    recompose (live = before - tombstoned, totals = the upsert corpus
    census), the PROBE must mask tombstoned vectors with an anti-join —
    no index rewrite, no cartesian — and the purge decision must fire on
    exactly the cells at/above the threshold fraction (both branches
    pinned on a synthetic skewed census, fixture-independent)."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.queries.similarity_queries import (
        _DELETE_MOD,
        _delete_census_tail,
        _ivf_index_write_path,
    )

    df = QS["sim_ivf_delete"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    rows = df.collect()
    assert rows and all(r.n_live == r.n_before - r.n_tombstoned for r in rows)
    assert any(r.n_tombstoned > 0 for r in rows)  # deletes are non-trivial
    corpus_census = {
        r.cell: r.n_corpus
        for r in QS["sim_ivf_index_upsert"].spark(spark, sf_dir).collect()
        if r.n_corpus > 0
    }
    assert {r.cell: r.n_before for r in rows} == corpus_census

    # probe-side mask: anti-join the tombstones out of the partitioned
    # index — no deleted vector may surface, and the plan carries the
    # anti-join (the no-rewrite contract)
    m = _DELETE_MOD
    idx = spark.read.parquet(_ivf_index_write_path(spark, sf_dir))
    tomb = idx.select("vec_id").distinct().where(f"vec_id % {m} = {m - 3}")
    masked = idx.join(tomb, "vec_id", "left_anti")
    assert_no_cartesian(masked)
    plan = masked._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, "tombstone mask must be an anti-join"
    assert masked.where(f"vec_id % {m} = {m - 3}").count() == 0
    n_tomb_idx = idx.where(f"vec_id % {m} = {m - 3}").select("vec_id").distinct().count()
    assert (
        idx.select("vec_id").distinct().count()
        == masked.select("vec_id").distinct().count() + n_tomb_idx
    )

    # purge decision, both branches, as pure algebra on a synthetic skewed
    # census: cell 0 is 30% tombstoned (ids 6,15,24 mod-9-6 of 10), cell 1
    # is 5% (id 33 of 20) — threshold 1/9 fires on cell 0 only
    ids0 = [6, 15, 24] + [i for i in range(100, 108) if i % m != m - 3][:7]
    ids1 = [33] + [i for i in range(200, 222) if i % m != m - 3][:19]
    assert all(i % m == m - 3 for i in ids0[:3] + ids1[:1])
    assert all(i % m != m - 3 for i in ids0[3:] + ids1[1:])
    rows_syn = [(v, 0) for v in ids0] + [(v, 1) for v in ids1]
    spark.createDataFrame(rows_syn, "vec_id BIGINT, c INT").createOrReplaceTempView(
        "del_probe_cells"
    )
    out = {
        r.cell: r.purge_due
        for r in spark.sql(
            "WITH " + _delete_census_tail("del_probe_cells").lstrip()
        ).collect()
    }
    assert out == {0: True, 1: False}


def test_canonical_best_keeps_higher_quality_not_first(spark, sf_dir):
    """NEW r15: quality-ranked canonical selection. The fixture's
    homogeneous docs tie on the coarse score (keep-best == keep-first
    there — verified below), so the branch where they DIFFER is pinned
    synthetically: a 2-doc near-dup cluster where the HIGHER-id doc is
    punctuation-clean (quality 1.0) and the lower-id doc is punctuation-
    heavy (loses the 0.3 punct component) must keep the higher id."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.queries.dedup_queries import _rank_keep_best
    from lyft_presto_spark.queries.text_pipeline import _quality_doc_ctes

    base = (
        "seven careful wizards brew strong potions under the pale autumn "
        "moon while quiet sailors watch from the old stone harbor tonight"
    )
    noisy = base + " !!! ??? ### $$$ %%% &&& *** ((( ))) @@@ !!! ??? ###"
    rows = [(1, "probe", noisy, len(noisy)), (2, "probe", base, len(base))]
    spark.createDataFrame(
        rows, "doc_id BIGINT, source STRING, text STRING, n_chars BIGINT"
    ).createOrReplaceTempView("cb_probe_docs")
    quality = spark.sql(
        f"WITH {_quality_doc_ctes('spark', 'cb_probe_docs')}\n"
        "SELECT doc_id, quality_score FROM final"
    )
    q = {r.doc_id: r.quality_score for r in quality.collect()}
    assert q[2] > q[1], f"synthetic quality gap missing: {q}"
    cc = spark.createDataFrame([(1, 1), (2, 1)], "node BIGINT, label BIGINT")
    out = _rank_keep_best(cc, quality).collect()
    assert len(out) == 1
    r = out[0]
    assert r.component == 1 and r.cluster_size == 2
    assert r.keep_doc == 2, "must keep the best doc, not the first"
    assert r.keep_quality == q[2]
    # fixture run: oracle-checked elsewhere; here pin plan + tie behavior
    df = QS["dedup_canonical_best"].spark(spark, sf_dir)
    assert_no_cartesian(df)
    fixture = df.collect()
    assert fixture and all(x.keep_doc is not None for x in fixture)
    # on the homogeneous fixture the coarse score ties -> keep-first wins,
    # which pins the deterministic tie-break (doc_id ASC among the best)
    assert all(x.keep_doc == x.component for x in fixture)
