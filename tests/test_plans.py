"""Scale-correctness assertions on physical plans: pushdown, pruning,
broadcast, partial aggregation, distributed top-k. These encode the §4
optimizer expectations — regressions here mean a plan that would fall over
at 100 TB even if results stay correct."""

from __future__ import annotations

from gpu_bdb_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    has_top_k,
    pushed_filters,
    scan_read_schemas,
)
from gpu_bdb_spark.queries.registry import all_specs


def test_pricing_summary_prunes_and_pushes_down(spark, sf_dir):
    plan = formatted_plan(all_specs()["pricing_summary"].fn(spark, sf_dir))
    schemas = scan_read_schemas(plan)
    assert schemas, "no parquet scan found"
    # 7 referenced columns, not all 11 of lineitem
    assert "l_orderkey" not in schemas[0] and "l_partkey" not in schemas[0]
    assert "l_shipdate" in schemas[0]
    filters = [f for f in pushed_filters(plan) if f != "[]"]
    assert filters, f"date filter did not reach the scan: {plan[:500]}"
    assert has_partial_aggregate(plan)


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(all_specs()["revenue_by_nation"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), "dimension joins should broadcast"


def test_top_orders_is_distributed_topk(spark, sf_dir):
    plan = formatted_plan(all_specs()["top_orders"].fn(spark, sf_dir))
    assert has_top_k(plan), "orderBy+limit must compile to TakeOrderedAndProject"


def test_semi_and_anti_join_operators(spark, sf_dir):
    semi = formatted_plan(all_specs()["order_priority_semi"].fn(spark, sf_dir))
    anti = formatted_plan(all_specs()["customers_anti_join"].fn(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_sessionize_single_shuffle_for_window(spark, sf_dir):
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.sessionize import sessionize

    e = read_table(spark, sf_dir, "events", ["user_id", "ts", "event_id"],
                   hint_broadcast=False)
    import re

    plan = formatted_plan(sessionize(e, "user_id", "ts", 3600, "event_id"))
    # both window expressions share one partitioning: exactly one exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_bucketed_join_skips_exchange(spark, sf_dir, tmp_path_factory):
    """Bucketing both join sides on the key removes the per-query shuffle
    (the scale story for repeated fact-fact joins)."""
    import re

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.sources import write_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert warehouse  # in-memory catalog + local warehouse dir
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"],
                   hint_broadcast=False)
    l = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"],
                   hint_broadcast=False)
    write_bucketed(o, "orders_b", ["o_orderkey"], 4)
    write_bucketed(l, "lineitem_b", ["l_orderkey"], 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        plan = formatted_plan(
            ob.join(lb, ob.o_orderkey == lb.l_orderkey)
            .groupBy("o_orderkey").count())
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """The composed curation pass (dedup -> stats -> filters -> split)
    must cost exactly one exchange: the fingerprint window. A keeper
    join would add a corpus-sized build side; regression here means the
    pipeline stopped fusing."""
    import re

    plan = formatted_plan(all_specs()["curation_pipeline"].fn(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(fp", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram side must broadcast (benchmark sets are tiny); the
    corpus-side per-doc count must partial-aggregate."""
    plan = formatted_plan(all_specs()["decontaminate"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan
    assert has_partial_aggregate(plan), plan


def test_pii_scrub_is_exchange_free(spark, sf_dir):
    """Redaction is scan-shaped: regexp expressions fused into the file
    scan, zero exchanges."""
    import re

    plan = formatted_plan(all_specs()["pii_scrub"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan


def test_profile_orders_single_scan(spark, sf_dir):
    """Column profiling reads the table ONCE (one parquet scan in the
    plan), whatever the column count — no per-column rescans."""
    plan = formatted_plan(all_specs()["profile_orders"].fn(spark, sf_dir))
    assert len(scan_read_schemas(plan)) == 1, plan


def test_histogram_partial_aggregates(spark, sf_dir):
    plan = formatted_plan(all_specs()["histogram_prices"].fn(spark, sf_dir))
    assert has_partial_aggregate(plan), plan
    schemas = scan_read_schemas(plan)
    assert schemas and "l_extendedprice" in schemas[0], plan
    assert "l_orderkey" not in schemas[0], plan


def test_tfidf_single_text_scan_three_exchanges(spark, sf_dir):
    """tfidf_keywords: tf/doc_freq/rank = exactly three hash exchanges
    over progressively reduced data; the text column is scanned ONCE (the
    corpus-size leg is a zero-column metadata count), and the per-doc
    top-k runs as WindowGroupLimit (partial top-k before the exchange)."""
    plan = formatted_plan(all_specs()["tfidf_keywords"].fn(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 3, plan
    text_scans = [s for s in scan_read_schemas(plan) if "text" in s]
    assert len(text_scans) == 1, f"text scanned {len(text_scans)}x"
    assert "WindowGroupLimit" in plan


def test_winnow_fingerprints_single_exchange(spark, sf_dir):
    """winnow_fingerprints: the running window-min AND the distinct both
    run under ONE doc_id exchange (partitioning by doc_id satisfies the
    (doc_id, fingerprint) aggregate's clustering)."""
    plan = formatted_plan(
        all_specs()["winnow_fingerprints"].fn(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_winnow_exchange_not_elided_by_satisfied_upstream(spark):
    """The elided-exchange trap (round 15, probe_heavy_batch.py): a doc
    frame whose partitioning already satisfies the window's clustering
    (here: a range-derived doc_id — RangePartitioning(id) satisfies
    ClusteredDistribution(doc_id) through the alias) must STILL show
    one doc-key exchange below the gram expansion; with the exchange
    elided, the per-partition window sort runs over
    expansion × source-partition bytes and OOM'd the default heap at
    5M docs in the sort's spill merge."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.text import winnow_fingerprints

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e f g h i j").alias("text"))
    plan = formatted_plan(winnow_fingerprints(docs))
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_winnow_robust_exchange_not_elided(spark):
    """winnow_positions_robust shares the elided-exchange class via the
    applyInPandas-after-explode shape (r08 verdict task 3): with a
    range-derived doc_id upstream, the grouped-map exchange must still
    appear, pinned BELOW gram expansion so the pandas group sort is
    bounded by doc-partition × expansion and the wire carries docs."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.text import winnow_positions_robust

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e f g h i j").alias("text"))
    plan = formatted_plan(winnow_positions_robust(docs))
    # exactly ONE exchange: 0 = the pin is gone (elision — the trap),
    # 2 = the pin moved above the explode (grams on the wire)
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    # and the exchange must sit BELOW the gram explode: node ids grow
    # toward the root, so every Exchange id < every Generate id
    import re

    exch_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    gen_ids = [int(m) for m in re.findall(r"\((\d+)\) Generate", plan)]
    assert exch_ids and gen_ids and max(exch_ids) < min(gen_ids), plan


def test_shard_export_single_exchange_no_global_sort(spark, sf_dir):
    """shard_export: one hash exchange on the shard key; NO range
    exchange (a global sort would serialize the 100 TB export)."""
    plan = formatted_plan(all_specs()["shard_export"].fn(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_dedup_lines_two_exchanges(spark, sf_dir):
    """Line dedup must cost exactly two shuffles: the line-content window
    (count + keep-first rank share one partition) and the doc-id
    reassembly aggregate. A join-back to recover line text would add a
    third — regression means the decision stage stopped carrying the
    line through its own exchange."""
    import re

    plan = formatted_plan(all_specs()["dedup_lines"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "Join" not in plan, plan


def test_bm25_broadcasts_queries_and_partial_topk(spark, sf_dir):
    """The query-term side must broadcast (it is dimension-sized) and the
    per-query top-k must plan as WindowGroupLimit (partial top-k before
    the query exchange) — a full per-query sort would shuffle every
    scored (query, doc) pair."""
    plan = formatted_plan(all_specs()["bm25_topk"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan
    assert "WindowGroupLimit" in plan, plan


def test_winnow_positions_single_exchange_single_window(spark, sf_dir):
    import re

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.text import winnow_positions

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    plan = formatted_plan(winnow_positions(d))
    # all 6 lag/lead frames + run algebra share ONE (doc_id, pos) sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_char_entropy_partial_aggregates(spark, sf_dir):
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.text import char_entropy

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    plan = formatted_plan(char_entropy(d))
    assert has_partial_aggregate(plan), plan
    # text column pruned away after the explode: scan reads 2 columns
    schemas = scan_read_schemas(plan)
    assert schemas and "text" in schemas[0] and "source" not in schemas[0]


def test_leakage_split_broadcasts_cluster_map(spark, sf_dir):
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.dedup import (duplicate_clusters,
                                               jaccard_pairs, shingle_sets)
    from gpu_bdb_spark.operators.sampling import leakage_safe_split

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    pairs = jaccard_pairs(shingle_sets(d, "text", "doc_id", n=2), 0.6)
    plan = formatted_plan(
        leakage_safe_split(d, duplicate_clusters(pairs), 0.9))
    # the duplicate-only cluster map rides a broadcast: the corpus side
    # is never shuffled by the split itself
    assert has_broadcast_join(plan), plan


def test_gapfill_partial_aggregates_and_broadcast(spark, sf_dir):
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.temporal import gapfill_locf

    e = read_table(spark, sf_dir, "events",
                   ["user_id", "ts", "event_id", "value"],
                   hint_broadcast=False)
    plan = formatted_plan(gapfill_locf(e))
    # per-bucket last value reduces map-side before the shuffle
    assert has_partial_aggregate(plan), plan
    # spine joins the aggregated per-bucket side via broadcast
    assert has_broadcast_join(plan), plan


def test_time_weighted_avg_single_exchange(spark, sf_dir):
    """Window shuffle on the key feeds the aggregate directly —
    grouping on the raw key (aliasing above the agg) keeps the
    alias-aware partitioning; a rename below the window was measured
    to cost a second full shuffle."""
    import re

    plan = formatted_plan(all_specs()["time_weighted_avg"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_remove_boilerplate_broadcasts_boiler_set(spark, sf_dir):
    """The frequent-segment set joins back broadcast (it is small by
    definition); the corpus is never shuffled for membership."""
    import re

    plan = formatted_plan(all_specs()["remove_boilerplate"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan
    # df-count (2: pair-distinct + hash-count) + reassembly = 3 exchanges
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_jaccard_join_candidates_are_bare_ids(spark, sf_dir):
    """The candidate distinct must shuffle bare id pairs — the ranked
    token arrays re-attach only AFTER the distinct (wide arrays never
    ride the candidate exchange)."""
    import re

    # an earlier test may have materialized this query's persisted
    # ranked-sets frame; cached plans replace the exchanges under audit
    spark.catalog.clearCache()
    plan = formatted_plan(all_specs()["jaccard_join_prefix"].fn(spark, sf_dir))
    # find the exchange feeding the candidate-pair distinct: its input
    # schema must be exactly the two id columns
    m = re.findall(r"\(\d+\) Exchange\nInput \[(\d+)\]: \[([^\]]*)\]", plan)
    cand = [cols for n, cols in m if "id_a" in cols and "id_b" in cols]
    assert cand and all("_rtoks" not in c for c in cand), plan


def test_ner_gazetteer_joins_broadcast(spark, sf_dir):
    """ner_orgs: the lexicon joins broadcast — the exploded corpus is
    never shuffled for matching; the only hash exchanges are the df
    count and the final (doc, entity) aggregate."""
    import re

    plan = formatted_plan(all_specs()["ner_orgs"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan
    assert len(re.findall(r"hashpartitioning", plan)) <= 2, plan


def test_lsh_verified_candidates_are_bare_ids(spark, sf_dir):
    """dedup_lsh_verified: the candidate band-count aggregate shuffles
    bare id pairs (round 11: GROUP BY + count + min_band_matches >= 2
    filter replaced the distinct — same exchange, no wide columns) and
    shingle arrays re-attach only after the prefilter."""
    import re

    spark.catalog.clearCache()
    plan = formatted_plan(all_specs()["dedup_lsh_verified"].fn(spark, sf_dir))
    # the candidate aggregate keyed on (id_1, id_2) must see only the
    # two id columns (+ the partial count on the final side) — wide
    # arrays attach only downstream of it
    m = re.findall(
        r"\(\d+\) HashAggregate\nInput \[(\d+)\]: \[([^\]]*)\]"
        r"\nKeys \[2\]: \[(id_1[^\]]*)\]", plan)
    assert m, plan
    for n, cols, keys in m:
        assert int(n) <= 3 and "shingles" not in cols \
            and "members" not in cols, plan
    # the >= 2 band-count prefilter sits between the aggregate and the
    # verify re-attach
    assert re.search(r"Condition : \(_bm#\d+L? >= 2\)", plan), plan


def test_dedup_entries_use_the_one_shingle_producer(spark, sf_dir):
    """Every n-gram dedup entry builds its shingles with the mapInArrow
    producer (`shingle_sets`) and never with a JVM zip_with n-gram
    chain, so all stages of one pipeline share one tokenizer."""
    for name in ("dedup_minhash_lsh", "dedup_lsh_verified",
                 "dedup_ngram_jaccard", "minhash_portable"):
        plan = formatted_plan(all_specs()[name].fn(spark, sf_dir))
        assert "MapInArrow" in plan and "zip_with" not in plan, (name, plan)
    spark.catalog.clearCache()


def test_rfm_single_fact_aggregate_before_tiles(spark, sf_dir):
    """One hash aggregate on the customer key precedes the ntile
    windows; the single-partition sort runs over the aggregated frame
    only (one row per customer), never the fact table."""
    import re

    plan = formatted_plan(all_specs()["rfm_segments"].fn(spark, sf_dir))
    assert has_partial_aggregate(plan)
    assert len(re.findall(r"SinglePartition", plan)) >= 1
    # exactly one hashpartitioning exchange (the per-customer rollup)
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan


def test_session_paths_two_exchanges(spark, sf_dir):
    """Sessionize window, per-session row_number, and (user, session)
    aggregate share one user-key exchange (HashPartitioning(user)
    satisfies the superset clustering); only the path count adds one."""
    import re

    plan = formatted_plan(all_specs()["session_paths"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_item_cf_topk_uses_window_group_limit(spark, sf_dir):
    """item_cf_topk: the per-item top-5 must plan as WindowGroupLimit
    (partial top-k before the exchange — no global sort of the scored
    pair frame)."""
    plan = formatted_plan(all_specs()["item_cf_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_dsir_select_broadcasts_bucket_lm(spark, sf_dir):
    """dsir_select: the 256-row bucket-LM dimension joins back
    BROADCAST — the corpus-sized gram frame is never shuffled for
    scoring; the top-50 is a TakeOrderedAndProject."""
    plan = formatted_plan(all_specs()["dsir_select"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bloom_probe_broadcasts_bitset(spark, sf_dir):
    """bloom_filter_probe: the bitset and member set join broadcast —
    the probe side is reduced to distinct bare ids and never shuffled
    against the dimension."""
    plan = formatted_plan(all_specs()["bloom_filter_probe"].fn(spark, sf_dir))
    assert has_broadcast_join(plan), plan


def test_windowed_pair_counts_prefix_has_no_join(spark, sf_dir):
    """The prefix-sum formulation must stay join-free: union + ONE
    incremental unbounded-preceding frame + aggregate. Any Join node
    means the pair-materializing shape crept back (the 100 TB hot-user
    guarantee rests on this — SCALE.md round-11 hot-user probe)."""
    plan = formatted_plan(
        all_specs()["view_then_purchase_windowed"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:800]
    assert "Window" in plan


def test_scrub_spans_broadcasts_eval_grams(spark, sf_dir):
    """decontaminate_spans: the eval gram-hash probe must be a broadcast
    hash join (benchmark-sized side), never a corpus-vs-eval shuffle;
    and no nested-loop/cartesian anywhere in the cut tail."""
    plan = formatted_plan(
        all_specs()["decontaminate_spans"].fn(spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_spans_no_pairwise_join(spark, sf_dir):
    """dedup_spans: occurrence ranking is a WINDOW over the gram hash —
    a hot gram must be a window partition, never a join fan-out. No
    nested-loop/cartesian; the covered-position legs are joins on bare
    (id, pos) only."""
    plan = formatted_plan(all_specs()["dedup_spans"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan

def test_rolling_entries_use_prefix_shape(spark, sf_dir):
    """rolling_user_24h / rolling_zscore (VERDICT r04 weak finding):
    the registered entries must run the density-independent prefix-sum
    shape — join-free, and the only window frame is the incremental
    UNBOUNDED-PRECEDING cumulative (no trailing RANGE lower bound whose
    re-accumulation is quadratic on a packed hot key; measured 194×,
    SCALE.md round-11). A Join node or a bounded-lower-bound frame
    means the sliding-frame shape crept back."""
    import re

    for name in ("rolling_user_24h", "rolling_zscore"):
        plan = formatted_plan(all_specs()[name].fn(spark, sf_dir))
        assert "Join" not in plan, (name, plan[:800])
        frames = re.findall(r"specifiedwindowframe\([^)]*", plan)
        assert frames, (name, plan[:800])
        for fr in frames:
            assert "unboundedpreceding" in fr, (name, fr)
