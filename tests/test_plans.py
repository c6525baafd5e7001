"""Physical-plan assertions — the 100 TB scale contract.

Correctness is the oracle suite's job; this suite pins the *plan
shapes* that make each operator survive a 1000-executor cluster:
small dims broadcast (never shuffled), filters and column pruning
reach the parquet scan, aggregations combine map-side before the
exchange, top-k never globally sorts, and map-only Python stages
stay shuffle-free. A regression here can keep results correct while
silently turning a broadcast join into a 100 TB sort-merge shuffle —
exactly the class of bug row-comparison tests can't see.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.profile import final_plan


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    from bigdata_lab4_spark.registry import REGISTRY
    import bigdata_lab4_spark.queries  # noqa: F401

    def get(name: str) -> str:
        return plan_of(REGISTRY[name].fn(spark, SF_DIR))

    return get


def test_small_dim_joins_broadcast(plans):
    """j03: nation/region build sides broadcast — no shuffle of the
    large probe side, no sort-merge join."""
    p = plans("j03_broadcast_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_star_join_is_all_broadcasts_and_prunes_fact_columns(plans):
    """j02: every dim of the star broadcasts, and the lineitem scan
    reads exactly the 3 needed columns out of 16."""
    p = plans("j02_star_join")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"
        in p
    )


def test_tpch_q1_partial_aggregation_and_scan_pruning(plans):
    """a05: map-side combine (partial_sum/avg) runs before the
    exchange, the shipdate filter reaches the scan, and only the 7
    referenced lineitem columns are read."""
    p = plans("a05_tpch_q1")
    assert "partial_sum" in p and "partial_avg" in p
    # the shipdate predicate reaches the scan's DataFilters
    assert "l_shipdate" in p.split("FileScan")[1]
    # column pruning: unreferenced lineitem columns never appear
    for pruned in ("l_orderkey", "l_partkey", "l_suppkey", "l_comment"):
        assert pruned not in p


def test_topk_avoids_global_sort(plans):
    """o01: last-k by timestamp plans as TakeOrderedAndProject —
    no range-partitioned global sort materialized."""
    p = plans("o01_topk_by_timestamp")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_exact_dedup_shuffles_digests_not_bodies(plans):
    """l01: the groupBy key is the md5 digest computed BEFORE the
    exchange — document bodies never cross the wire — with map-side
    partial aggregation."""
    p = plans("l01_exact_dedup")
    # the exchange partitions on the computed digest expression, so
    # only 16-byte digests (+ids) cross the wire, and the map-side
    # partial aggregation has already collapsed duplicates
    assert "Exchange hashpartitioning(_groupingexpression" in p
    assert "partial_min" in p and "partial_count" in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_knn_broadcasts_query_side_with_partial_topk(plans):
    """l03: tiny query side broadcasts (BroadcastNestedLoopJoin, not
    a shuffled cartesian), and per-partition WindowGroupLimit prunes
    to top-k before the single shuffle."""
    p = plans("l03_knn_exact")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p and "Partial" in p


def test_window_topk_uses_group_limit(plans):
    """w01: rank-filter top-k triggers WindowGroupLimit pushdown —
    partial per-partition pruning instead of full sort of all rows."""
    p = plans("w01_topk_per_group")
    assert "WindowGroupLimit" in p


def test_parquet_scan_pushdown(plans):
    """s09: the declared predicate lands in PushedFilters at the
    parquet reader, not in a post-scan Filter alone."""
    p = plans("s09_parquet_scan")
    pushed = p.split("PushedFilters: ")[1].split("]")[0]
    assert pushed.strip("[ ") != ""  # at least one real pushed filter


def test_event_window_agg_partial_before_shuffle(plans):
    """t01: tumbling-window agg combines map-side (partial_count/
    partial_sum) before its single hash exchange."""
    p = plans("t01_tumbling_window")
    assert "partial_count" in p and "partial_sum" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_mapinpandas_stage_is_shuffle_free(plans):
    """l05b: decode/feature-extract is a narrow map-only pipeline —
    scan → project → MapInPandas with NO exchange anywhere."""
    p = plans("l05b_decode_features")
    assert "MapInPandas" in p
    assert "Exchange" not in p


def test_grouped_agg_udaf_keeps_native_partial_agg(plans):
    """f08: the pandas UDAF side runs via AggregateInPandas while
    the native median side still exists as a Catalyst percentile
    aggregate, the 4-row UDAF result broadcasts into the join, and
    (r22) both sides hang off ONE key-partitioned exchange of the
    pruned columns so the fact table is scanned once, not twice."""
    p = plans("f08_grouped_agg_udaf")
    # Spark 4's physical node for a grouped-agg pandas UDF
    assert "ArrowAggregatePython" in p
    assert "percentile" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_grouped_agg_udaf_scans_once_at_runtime(spark):
    """f08 (r22): at runtime the native-median branch reads a
    ReusedExchange of the UDAF branch's key-partitioned exchange, so
    the fact table is scanned ONCE (the static plan prints both
    branches; reuse is a runtime query-stage decision)."""
    from bigdata_lab4_spark.registry import REGISTRY
    import bigdata_lab4_spark.queries  # noqa: F401

    final = final_plan(REGISTRY["f08_grouped_agg_udaf"].fn(spark, SF_DIR))
    assert final.count("Scan parquet") == 1
    assert "ReusedExchange" in final


def test_asof_join_single_shuffle_per_user(plans):
    """j07: the as-of join is a window over user_id — exactly one
    hash exchange, no join node at all (composition avoids the
    range-join blowup)."""
    p = plans("j07_asof_join")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p  # no join operator — pure window rewrite


def test_ivf_ann_map_only_assignment_and_probe_broadcast(plans):
    """l03c: the 1-row codebook broadcasts (map-only cell assignment,
    no corpus shuffle before the probe join), the probe join is a
    BroadcastHashJoin on cell (never sort-merge), and the final top-k
    group-limits before its single candidates-only exchange."""
    p = plans("l03c_ivf_ann")
    assert "BroadcastNestedLoopJoin" in p  # corpus × 1-row codebook
    assert "BroadcastHashJoin" in p  # probes → assigned cells
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p and "Partial" in p
    assert "PythonUDF" not in p and "ArrowEvalPython" not in p


def test_bucketed_join_eliminates_shuffle(spark, tmp_path_factory):
    """Bucketing both join sides by the key removes every Exchange
    from the join: at 100 TB this is THE recurring-join strategy —
    pay the shuffle once at write time, join shuffle-free forever.
    Written as bucketed tables (8 buckets on the key), the
    orders⋈lineitem plan must contain a join but zero Exchange
    operators; the unbucketed plan of the same join must shuffle."""
    from bigdata_lab4_spark.catalog import load_table

    wh = str(tmp_path_factory.mktemp("bucketed-warehouse"))
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")

    # unbucketed control: the same join must shuffle both sides
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    assert "Exchange hashpartitioning" in plan_of(joined)

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    try:
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .option("path", f"{wh}/b_orders").mode("overwrite").saveAsTable("b_orders"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .option("path", f"{wh}/b_lineitem").mode("overwrite").saveAsTable("b_lineitem"))
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        bj = bl.hint("merge").join(bo, bl.l_orderkey == bo.o_orderkey)
        p = plan_of(bj)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: bucket-for-bucket join
        # correctness unchanged by the physical strategy
        assert bj.count() == joined.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions_at_scan(spark, tmp_path_factory):
    """Hive-style partitioned layout + partition pruning: writing
    documents partitioned by lang and filtering on lang must prune at
    planning time — the scan's PartitionFilters carries the predicate
    and only the matching directory is read. At 100 TB this turns a
    full-corpus scan into a single-partition read."""
    from bigdata_lab4_spark.catalog import load_table

    out = str(tmp_path_factory.mktemp("parted") / "documents")
    d = load_table(spark, SF_DIR, "documents")
    d.write.partitionBy("lang").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter("lang = 'en'")
    p = plan_of(back)
    assert "PartitionFilters: [isnotnull(lang" in p and "lang" in p
    # the predicate must NOT survive as a post-scan Filter on lang
    assert "PushedFilters: [IsNotNull(lang)" not in p
    n_en = d.filter("lang = 'en'").count()
    assert back.count() == n_en and n_en > 0


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: when one key holds ~90% of the probe side, the
    runtime re-plan must mark the sort-merge join skew=true and split
    the oversized partition (AQEShuffleRead ... skewed) instead of
    letting one straggler task process 90% of the data — the
    mechanism that saves a 100 TB join from a celebrity key without
    any manual salting. Thresholds are lowered so the effect triggers
    at test scale; results must be identical either way."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.hint("merge").join(right, "k")
        assert len(j.collect()) == 200_000  # every left row matches once
        p = plan_of(j)
        assert "isFinalPlan=true" in p
        assert "SortMergeJoin(skew=true)" in p
        assert "skewed" in p  # AQEShuffleRead split the hot partition
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_correlated_subqueries_decorrelate_to_joins(plans):
    """s08b/s08c: Catalyst must rewrite the correlated EXISTS into a
    LeftSemi hash join and the correlated scalar subquery into an
    aggregate + equi-join — never a per-row nested re-scan of
    lineitem, which at 100 TB would be O(rows × subquery-scan)."""
    p = plans("s08b_correlated_exists")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p

    p = plans("s08c_scalar_subquery")
    assert "partial_avg" in p  # per-part average aggregated once
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_minhash_pairs_native_banded_join(plans):
    """l02b (r22 rewrite): the candidate join must be a SALTED
    shuffled hash join over (band, val, salt) — no O(corpus)
    broadcast (the r21 form broadcast every document's band rows,
    a guaranteed OOM at cluster scale), no sort-merge, never a
    cartesian for the band join itself (the 1-row dictionary cross
    join is a BroadcastNestedLoopJoin, allowed); the only Python is
    the Arrow-batched per-document fingerprint (no row-at-a-time
    BatchEvalPython)."""
    p = plans("l02b_minhash_lsh")
    assert "ShuffledHashJoin" in p and "salt" in p
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_full_outer_join_hashes_not_sorts(plans):
    """j04b (r22): full outer can never broadcast; the SHUFFLE_HASH
    hint on customer (the bounded build side) must keep dropping both
    SMJ sorts — and, being a hint rather than the former session-wide
    preferSortMergeJoin=false, it holds in the driver's vanilla
    session too."""
    import re

    p = plans("j04b_full_outer")
    assert re.search(r"ShuffledHashJoin .*FullOuter, BuildLeft", p)
    assert "SortMergeJoin" not in p


def test_ann_lsh_hashes_are_native(plans):
    """l03b (r22 rewrite): the seeded bucket hashes are native
    floor(dot/bucketLength) expressions over embedded unit vectors —
    the per-row JVM UDF chain (array_to_vector → LSHModel.transform →
    vector_to_array) must not come back, and the 5-row query side
    stays the broadcast build side."""
    p = plans("l03b_ann_lsh")
    assert "UDF(" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_simhash_fingerprint_is_codegen_aggregate(plans):
    """l07 (r21 rewrite): the per-bit majority is a codegen'd
    hash aggregate over exploded token hashes — the interpreted
    aggregate/zip_with fold (one 60-element array allocation per
    token) must not come back."""
    p = plans("l07_simhash")
    assert "HashAggregate" in p
    assert "zip_with" not in p


def test_simhash_neardup_join_not_bucket_lambda(plans):
    """l07b (r22 rewrite): banded candidates via SALTED shuffled hash
    equi-join with codegen'd Hamming/first-band residuals — no
    O(corpus) broadcast, and not collect_list buckets whose hottest
    bucket serializes 1.25M pair checks into one interpreted lambda
    call."""
    p = plans("l07b_simhash_neardup")
    assert "ShuffledHashJoin" in p and "salt" in p
    assert "BroadcastHashJoin" not in p and "BroadcastExchange" not in p
    assert "collect_list" not in p
    assert "CartesianProduct" not in p


def test_lsh_band_joins_runtime_single_fingerprint_pass(spark):
    """r22: the EXECUTED (final AQE) plans of the two salted band
    joins. The expensive fingerprint subtree must materialize exactly
    once per run — the second self-join branch (and, for l02b, the
    mask-dictionary branch) must read a ReusedExchange of the first
    branch's shuffle, which static `explain` cannot show (it prints
    one subtree per branch; reuse is decided per query-stage at
    runtime). Also: no BroadcastHashJoin anywhere — the band join
    must stay shuffled+salted at runtime (AQE must not have converted
    it back to an unbounded broadcast). And the join condition starts
    with the pair order ``d1 < d2``, so one compare drops half of the
    band matches before any per-band compare or verify runs."""
    import re

    from bigdata_lab4_spark.registry import REGISTRY
    import bigdata_lab4_spark.queries  # noqa: F401

    for name, n_arrow in [("l02b_minhash_lsh", 1), ("l07b_simhash_neardup", 0)]:
        final = final_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert final.count("ArrowEvalPython") == n_arrow, name
        assert "ReusedExchange" in final, name
        assert "ShuffledHashJoin" in final, name
        assert "BroadcastHashJoin" not in final, name
        cond = re.search(r"ShuffledHashJoin .*?, Inner, Build\w+, (.*)", final)
        assert cond, name
        assert re.match(r"\(*d1#\d+L < d2#\d+L\)", cond.group(1)), (name, cond.group(1))


def test_s08_streams_the_fact_table(plans):
    """s08 (r22): both joins are SHUFFLE_HASH with the filtered /
    dimension side as the build (BuildLeft), so the fact table streams
    and nothing is broadcast unboundedly (the r21 BROADCAST hint
    bypassed the size threshold — an OOM at 100 TB). Assertions are
    anchored to the join lines themselves, not a global substring, so
    an unrelated plan node mentioning a build side cannot fail it."""
    import re

    p = plans("s08_sql_passthrough")
    joins = re.findall(r"ShuffledHashJoin\b.*", p)
    assert len(joins) == 2
    assert all("BuildLeft" in j for j in joins)
    assert "BroadcastHashJoin" not in p and "SortMergeJoin" not in p


def test_percentiles_share_one_buffer(plans):
    """w05b (r21): all cut points come from ONE percentile aggregate
    over an array of percentages, not one full value buffer per
    requested percentile."""
    p = plans("w05b_percentiles")
    assert "[0.25" in p  # array-of-percentages argument
    assert "partial_percentile" in p


def test_star_join_preaggregates_fact_side(plans):
    """j02 (r21): lineitem collapses to per-order partials (map-side
    partial_sum) BEFORE the join chain — the joins must probe
    aggregated rows, not raw fact rows."""
    p = plans("j02_star_join")
    assert "partial_sum" in p
