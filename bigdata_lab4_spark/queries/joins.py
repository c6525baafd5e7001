"""J-series — joins (SURVEY §2.3).

The reference's only join-like operation is a python-side zip of
fixture texts to labels by shared key (`/root/reference/src/predict.py:147-148`)
— J1 reproduces it declaratively over the golden-JSON fixture. J2–J8
cover the full Spark join surface over the TPC-H-ish star schema.

Scale notes: tiny dims (region 5 rows, nation 25, the literal bands
table) are explicitly ``broadcast()`` — map-side join, no shuffle.
Fact⋈fact joins (lineitem⋈orders) shuffle on the join key; AQE
re-plans to broadcast when a side is small at runtime and splits
skewed partitions. The as-of join (J7) deliberately avoids the naive
range-join explosion: it's a union + running-max window, one shuffle
on (user_id), linear in input size — the formulation that survives
100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.registry import query

GOLDEN_JSON = os.path.join(os.path.dirname(__file__), "..", "..", "tests", "fixtures", "golden_0.json")
GOLDEN_JSON = os.path.abspath(GOLDEN_JSON)


@query(
    "j01_fixture_join",
    oracle=f"""
        WITH j AS (
            SELECT X[1] AS xm, y[1] AS ym
            FROM read_json('{GOLDEN_JSON}',
                           columns = {{'X': 'MAP(VARCHAR,VARCHAR)[]',
                                       'y': 'MAP(VARCHAR,INTEGER)[]'}})
        ), xs AS (
            SELECT CAST(e.key AS INTEGER) AS id, e.value AS text
            FROM (SELECT unnest(map_entries(xm)) AS e FROM j)
        ), ys AS (
            SELECT CAST(e.key AS INTEGER) AS id, e.value AS label
            FROM (SELECT unnest(map_entries(ym)) AS e FROM j)
        )
        SELECT xs.id, xs.text, ys.label FROM xs JOIN ys USING (id) ORDER BY id
    """,
    doc="J1+S2: the reference's golden-JSON fixture shape "
    "({'X':[{id:text}],'y':[{id:label}]}, tests/test_data/test_0.json) parsed "
    "declaratively and zipped by key — the reference does this in python "
    "(src/predict.py:131-148); here it's from_json → explode → equi-join.",
)
def j01_fixture_join(spark, sf_dir):
    raw = spark.read.text(GOLDEN_JSON, wholetext=True)
    parsed = raw.select(
        F.from_json(
            "value", "X array<map<string,string>>, y array<map<string,int>>"
        ).alias("j")
    )
    xs = parsed.select(F.explode(F.element_at("j.X", 1)).alias("id", "text")).select(
        F.col("id").cast("int").alias("id"), "text"
    )
    ys = parsed.select(F.explode(F.element_at("j.y", 1)).alias("id", "label")).select(
        F.col("id").cast("int").alias("id"), "label"
    )
    return xs.join(ys, "id", "inner").orderBy("id")


@query(
    "j02_star_join",
    oracle="""
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    doc="J2 multi-way star join: fact⋈fact shuffles on the key, dims are "
    "broadcast (explicit hint for region/nation; AQE handles customer).",
)
def j02_star_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # Aggregate the fact table down to one row per order BEFORE the
    # star joins (guide §2.3 "aggregate before you shuffle", §3.3
    # "join first on the un-exploded key"): revenue and item count are
    # additive per order, and every dimension attribute is functionally
    # determined by o_orderkey, so pre-aggregating 600 k lineitems to
    # 150 k order rows regroups the same additions. Float addition is
    # not associative, so the regrouped double sums are NOT bit-equal
    # in general (and Spark's partial-aggregation order was already
    # nondeterministic); the result is stable because the declared
    # output rounds revenue to 2 decimals, which absorbs the ULP-level
    # drift — verified hash-identical at sf0.001/0.01/0.1. The joins
    # then probe 4×
    # fewer rows, and at scale the shuffle carries per-order partials
    # instead of raw lineitems. Measured 0.86 s → 0.58 s at sf0.1.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count("*").alias("cnt"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
    )


@query(
    "j03_broadcast_join",
    oracle="""
        SELECT r_name, n_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    doc="J3 broadcast (map-side) join — both dims explicitly broadcast; zero "
    "shuffle for the join itself, only the final 25-group agg shuffles.",
)
def j03_broadcast_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )


@query(
    "j04_left_outer",
    oracle="""
        WITH per_order AS (
            SELECT o_orderkey, count(l_orderkey) AS n_items
            FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderkey
        )
        SELECT n_items, count(*) AS n_orders FROM per_order GROUP BY n_items
    """,
    doc="J4 left outer join — orders with zero lineitems survive with "
    "count 0; result is the lineitems-per-order histogram.",
)
def j04_left_outer(spark, sf_dir):
    # lineitem is pre-aggregated to per-order counts BEFORE the outer
    # join (guide §2.3 "aggregate before you shuffle") — the partial
    # aggregation collapses map-side, so the shuffle carries one
    # (orderkey, count) row per order instead of every raw lineitem row
    # (~4x fewer rows at any scale), and the aggregate's exchange
    # doubles as the join-side distribution. Without a strategy hint
    # the planner broadcasts the count table, which grows with orders;
    # SHUFFLE_HASH builds one hash table per shuffle partition instead.
    # Scale the hint assumes: the build is one (orderkey, count) row per
    # order, 1.5 M × SF rows (buildDataSize 9.6 MB at sf0.1), and each
    # partition's share of it fits one task's execution memory. Past
    # that the task fails out of memory: a hash join's build side cannot
    # spill, and AQE does not turn a hinted SHJ into a sort-merge join.
    # count("l_orderkey") ≡ per-group row count here: an equi-join
    # never matches a null l_orderkey, so unmatched orders take the
    # coalesce(0) and matched groups count only joined rows, exactly
    # as before (oracle hash-identical).
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    per_order = o.join(
        per.hint("shuffle_hash"), o.o_orderkey == per.l_orderkey, "left"
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).alias("n_items"))
    return per_order.groupBy("n_items").agg(F.count("*").alias("n_orders"))


@query(
    "j04b_full_outer",
    oracle="""
        SELECT
            sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS cust_only,
            sum(CASE WHEN c_custkey  IS NULL THEN 1 ELSE 0 END)::BIGINT AS order_only,
            sum(CASE WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL
                     THEN 1 ELSE 0 END)::BIGINT AS matched
        FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
    """,
    doc="J4 full outer join — unmatched-side accounting on both sides.",
)
def j04b_full_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # Full outer can never broadcast; the planner's default is SMJ with
    # two full sorts. SHUFFLE_HASH on customer (the 10× smaller TPC-H
    # side, bounded per partition after the shuffle) drops both sorts —
    # a per-query hint, not an engine-wide preferSortMergeJoin=false,
    # which would risk SHJ on unbounded builds elsewhere (guide §3.1).
    # Scale the hint assumes: the build is customer's c_custkey,
    # 150 k × SF rows, and each partition's share of it fits one task's
    # execution memory. Past that the task fails out of memory: a hash
    # join's build side cannot spill, and AQE does not turn a hinted SHJ
    # into a sort-merge join.
    j = c.hint("shuffle_hash").join(o, c.c_custkey == o.o_custkey, "outer")
    return j.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("cust_only"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias("order_only"),
        F.sum(
            F.when(F.col("c_custkey").isNotNull() & F.col("o_orderkey").isNotNull(), 1).otherwise(0)
        ).alias("matched"),
    )


@query(
    "j05_left_semi",
    oracle="""
        SELECT c_mktsegment, count(*) AS n
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    doc="J5 left semi join (EXISTS) — customers having orders, per segment.",
)
def j05_left_semi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


@query(
    "j05b_left_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="J5 left anti join (NOT EXISTS) — customers with no orders.",
)
def j05b_left_anti(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "j06_range_join",
    oracle="""
        WITH bands(lo, hi, band) AS (
            VALUES (0.0, 50000.0, 'xs'), (50000.0, 150000.0, 's'),
                   (150000.0, 300000.0, 'm'), (300000.0, 450000.0, 'l'),
                   (450000.0, 1000000.0, 'xl')
        )
        SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    doc="J6 theta/range join — non-equi band join. The literal band table is "
    "broadcast → BroadcastNestedLoopJoin over 5 rows, not a cartesian blowup.",
)
def j06_range_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            (0.0, 50000.0, "xs"),
            (50000.0, 150000.0, "s"),
            (150000.0, 300000.0, "m"),
            (300000.0, 450000.0, "l"),
            (450000.0, 1000000.0, "xl"),
        ],
        "lo double, hi double, band string",
    )
    cond = (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi)
    return (
        o.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "j07_asof_join",
    oracle="""
        WITH tagged AS (
            SELECT event_id, user_id, ts, event_type,
                   max(CASE WHEN event_type = 'click' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS last_click_ts
            FROM events
        )
        SELECT event_id, user_id,
               round(epoch(ts), 6) AS purchase_ts,
               round(epoch(last_click_ts), 6) AS click_ts
        FROM tagged WHERE event_type = 'purchase'
    """,
    doc="J7 as-of join: for each purchase, the latest click of the same user "
    "at-or-before it. NOT a range join (which would be O(clicks×purchases)): "
    "single running-max window over the unioned stream — one shuffle on "
    "user_id, linear cost, the formulation that scales to 100 TB of events.",
)
def j07_asof_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = e.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.round(F.col("ts").cast("double"), 6).alias("purchase_ts"),
        F.round(F.col("last_click_ts").cast("double"), 6).alias("click_ts"),
    )


@query(
    "j08_cross_join",
    oracle="""
        SELECT a.r_name AS from_region, b.r_name AS to_region
        FROM region a CROSS JOIN region b
    """,
    doc="J8 cross join — bounded cartesian over the 5-row region dim only.",
)
def j08_cross_join(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b)
