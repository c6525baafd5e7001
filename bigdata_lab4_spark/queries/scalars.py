"""F-series — scalar function surface (SURVEY §2.7).

String / date / math / array / map / JSON scalars, each mirrored in
DuckDB. All stay inside whole-stage codegen (no UDFs). Date
functions avoid the engines' semantic divergences (dayofweek origin,
months_between fractional rule) by comparing on month-truncated
values — divergences are documented in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.registry import query


@query(
    "f01_string_funcs",
    oracle="""
        SELECT p_partkey,
               length(p_name)                              AS name_len,
               instr(p_name, 'a')                          AS a_pos,
               lpad(CAST(p_size AS VARCHAR), 3, '0')       AS size_pad,
               concat_ws('|', p_brand, p_type)             AS brand_type,
               regexp_extract(p_brand, '[0-9]+', 0)        AS brand_num,
               len(string_split(p_name, ' '))              AS n_words,
               upper(p_type)                               AS type_upper,
               substr(p_name, 1, 5)                        AS name5
        FROM part
    """,
    doc="F1 string surface: length/instr/lpad/concat_ws/regexp_extract/"
    "split/upper/substr (EXT closure of the reference's string ops, SURVEY §2.7).",
)
def f01_string_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_pad"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 5).alias("name5"),
    )


@query(
    "f02_date_funcs",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR)                    AS order_date,
               CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT)      AS month_epoch,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
               date_diff('month', DATE '1995-01-01',
                         CAST(date_trunc('month', o_orderdate) AS DATE))    AS months_since_95,
               CAST(epoch(o_orderdate) AS BIGINT)                           AS unix_ts,
               year(o_orderdate)                                            AS yr,
               month(o_orderdate)                                           AS mon,
               quarter(o_orderdate)                                         AS qtr,
               day(o_orderdate)                                             AS dom
        FROM orders WHERE o_orderkey < 2000
    """,
    doc="F2 date/time surface: to_date, date_trunc, datediff, month "
    "arithmetic (months_between on month-starts ≡ integer month diff), "
    "unix_timestamp, calendar extracts.",
)
def f02_date_funcs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.to_date("o_orderdate").cast("string").alias("order_date"),
        F.date_trunc("month", "o_orderdate").cast("long").alias("month_epoch"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_2002"
        ),
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("int")
        .alias("months_since_95"),
        F.unix_timestamp("o_orderdate").alias("unix_ts"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofmonth("o_orderdate").alias("dom"),
    )


@query(
    "f03_math_funcs",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount)           AS net,
               round(abs(l_discount - 0.05), 6)             AS disc_dev,
               round(pow(l_quantity, 2), 2)                 AS qty_sq,
               round(ln(l_extendedprice), 6)                AS ln_price,
               round(log10(l_extendedprice), 6)             AS log10_price,
               round(sqrt(l_quantity), 6)                   AS sqrt_qty,
               greatest(l_quantity, l_tax * 100)            AS gr,
               least(l_discount, l_tax)                     AS le,
               CAST(floor(l_quantity / 10) AS BIGINT)       AS qty_decile
        FROM lineitem WHERE l_orderkey < 1000
    """,
    doc="F3 math surface: round/abs/pow/ln/log10/sqrt/greatest/least/floor.",
)
def f03_math_funcs(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        # raw product, deliberately un-rounded: IEEE multiply is
        # deterministic across engines, while round(·,2) diverges when the
        # product sits at a half-cent boundary
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 6).alias("log10_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.greatest(F.col("l_quantity"), F.col("l_tax") * 100).alias("gr"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("le"),
        F.floor(F.col("l_quantity") / 10).alias("qty_decile"),
    )


@query(
    "f04_array_funcs",
    oracle="""
        SELECT vec_id,
               len(embedding)                                    AS dim,
               round(CAST(embedding[1] AS DOUBLE), 6)            AS first_val,
               round(CAST(list_max(embedding) AS DOUBLE), 6)     AS max_val,
               round(CAST(list_min(embedding) AS DOUBLE), 6)     AS min_val,
               round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
                                                                 AS vec_sum,
               len(embedding[1:8])                               AS head_len,
               list_contains(list_transform(embedding, x -> x > 0), true) AS has_pos
        FROM embeddings
    """,
    doc="F4 array surface over embeddings: size/element_at/array_max/"
    "array_min/aggregate-sum/slice/exists — all Catalyst higher-order "
    "functions, no Python.",
)
def f04_array_funcs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("vec_sum"),
        F.size(F.slice("embedding", 1, 8)).alias("head_len"),
        F.exists("embedding", lambda x: x > 0).alias("has_pos"),
    )


@query(
    "f05_json_funcs",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1
    """,
    doc="F5 JSON-in-string surface on events.props: get_json_object / "
    "from_json extraction (the driver schema's JSON column, FIXTURES.md §2).",
)
def f05_json_funcs(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy(k.alias("k")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@query(
    "f05b_from_json_struct",
    oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events WHERE event_id < 500
    """,
    doc="F5 from_json with an explicit struct schema (vs per-path "
    "get_json_object) — one parse, typed field access.",
)
def f05b_from_json_struct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return e.filter(F.col("event_id") < 500).select(
        "event_id", parsed.getField("k").alias("k")
    )


@query(
    "f06_map_funcs",
    oracle="""
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
               count(*) AS n
        FROM events WHERE event_id < 2000
        GROUP BY 1, 2
    """,
    doc="F6 map surface: create_map/map_keys/element_at round-trip (the map "
    "construction is Spark-side; the oracle checks the extracted values).",
)
def f06_map_funcs(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    m = F.create_map(F.lit("k"), F.get_json_object("props", "$.k").cast("int"))
    return (
        e.filter(F.col("event_id") < 2000)
        .select("event_type", F.element_at(m, "k").alias("k_val"))
        .groupBy("event_type", "k_val")
        .agg(F.count("*").alias("n"))
    )


@query(
    "f07_posexplode",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_transform(
                       list_filter(regexp_split_to_array(text, '\\s+'), t -> t != ''),
                       (t, i) -> {'pos': i - 1, 'token': t})) AS e
            FROM documents WHERE doc_id < 20
        )
        SELECT doc_id, e.pos AS pos, e.token AS token FROM toks
    """,
    doc="F7 posexplode — UDTF-shaped lateral view with element position "
    "(SURVEY §2.8 U6: UDTF ≡ explode of an array expression).",
)
def f07_posexplode(spark, sf_dir):
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(tokens_col("text")).alias("pos", "token"))
        .select("doc_id", "pos", "token")
    )


@query(
    "f08_grouped_agg_udaf",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               median(l_quantity) AS median_qty_udaf,
               median(l_quantity) AS median_qty_native,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="U6 grouped-aggregate pandas UDF (UDAF): per-group median via "
    "an Arrow-batched `pandas_udf`, side-by-side with the native "
    "`median` scale path. Mirrors the reference's sklearn-style "
    "custom-aggregate hook (SURVEY §2.8 U6); the reference itself "
    "delegates aggregates to ClickHouse SQL (`src/database.py:80-88`).",
)
def f08_grouped_agg_udaf(spark, sf_dir):
    """Grouped-agg pandas UDF demo (SURVEY §2.8 U6).

    Scale notes (100 TB): a grouped-agg pandas UDF has NO partial
    aggregation — every group's values shuffle to a single executor
    and materialize as one Arrow batch, so it is only safe when
    per-group cardinality fits executor memory (here: 4 groups over
    lineitem — each ~1/4 of the table; fine at sf0.1, marginal at
    100 TB). The native ``median`` / ``percentile_approx`` column
    alongside is the scale path: partial-agg capable, codegen'd,
    no Python in the loop. The UDAF hook exists for aggregates
    Catalyst genuinely can't express — keep it off the hot path.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        # l_quantity is integral, so even-count interpolation lands
        # on exact multiples of 0.5 — binary-exact in pandas, Spark
        # and DuckDB alike; no rounding needed, no half-boundary.
        return float(v.median())

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    # Spark disallows mixing a grouped-agg pandas UDF with native
    # aggregates in one agg() — two aggs + a broadcast join on the
    # (4-row) group keys keeps both paths visible in one plan.
    #
    # Both aggs consume ONE explicit key-partitioned exchange of
    # the pruned (keys, quantity) rows instead of scanning lineitem
    # twice. The grouped-agg UDF must ship every raw value to its
    # group's reducer anyway (no partial aggregation exists for it),
    # so this exchange is already paid; making the native agg read the
    # same exchange (ReusedExchange at runtime — the distribution
    # satisfies both groupBys) halves the table scans at any scale for
    # the price of the native side reading shuffle output instead of
    # parquet. Locally the second scan is cheaper than re-reading the
    # shuffle, but at 100 TB one full pass over the fact table dwarfs
    # a re-read of an already-materialized shuffle (guide §1.3 napkin
    # math: R drops by half, S unchanged).
    shared = li.select(
        *keys, F.col("l_quantity").cast("double").alias("q")
    ).repartition(*keys)
    udaf_side = shared.groupBy(*keys).agg(
        median_udaf(F.col("q")).alias("median_qty_udaf")
    )
    native_side = shared.groupBy(*keys).agg(
        F.median("q").alias("median_qty_native"),
        F.count("*").alias("n"),
    )
    return (
        native_side.join(F.broadcast(udaf_side), keys, "inner")
        .select(*keys, "median_qty_udaf", "median_qty_native", "n")
        .orderBy(*keys)
    )
