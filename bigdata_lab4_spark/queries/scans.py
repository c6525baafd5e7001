"""S-series — scans / sources / SQL passthrough (SURVEY §2.1).

S1 reproduces the reference's CSV ingest
(`/root/reference/src/preprocess.py:44-47`: header row, legacy
encoding, the (ItemID, Sentiment, SentimentText) schema) with an
explicit StructType — schema-on-read inference is a correctness
hazard against the oracle. S8 is the engine's SQL-string entry point
(the reference delegates its one query to ClickHouse the same way,
`src/database.py:41-51`). S9 is the parquet scan with
predicate/column pushdown visible in `.explain`.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.engine import run_sql
from bigdata_lab4_spark.registry import query

_FIXTURES = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..", "tests", "fixtures"))
TWEETS_CSV = os.path.join(_FIXTURES, "tweets.csv")

TWEETS_SCHEMA = "ItemID bigint, Sentiment bigint, SentimentText string"


@query(
    "s01_csv_scan",
    oracle=f"""
        SELECT ItemID, Sentiment, SentimentText
        FROM read_csv('{TWEETS_CSV}', header = true,
                      columns = {{'ItemID': 'BIGINT', 'Sentiment': 'BIGINT',
                                  'SentimentText': 'VARCHAR'}})
        ORDER BY ItemID
    """,
    doc="S1 CSV scan with header + explicit schema (ref: pd.read_csv, "
    "src/preprocess.py:47; ISO-8859-1 variant unit-tested separately — "
    "the oracle fixture is ASCII so both engines read identical bytes).",
)
def s01_csv_scan(spark, sf_dir):
    return (
        spark.read.schema(TWEETS_SCHEMA)
        .option("header", True)
        .option("encoding", "ISO-8859-1")
        .csv(TWEETS_CSV)
        .orderBy("ItemID")
    )


@query(
    "s08_sql_passthrough",
    oracle="""
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(epoch(any_value(o_orderdate)) AS BIGINT) AS orderdate_epoch
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    doc="S8 generic SQL passthrough (ref: execute_query, src/database.py:41-51) "
    "— a TPC-H Q3-shaped query through spark.sql over the mounted views. "
    "The Spark text hints both joins SHUFFLE_HASH with the filtered "
    "side as the build: unhinted, the planner's size estimates can pick "
    "LINEITEM — the big fact table — as the hash build side, backwards "
    "at any scale; a BROADCAST hint would bypass the size threshold "
    "entirely, and the filtered customer⋈orders side is still billions "
    "of rows at 100 TB — guide §3.1. SHUFFLE_HASH keeps the build-side "
    "choice and bounds memory to a per-partition build. Scale the hints "
    "assume: the builds are the BUILDING customers (~30 k × SF rows) "
    "and their open orders (~100 k × SF rows, buildDataSize 4.7 MB at "
    "sf0.1), and each partition's share fits one task's execution "
    "memory. Past that the task fails out of memory: a hash join's "
    "build side cannot spill, and AQE does not turn a hinted SHJ into "
    "a sort-merge join. "
    "Hints don't change semantics; the oracle runs the unhinted text "
    "and the results are hash-identical.",
)
def s08_sql_passthrough(spark, sf_dir):
    return run_sql(
        spark,
        """
        SELECT /*+ SHUFFLE_HASH(co) */ o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(CAST(any_value(o_orderdate) AS TIMESTAMP) AS LONG) AS orderdate_epoch
        FROM (SELECT /*+ SHUFFLE_HASH(customer) */ o_orderkey, o_orderdate
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O') co
        JOIN lineitem ON l_orderkey = co.o_orderkey
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
        """,
        sf_dir,
    )


@query(
    "s09_parquet_scan",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity >= 49 AND l_shipdate > TIMESTAMP '2001-06-01'
    """,
    doc="S9 parquet scan with pushed-down predicates and pruned columns — "
    ".explain shows PushedFilters [GreaterThanOrEqual(l_quantity,49.0), "
    "GreaterThan(l_shipdate,...)] and a 4-column ReadSchema.",
)
def s09_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 49) & (F.col("l_shipdate") > F.lit("2001-06-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


_S08B_SQL = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
"""


@query(
    "s08b_correlated_exists",
    oracle=_S08B_SQL,
    doc="S8b SQL passthrough, correlated EXISTS (TPC-H Q4 shape) — "
    "the SAME ANSI SQL text runs on both engines; Catalyst "
    "decorrelates the subquery into a left-semi join (asserted in "
    "tests/test_plans.py), so at 100 TB it executes as one shuffled "
    "semi-join, never a per-row probe.",
)
def s08b_correlated_exists(spark, sf_dir):
    return run_sql(spark, _S08B_SQL, sf_dir)


_S08C_SQL = """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
"""


@query(
    "s08c_scalar_subquery",
    oracle=_S08C_SQL,
    doc="S8c SQL passthrough, correlated scalar subquery (TPC-H Q17 "
    "shape), same SQL text both engines. Catalyst rewrites the "
    "per-part average into an aggregate + join instead of a "
    "nested-loop re-scan. Boundary determinism: l_quantity values "
    "are integers, so sum/count/0.2× are bit-identical IEEE doubles "
    "on both engines regardless of summation order — the < predicate "
    "cannot flip between engines.",
)
def s08c_scalar_subquery(spark, sf_dir):
    return run_sql(spark, _S08C_SQL, sf_dir)
