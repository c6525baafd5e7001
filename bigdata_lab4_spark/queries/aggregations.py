"""A-series — aggregations (SURVEY §2.4).

Covers the reference's aggregate surface — value_counts (notebook
cell 5), accuracy (`/root/reference/src/train.py:47`), confusion
matrix + classification report (notebook cell 11,
`experiments/.../metrics.yml`) — re-expressed as relational
group-bys, plus the TPC-H-shaped grouped multi-aggregates, distinct
counts, and rollup/cube the driver testdata mandates.

Scale notes: every groupBy here is a hash aggregate with map-side
partial aggregation (Spark default); the "ML metric" queries reduce
a full table to a handful of rows, so the shuffle after partial agg
carries only per-class partials, not data.  The deterministic
"prediction" used by the metric queries is ``vec_id % 3`` so the
oracle can reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.registry import query


@query(
    "a01_value_counts",
    oracle="""
        SELECT lang, count(*) AS n FROM documents
        GROUP BY lang ORDER BY n DESC, lang
    """,
    doc="A1 value_counts (ref: twitter['Sentiment'].value_counts(), notebook cell 5).",
)
def a01_value_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(F.count("*").alias("n")).orderBy(F.desc("n"), "lang")


def _pred_df(spark, sf_dir):
    """(label, pred) pairs with a deterministic 'model': pred = vec_id % 3."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        F.col("label").cast("int").alias("label"),
        (F.col("vec_id") % 3).cast("int").alias("pred"),
    )


@query(
    "a02_accuracy",
    oracle="""
        SELECT round(avg(CASE WHEN label = CAST(vec_id % 3 AS INTEGER) THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
        FROM embeddings
    """,
    doc="A2 accuracy = mean(pred==label) (ref: accuracy_score, src/train.py:47).",
)
def a02_accuracy(spark, sf_dir):
    df = _pred_df(spark, sf_dir)
    return df.agg(
        F.round(F.avg((F.col("label") == F.col("pred")).cast("double")), 6).alias("accuracy")
    )


@query(
    "a03_confusion_matrix",
    oracle="""
        SELECT label, CAST(vec_id % 3 AS INTEGER) AS pred, count(*) AS n
        FROM embeddings GROUP BY 1, 2
    """,
    doc="A3 confusion matrix, long form (ref: confusion_matrix, notebook cell 11).",
)
def a03_confusion_matrix(spark, sf_dir):
    return _pred_df(spark, sf_dir).groupBy("label", "pred").agg(F.count("*").alias("n"))


@query(
    "a03b_confusion_pivot",
    oracle="""
        SELECT label,
               count(*) FILTER (WHERE vec_id % 3 = 0) AS pred_0,
               count(*) FILTER (WHERE vec_id % 3 = 1) AS pred_1,
               count(*) FILTER (WHERE vec_id % 3 = 2) AS pred_2
        FROM embeddings GROUP BY label
    """,
    doc="A3 confusion matrix, wide form via pivot (2-D group count).",
)
def a03b_confusion_pivot(spark, sf_dir):
    wide = _pred_df(spark, sf_dir).groupBy("label").pivot("pred", [0, 1, 2]).count()
    return wide.select(
        "label",
        *[F.coalesce(F.col(str(p)), F.lit(0)).alias(f"pred_{p}") for p in (0, 1, 2)],
    )


@query(
    "a04_classification_report",
    oracle="""
        WITH pairs AS (
            SELECT label, CAST(vec_id % 3 AS INTEGER) AS pred FROM embeddings
        ), tp AS (
            SELECT label AS cls, count(*) AS tp FROM pairs WHERE label = pred GROUP BY 1
        ), support AS (
            SELECT label AS cls, count(*) AS support FROM pairs GROUP BY 1
        ), predicted AS (
            SELECT pred AS cls, count(*) AS predicted FROM pairs GROUP BY 1
        )
        SELECT s.cls,
               round(COALESCE(t.tp, 0) * 1.0 / NULLIF(p.predicted, 0), 6) AS precision,
               round(COALESCE(t.tp, 0) * 1.0 / s.support, 6)              AS recall,
               round(2.0 * COALESCE(t.tp, 0) / (s.support + COALESCE(p.predicted, 0)), 6) AS f1,
               s.support
        FROM support s
        LEFT JOIN tp t ON s.cls = t.cls
        LEFT JOIN predicted p ON s.cls = p.cls
    """,
    doc="A4 per-class precision/recall/F1/support from grouped counts "
    "(ref: classification_report, src/train.py:48; golden values in "
    "experiments/NAIVE_BAYES_20250908_082227/metrics.yml:2-7). "
    "F1 computed as 2·tp/(support+predicted) — algebraically 2PR/(P+R).",
)
def a04_classification_report(spark, sf_dir):
    # One scan, one shuffle, zero joins (was: three scans of the table,
    # one per groupBy key, stitched with two left joins — guide §2.3
    # "aggregate before you shuffle" / §2.4 "remove shuffles outright";
    # splitting per-key branches instead defeats exchange reuse, because
    # the outer-join build sides get different inferred isnotnull/equality
    # filters pushed below each branch's aggregate). Every (label, pred)
    # pair contributes two keyed rows — (cls=label: support, tp-if-equal)
    # and (cls=pred: predicted) — and a single hash aggregate sums them;
    # map-side partials collapse the doubled rows to ≤2k² per task.
    # Classes never seen as a label (support=0) are filtered out,
    # matching the old support-driven left joins.
    pairs = _pred_df(spark, sf_dir)
    contrib = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("label").alias("cls"),
                    F.lit(1).alias("sup"),
                    (F.col("label") == F.col("pred")).cast("int").alias("tp"),
                    F.lit(0).alias("prd"),
                ),
                F.struct(
                    F.col("pred").alias("cls"),
                    F.lit(0).alias("sup"),
                    F.lit(0).alias("tp"),
                    F.lit(1).alias("prd"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    stats = (
        contrib.groupBy("cls")
        .agg(
            F.sum("sup").alias("support"),
            F.sum("tp").alias("tp"),
            F.sum("prd").alias("predicted"),
        )
        .filter(F.col("support") > 0)
    )
    return stats.select(
        "cls",
        F.round(F.col("tp") / F.nullif(F.col("predicted"), F.lit(0)), 6).alias("precision"),
        F.round(F.col("tp") / F.col("support"), 6).alias("recall"),
        F.round(2.0 * F.col("tp") / (F.col("support") + F.col("predicted")), 6).alias("f1"),
        "support",
    )


@query(
    "a05_tpch_q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                       AS sum_qty,
               round(sum(l_extendedprice), 2)                                  AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4)                                       AS avg_qty,
               round(avg(l_extendedprice), 4)                                  AS avg_price,
               round(avg(l_discount), 6)                                       AS avg_disc,
               count(*)                                                        AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="A5 grouped multi-aggregate — TPC-H Q1 shape, the flagship query. "
    "Map-side partial agg → 6-group shuffle; the shipdate filter is pushed "
    "to the parquet scan (PushedFilters in .explain).",
)
def a05_tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "a06_count_distinct",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*)                AS n_events,
               round(sum(value), 2)    AS sum_value
        FROM events GROUP BY event_type
    """,
    doc="A6 exact distinct count per group (expands to a two-phase "
    "distinct-aggregate plan; partials keyed on (event_type,user_id)).",
)
def a06_count_distinct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "a06b_approx_count_distinct",
    # HLL sketch values are engine-specific: DuckDB's approx_count_distinct
    # is a different sketch, so no SQL reproduces Spark's estimates. The
    # error bound against the exact count is in tests/test_sketches.py.
    oracle=None,
    doc="A6 approx_count_distinct (HyperLogLog++) — the 100 TB-scale variant "
    "of a06: one pass, fixed memory, no exact-distinct shuffle explosion.",
)
def a06b_approx_count_distinct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@query(
    "a07_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="A7 rollup — subtotal hierarchy (status → status×priority → grand total).",
)
def a07_rollup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "a07b_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="A7 cube — all grouping-set combinations.",
)
def a07b_cube(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price")
    )


@query(
    "a07c_grouping_sets",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    doc="A7 explicit GROUPING SETS via the SQL surface (S8 passthrough).",
)
def a07c_grouping_sets(spark, sf_dir):
    from bigdata_lab4_spark.engine import run_sql

    return run_sql(
        spark,
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        sf_dir,
    )


@query(
    "a08_term_frequency",
    oracle="""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token FROM documents
        )
        SELECT token, count(*) AS tf FROM toks
        WHERE token != ''
        GROUP BY token
        ORDER BY tf DESC, token
        LIMIT 100
    """,
    doc="A8 corpus term frequency (ref: the counting half of TfidfVectorizer, "
    "src/preprocess.py:40) — explode(split) + hash agg; the relational form "
    "of CountVectorizer's fit. Deterministic top-100 via (tf desc, token) order.",
)
def a08_term_frequency(spark, sf_dir):
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "token")
        .limit(100)
    )


@query(
    "a09_idf",
    oracle="""
        WITH doc_tokens AS (
            SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
            FROM documents
        ), df AS (
            SELECT token, count(*) AS doc_freq FROM doc_tokens
            WHERE token != '' GROUP BY token
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT token, doc_freq,
               round(ln((1.0 + n_docs) / (1.0 + doc_freq)) + 1.0, 6) AS idf
        FROM df, n
        ORDER BY doc_freq DESC, token
        LIMIT 100
    """,
    doc="A9 document frequency + sklearn-smooth IDF: ln((1+N)/(1+df))+1 "
    "(ref: TfidfVectorizer default; SURVEY §7.5 notes Spark IDF differs — "
    "this query IS the sklearn formula; ml/tfidf.py's SklearnTfidf.fit applies "
    "the same formula to the df of its own term-keyed aggregation).",
)
def a09_idf(spark, sf_dir):
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    # N as a 1-row DataFrame broadcast-crossjoined into the plan (the
    # oracle's `n` CTE) — one scan, one job. An eager d.count() here
    # would be a second full pass over the corpus at 100 TB.
    n = d.agg(F.count("*").alias("n_docs"))
    # Distinct (doc_id, token) pairs == per-row array_distinct before the
    # explode: dedup happens inside the row, so the exploded token stream
    # never pays a .distinct() exchange — one shuffle (the doc-freq agg)
    # instead of two (opt guide §2.4 "remove shuffles outright").
    doc_tokens = d.select(F.explode(F.array_distinct(tokens_col("text"))).alias("token"))
    return (
        doc_tokens.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            "doc_freq",
            F.round(
                F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("doc_freq"))) + 1.0, 6
            ).alias("idf"),
        )
        .orderBy(F.desc("doc_freq"), "token")
        .limit(100)
    )


@query(
    "a10_nb_class_stats",
    oracle="""
        WITH n AS (SELECT count(*) AS total FROM documents)
        SELECT lang AS cls,
               count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens,
               round(count(*) * 1.0 / any_value(total), 6) AS prior
        FROM documents, n
        GROUP BY lang
    """,
    doc="A10 Naive-Bayes sufficient statistics, relational form: per-class doc "
    "counts, token totals, empirical priors (ref: MultinomialNB.fit with "
    "fit_prior=True, src/train.py:36-39). The ml/ pipeline consumes the same "
    "statistics via pyspark.ml.NaiveBayes.",
)
def a10_nb_class_stats(spark, sf_dir):
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    # total as an in-plan 1-row broadcast, mirroring the oracle's `n`
    # CTE — avoids an eager driver-side count (second full scan).
    n = d.agg(F.count("*").alias("total"))
    return (
        d.groupBy(F.col("lang").alias("cls"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens_col("text"))).alias("n_tokens"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "cls",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("prior"),
        )
    )


@query(
    "a11_salted_skew_agg",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               count(DISTINCT event_type) AS n_types
        FROM events GROUP BY user_id
    """,
    doc="A11 salted two-stage aggregation — the hot-key mitigation for "
    "aggregates whose PARTIAL state is unbounded per key (here "
    "count-distinct: partial state is the per-key value set, so one "
    "celebrity key can blow a single reducer even with map-side "
    "combine; plain sum/count never need this). Stage 1 groups by "
    "(user_id, salt = pmod(hash(event_id), 8)) so each hot key's "
    "state splits across 8 reducers; stage 2 merges the 8 bounded "
    "partials. Distinct-count stays exact by carrying collect_set → "
    "array_distinct(flatten()) across stages. Result is salt-invariant "
    "— hash-identical to the oracle's plain GROUP BY. At 100 TB the "
    "salt fan-out (8) scales with observed key skew; AQE skew-join "
    "handles the join-side analogue automatically.",
)
def a11_salted_skew_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(8)))
        .groupBy("user_id", "salt")
        .agg(
            F.count("*").alias("p_count"),
            F.sum("value").alias("p_sum"),
            F.collect_set("event_type").alias("p_types"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("p_count").alias("n_events"),
            F.round(F.sum("p_sum"), 2).alias("total_value"),
            F.size(F.array_distinct(F.flatten(F.collect_list("p_types")))).alias(
                "n_types"
            ),
        )
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.col("n_types").cast("bigint").alias("n_types"),
        )
    )


@query(
    "a12_approx_quantiles",
    # Greenwald-Khanna sketch values are engine-specific: DuckDB's
    # approx_quantile is a different sketch (t-digest), so no SQL
    # reproduces Spark's values. The rank-error bound against the exact
    # percentiles is in tests/test_sketches.py.
    oracle=None,
    doc="A12 approx quantiles (percentile_approx, Greenwald-Khanna "
    "sketch, accuracy=10000) — the 100 TB variant of the exact "
    "percentiles (w05b): mergeable fixed-size per-partition sketches "
    "instead of a full sort, one pass, bounded memory. Engine-specific "
    "sketch values → rows-only driver check; the rank-error bound vs "
    "the exact answer is asserted in tests/test_sketches.py.",
)
def a12_approx_quantiles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        *[
            F.round(
                F.percentile_approx("o_totalprice", p, 10000), 2
            ).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )
