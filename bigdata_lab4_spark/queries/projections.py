"""P-series — projections, filters, scalar expressions (SURVEY §2.2).

The reference's scalar surface is the tweet-cleaning chain
(`/root/reference/src/utils.py:5-10`), a couple of casts
(`src/preprocess.py:48`), the label decode
(`src/predict.py:84-92`), its inverse
(reference `tests/test_func_api.py:127`), and timestamp formatting
(`src/app.py:98`). All are re-expressed as Catalyst column
expressions — no Python UDFs — so they stay inside whole-stage
codegen and push down to the scan where applicable.
"""

from __future__ import annotations

import string

from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.functions.text import (
    HASHTAG_RE,
    MENTION_RE,
    STRIP_RE,
    URL_RE,
    clean_text_col,
)
from bigdata_lab4_spark.registry import query

# string.punctuation with the single quote doubled for SQL literals.
_PUNCT_SQL = string.punctuation.replace("'", "''")

# DuckDB twin of functions.text.clean_text_col: the same patterns (valid
# in RE2 and Java), the same op order, RE2 'g' flags, translate-delete.
CLEAN_TEXT_SQL = (
    "regexp_replace(lower(translate(regexp_replace(regexp_replace(regexp_replace("
    f"text, '{URL_RE}', '', 'g'), '{MENTION_RE}', '', 'g'), '{HASHTAG_RE}', '', 'g'), "
    f"'{_PUNCT_SQL}', '')), '{STRIP_RE}', '', 'g')"
)


@query(
    "p01_projection",
    oracle="SELECT doc_id, lang, source FROM documents",
    doc="P1 column projection (ref: dataset[['Sentiment']] src/preprocess.py:51). "
    "Column pruning reaches the parquet scan — only 3 of 5 columns read.",
)
def p01_projection(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")


@query(
    "p02_cast",
    oracle="""
        SELECT doc_id,
               CAST(n_chars AS DOUBLE)  AS n_chars_d,
               CAST(n_chars AS VARCHAR) AS n_chars_s,
               CAST(doc_id AS INTEGER)  AS doc_id_i
        FROM documents
    """,
    doc="P2 type cast (ref: .astype(str) src/preprocess.py:48).",
)
def p02_cast(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars_d"),
        F.col("n_chars").cast("string").alias("n_chars_s"),
        F.col("doc_id").cast("int").alias("doc_id_i"),
    )


@query(
    "p03_clean_text",
    oracle=f"SELECT doc_id, {CLEAN_TEXT_SQL} AS cleaned FROM documents",
    doc="P3+P4+P5+P6+P7 — the reference's full clean_text chain "
    "(src/utils.py:5-10) as one Catalyst expression chain "
    "(regexp_replace ×3 → translate-delete → lower → regex-trim). "
    "The python original is a per-row .apply; this is codegen'd JVM work.",
)
def p03_clean_text(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", clean_text_col("text").alias("cleaned"))


@query(
    "p04_strip_urls",
    oracle=f"SELECT doc_id, regexp_replace(text, '{URL_RE}', '', 'g') AS no_urls FROM documents",
    doc="P4 URL strip (ref: src/utils.py:6).",
)
def p04_strip_urls(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.regexp_replace("text", URL_RE, "").alias("no_urls"))


@query(
    "p05_strip_mentions",
    oracle=f"SELECT doc_id, regexp_replace(text, '{MENTION_RE}', '', 'g') AS no_mentions FROM documents",
    doc="P5 @mention strip (ref: src/utils.py:7).",
)
def p05_strip_mentions(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.regexp_replace("text", MENTION_RE, "").alias("no_mentions"))


@query(
    "p06_strip_hashtags",
    oracle=f"SELECT doc_id, regexp_replace(text, '{HASHTAG_RE}', '', 'g') AS no_tags FROM documents",
    doc="P6 #hashtag strip (ref: src/utils.py:8).",
)
def p06_strip_hashtags(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.regexp_replace("text", HASHTAG_RE, "").alias("no_tags"))


@query(
    "p07_punct_lower_trim",
    oracle=(
        f"SELECT doc_id, regexp_replace(lower(translate(text, '{_PUNCT_SQL}', '')), "
        f"'{STRIP_RE}', '', 'g') AS norm FROM documents"
    ),
    doc="P7 punctuation-delete + lowercase + strip (ref: src/utils.py:9-10). "
    "translate() deletes unmapped chars — identical to str.translate semantics.",
)
def p07_punct_lower_trim(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = F.translate(F.col("text"), string.punctuation, "")
    c = F.regexp_replace(F.lower(c), STRIP_RE, "")
    return d.select("doc_id", c.alias("norm"))


@query(
    "p08_nonempty_filter",
    oracle="""
        SELECT doc_id, n_chars FROM documents
        WHERE text IS NOT NULL AND trim(text) != '' AND n_chars > 200
    """,
    doc="P8 null/empty guard (ref: empty-message → HTTP 400, src/predict.py:75-80) "
    "plus a pushed-down numeric predicate.",
)
def p08_nonempty_filter(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "") & (F.col("n_chars") > 200)
    ).select("doc_id", "n_chars")


@query(
    "p09_label_decode",
    oracle="""
        SELECT label,
               CASE WHEN label = 1 THEN 'Positive sentiment'
                    WHEN label = 0 THEN 'Negative sentiment'
                    ELSE 'Unknown sentiment' END AS decoded,
               count(*) AS n
        FROM embeddings GROUP BY 1, 2
    """,
    doc="P9 int→string label decode incl. the 'Unknown sentiment' branch "
    "(ref: src/predict.py:84-92; embeddings.label∈{0,1,2} exercises all 3 arms).",
)
def p09_label_decode(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    decoded = (
        F.when(F.col("label") == 1, "Positive sentiment")
        .when(F.col("label") == 0, "Negative sentiment")
        .otherwise("Unknown sentiment")
    )
    return e.select("label", decoded.alias("decoded")).groupBy("label", "decoded").agg(
        F.count("*").alias("n")
    )


@query(
    "p10_contains_decode",
    oracle="""
        SELECT event_type,
               CASE WHEN lower(event_type) LIKE '%click%' THEN 1 ELSE 0 END AS is_click,
               count(*) AS n
        FROM events GROUP BY 1, 2
    """,
    doc="P10 substring-contains decode (ref: 1 if 'positive' in s.lower(), "
    "reference tests/test_func_api.py:127).",
)
def p10_contains_decode(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    is_click = F.when(F.lower(F.col("event_type")).contains("click"), 1).otherwise(0)
    return e.select("event_type", is_click.alias("is_click")).groupBy(
        "event_type", "is_click"
    ).agg(F.count("*").alias("n"))


@query(
    "p11_timestamp_format",
    oracle="""
        SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
        FROM events WHERE event_id < 1000
    """,
    doc="P11 timestamp→ISO string (ref: row[0].isoformat() src/app.py:98; "
    "strftime artifact naming src/train.py:27).",
)
def p11_timestamp_format(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("event_id") < 1000).select(
        "event_id", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso")
    )
