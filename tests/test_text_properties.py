"""Property-based parity: Spark cleaning and tokenization vs their
serving-path twins, and cleaning vs its DuckDB twin.

`predict_one` cleans and tokenizes driver-side with ``clean_text_py``
(the reference's exact regexes, its `src/utils.py:5-10`)
and ``word_tokens_py`` (sklearn's ``(?u)\\b\\w\\w+\\b``), while batch
scoring runs ``clean_text_col`` and ``word_tokens_col`` JVM-side. If
either pair ever disagrees, online and batch predictions silently
diverge for the same message — so both contracts are fuzzed here over
arbitrary unicode (not just the ASCII the oracle suite covers).
``derandomize=True`` keeps the explored corpus fixed run-to-run: a
green suite stays green, and any future edit of the patterns in
``functions/text.py`` that breaks unicode parity (e.g. falling back
to Java's ASCII ``\\s``/``\\S``/``\\w``, or to its ``(?U)\\w``, which
adds marks and connectors and drops ``No`` digits) fails
deterministically. The DuckDB oracles of p03–p07 are built from the
same patterns; the battery below runs each of them against its Spark
query.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from bigdata_lab4_spark import queries  # noqa: F401  (registers the queries)
from bigdata_lab4_spark.functions.text import (
    clean_text_col,
    clean_text_py,
    word_tokens_col,
    word_tokens_py,
)
from bigdata_lab4_spark.registry import REGISTRY

# Long-stable Unicode blocks (Latin/Greek/Cyrillic/Hebrew/Arabic/
# Indic/Thai/CJK/Hangul/kana, combining marks, ligatures, fullwidth
# forms, general punctuation, number forms, emoji) plus the control
# whitespace Python counts as space. Codepoints assigned in recent
# Unicode versions are deliberately excluded: the JVM regex engine
# (Unicode 13 data in JDK 17), CPython 3.11 (Unicode 14), and the
# JVM's lowercasing tables each ship different Unicode snapshots, so
# characters newer than the oldest snapshot legitimately classify
# differently per engine — that is data-version skew, not a cleaning
# bug (verified: a 5000-string full-range fuzz diverged ONLY on such
# codepoints).
_STABLE_RANGES = [
    (0x09, 0x0D),      # \t \n \v \f \r
    (0x1C, 0x20),      # bidi separators Python treats as whitespace
    (0x20, 0x7E),
    (0x85, 0x85),      # NEL
    (0xA0, 0x2AF),
    (0x300, 0x36F),    # combining marks
    (0x370, 0x3FF),
    (0x400, 0x4FF),
    (0x590, 0x5F4),
    (0x600, 0x6FF),
    (0x900, 0x97F),
    (0xE00, 0xE7F),
    (0x1E00, 0x1EFF),
    (0x2000, 0x206F),
    (0x2150, 0x218B),  # number forms (Ⅷ — Nl, in \w for both)
    (0x3000, 0x30FF),  # CJK punct + kana
    (0x4E00, 0x9FCF),
    (0xAC00, 0xD7A3),
    (0xFB00, 0xFB4F),  # ligatures
    (0xFF00, 0xFFEF),  # fullwidth forms
    (0x1F300, 0x1F64F),  # emoji
]
_TEXT = st.text(
    alphabet=st.one_of(
        [
            st.characters(
                min_codepoint=lo, max_codepoint=hi, exclude_categories=("Cs", "Cn")
            )
            for lo, hi in _STABLE_RANGES
        ]
    ),
    max_size=60,
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.lists(_TEXT, min_size=1, max_size=8))
def test_clean_text_spark_matches_python_twin(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r[0] for r in df.select(clean_text_col("text")).collect()]
    assert got == [clean_text_py(t) for t in texts]


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.lists(_TEXT, min_size=1, max_size=8))
def test_word_tokens_spark_match_python_twin(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r[0] for r in df.select(word_tokens_col("text")).collect()]
    assert got == [word_tokens_py(t) for t in texts]


#: Where DuckDB's ``lower()`` differs from Java's and Python's (the
#: regexes agree): 'İ' lowers to 'i' without the combining dot, and a
#: word-final 'Σ' to 'σ', not 'ς'.
_DUCKDB_LOWER_DIFFERS = {"İstanbul STRASSE ẞ", "ΣΙΣΥΦΟΣ"}

#: The projections whose query and oracle run ``lower()``.
_LOWERS = {"p03_clean_text", "p07_punct_lower_trim"}


def test_clean_text_unicode_battery(spark, tmp_path):
    """Pinned adversarial cases: NBSP inside URLs and as padding
    (Java's ASCII \\s vs CPython's unicode \\s), unicode
    mentions/hashtags, case-mapping oddities (İ, ΣΙΣΥΦΟΣ, ẞ,
    ligatures), fullwidth forms, ideographic space; combining marks,
    connector punctuation and superscript digits, where Java's
    ``(?U)\\w`` and Python's ``\\w`` split words differently. Spark's
    cleaning and tokens equal the Python twins' on every case. The
    battery is also a ``documents`` table: p03–p07 run as registered
    in Spark and as their oracles in DuckDB, and agree on every row but
    the two ``lower()`` ones of p03 and p07. (The testdata's
    ``documents`` is pure ASCII, so the oracle suite never reaches
    these classes.)"""
    battery = [
        "http://x.com\xa0after",
        "  \xa0padded\xa0  ",
        "@méntion rest",
        "#хэштег rest",
        "İstanbul STRASSE ẞ",
        "ﬁligree Ⅷ",
        "http://t.co/žluť more",
        "emoji 😀 @user x",
        "tab\tnewline\n",
        "ΣΙΣΥΦΟΣ",
        "school’s — “quoted”",
        "ｆｕｌｌｗｉｄｔｈ ＠ｕｓｅｒ",
        "mixed http://a　b",
        "",
        "www.ü.de/ä?q=#tag and #tág @ü_ß ＃x",
        "हिन्दी भाषा",
        "a‿b",
        "x²y ok",
    ]
    df = spark.createDataFrame([(t,) for t in battery], ["text"])
    got = [tuple(r) for r in df.select(clean_text_col("text"), word_tokens_col("text")).collect()]
    assert got == [(clean_text_py(t), word_tokens_py(t)) for t in battery]

    n = len(battery)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": battery,
            "lang": ["xx"] * n,
            "source": ["battery"] * n,
            "n_chars": pa.array([len(t) for t in battery], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'")
    try:
        for name in ("p03_clean_text", "p04_strip_urls", "p05_strip_mentions",
                     "p06_strip_hashtags", "p07_punct_lower_trim"):
            q = REGISTRY[name]
            spark_rows = dict(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())
            duck_rows = dict(con.execute(q.oracle).fetchall())
            skip = _DUCKDB_LOWER_DIFFERS if name in _LOWERS else set()
            keep = [i for i, t in enumerate(battery) if t not in skip]
            assert [duck_rows[i] for i in keep] == [spark_rows[i] for i in keep], name
    finally:
        con.close()
