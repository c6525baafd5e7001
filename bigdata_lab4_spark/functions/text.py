"""Text cleaning and word tokenization, once per engine.

The reference cleans tweets with a row-at-a-time python function
(`/root/reference/src/utils.py:5-10`, applied via ``pandas.apply`` at
`src/preprocess.py:48`): strip URLs, @mentions, #hashtags, delete all
of ``string.punctuation``, lowercase, strip. Here the same semantics
are pure Catalyst column expressions — JVM-side, whole-stage
codegen'd, no Python in the hot path. Golden I/O pairs from
`src/unit_tests/test_utils.py:8-21` are the contract (tests/).

The patterns below are the one cleaning definition: valid in Java's
regex engine and in RE2, so the DuckDB oracle
(``queries.projections.CLEAN_TEXT_SQL``) is built from the same
strings. They spell out CPython's unicode classes, which the
reference relies on (fuzzed in tests/test_text_properties.py):

* a word character is ``isalnum ∪ {_}`` = L* ∪ N* (incl. No/Nl:
  '²', 'Ⅷ') ∪ ``_``, without the marks and other connectors that
  Java's ``(?U)\\w`` adds;
* whitespace is Java's White_Space set plus ``\\x1c-\\x1f`` (bidi
  separators Python counts as space, Java does not).

Serving runs each expression's Python twin on the driver. The
tokenizer's ``_WORD{2,}`` is sklearn's ``(?u)\\b\\w\\w+\\b``, so batch
scoring and ``predict_one`` see the same tokens.
"""

from __future__ import annotations

import re
import string

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Python's ``string.punctuation`` — the exact 32-char set the
#: reference deletes (`/root/reference/src/utils.py:9`).
PUNCTUATION: str = string.punctuation

_WORD = r"[\p{L}\p{N}_]"
_SPACES = (
    r"\t\n\x0b\f\r \x85\xa0\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}"
    r"\x{202f}\x{205f}\x{3000}\x1c-\x1f"
)
_SPACE, _NON_SPACE = f"[{_SPACES}]", f"[^{_SPACES}]"

#: The reference's ``http\S+|www\S+`` (`src/utils.py:6`).
URL_RE = f"http{_NON_SPACE}+|www{_NON_SPACE}+"
#: The reference's ``@\w+`` (`src/utils.py:7`).
MENTION_RE = f"@{_WORD}+"
#: The reference's ``#\w+`` (`src/utils.py:8`).
HASHTAG_RE = f"#{_WORD}+"
#: Python's ``str.strip()`` as a regex; Spark's ``trim()`` strips only ' '.
STRIP_RE = f"^{_SPACE}+|{_SPACE}+$"

_CLEAN_URL = re.compile(r"http\S+|www\S+")
_CLEAN_MENTION = re.compile(r"@\w+")
_CLEAN_HASHTAG = re.compile(r"#\w+")
_PUNCT_TABLE = str.maketrans("", "", PUNCTUATION)
_TOKEN_RE = re.compile(r"(?u)\b\w\w+\b")


def clean_text_col(c: Column | str) -> Column:
    """Spark-native ``clean_text``.

    Matches the reference order of operations exactly: URLs →
    mentions → hashtags → punctuation deletion → lower → strip.
    """
    c = F.col(c) if isinstance(c, str) else c
    c = F.regexp_replace(c, URL_RE, "")
    c = F.regexp_replace(c, MENTION_RE, "")
    c = F.regexp_replace(c, HASHTAG_RE, "")
    # translate() deletes chars with no replacement — same semantics
    # as str.translate(maketrans("", "", punctuation)); stays in
    # codegen, no regex engine needed for the 32-char class.
    c = F.translate(c, PUNCTUATION, "")
    c = F.lower(c)
    return F.regexp_replace(c, STRIP_RE, "")


def clean_text_py(text: str) -> str:
    """Driver-local twin of :func:`clean_text_col` for single-row
    serving (the reference's own regexes, `src/utils.py:5-10`)."""
    text = _CLEAN_URL.sub("", text)
    text = _CLEAN_MENTION.sub("", text)
    text = _CLEAN_HASHTAG.sub("", text)
    return text.translate(_PUNCT_TABLE).lower().strip()


def word_tokens_col(c: Column | str) -> Column:
    """sklearn's tokenization as one Catalyst expression: lowercase,
    then every run of two or more word characters. A null text raises
    (``raise_error``) instead of yielding no tokens. ``c`` appears once
    in the expression, so a text expression passed in, such as
    ``clean_text_col(...)``, runs once per row: Catalyst does not share
    an expression between a ``CASE`` condition and its ``ELSE``."""
    c = F.col(c) if isinstance(c, str) else c
    text = F.coalesce(c, F.raise_error("word_tokens_col: the text is null"))
    return F.regexp_extract_all(F.lower(text), F.lit(f"{_WORD}{{2,}}"), 0)


def word_tokens_py(text: str) -> list[str]:
    """Driver-local twin of :func:`word_tokens_col`."""
    return _TOKEN_RE.findall(text.lower())


def tokens_col(c: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped — the shape
    shared by the TF/IDF queries and the text-analysis operators."""
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")
