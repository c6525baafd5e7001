from bigdata_lab4_spark.functions.text import (
    PUNCTUATION,
    clean_text_col,
    tokens_col,
)
from bigdata_lab4_spark.functions.embeddings import (
    dot_col,
    l2_norm_col,
)

__all__ = [
    "PUNCTUATION",
    "clean_text_col",
    "tokens_col",
    "dot_col",
    "l2_norm_col",
]
