"""sklearn-parity TF-IDF as a Spark ML estimator/transformer pair.

The reference vectorizes with
``TfidfVectorizer(max_features=5000, stop_words="english")``
(`src/preprocess.py:40`), fed ``clean_text`` output
only (`src/preprocess.py:48`), and fits/transforms through
``prepare_text`` (`src/utils.py:12-13`) — which also
calls ``.toarray()``, densifying a ~0.1%-sparse matrix into ~4 GB at
100k rows.  That densification is the reference's actual scale
ceiling (SURVEY §4.3); here vectors stay sparse end-to-end.

The vectorizer has that one shape: it reads ``TEXT_COL``, cleans and
tokenizes it as one Catalyst expression,
``word_tokens_col(clean_text_col(TEXT_COL))`` (sklearn's
``preprocessor=clean_text``; serving's twin is
``word_tokens_py(clean_text_py(message))``), keeps ``MAX_FEATURES``
terms and writes ``features``.

sklearn semantics reproduced (all public, from the sklearn docs):

* tokenization: lowercase, then ``(?u)\\b\\w\\w+\\b`` (tokens of two
  or more word chars): ``functions.text.word_tokens_col``, whose
  serving twin is ``word_tokens_py``;
* vocabulary: top ``MAX_FEATURES`` terms by **corpus term
  frequency**, ties at the cut broken by term; indices alphabetical,
  like sklearn's ``vocabulary_``. Spark's ``CountVectorizer(vocabSize=…)``
  ranks by corpus tf too, but indexes by rank and breaks ties by
  partition order, so the vocabulary is built here;
* smooth idf: ``idf(t) = ln((1+N)/(1+df(t))) + 1`` — note the ``+1``
  offset that `pyspark.ml.feature.IDF` (``ln((N+1)/(df+1))``) lacks
  (SURVEY §7.5);
* L2 row normalization.

Execution is Spark-first: fitting is one term-keyed aggregation
(corpus term frequency and document frequency together) over the
tokenizer expression, and the fitted transform is the same expression,
then a pure-JVM ``PipelineModel`` of ``CountVectorizerModel →
ElementwiseProduct(idf) → Normalizer(p=2)`` — no Python in the
transform path, so scoring 100 TB of text never leaves codegen'd JVM
operators. The model itself is its fitted parameters (vocabulary, idf)
as Python values, saved as one JSON file, so loading a model runs no
Spark job and no py4j call.
The ``PipelineModel`` is built from them on the first ``transform``,
in a few dozen py4j calls and no job: the vocabulary crosses to the
JVM as one newline-joined string, split there into the ``String[]``
that ``CountVectorizerModel``'s public constructor takes, and idf as
one pickled vector.

Stop words are always English, as in the reference; the fit drops
them, so the vocabulary holds none and scoring needs no stop filter.
Known semantic substitution: we use Spark's built-in english stop-word list
(``StopWordsRemover.loadDefaultStopWords``), not sklearn's 318-word
frozenset (sklearn is not installed here).  The lists overlap heavily
but are not identical; parity is semantic (±0.01 accuracy,
BASELINE.md), not bitwise.
"""

from __future__ import annotations

import json
import math

from pyspark.ml import PipelineModel
from pyspark.ml.feature import CountVectorizerModel, ElementwiseProduct, Normalizer, StopWordsRemover
from pyspark.ml.linalg import Vectors
from pyspark.ml.util import _jvm
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_lab4_spark.functions.text import clean_text_col, word_tokens_col

#: The message column the vectorizer reads, as ``load_tweets_csv``
#: names it.
TEXT_COL = "text"

#: Vocabulary cap of the reference's ``TfidfVectorizer(max_features=5000)``.
MAX_FEATURES = 5000


class SklearnTfidfModel:
    """Fitted TF-IDF transformer (the sklearn ``TfidfVectorizer``
    after ``fit``), held as its fitted parameters.

    ``vocabulary_`` (term → index, in index order) and ``idf_`` mirror
    the sklearn attribute names; the vocabulary holds no stop word.
    An empty vocabulary, or a term that is empty or holds a newline,
    raises ``ValueError``: a fit never makes one, and the JVM
    vocabulary is built by splitting the terms joined on newlines.

    The parameters are plain Python values, saved and loaded as one
    JSON file, so building or loading a model touches no JVM. The
    pure-JVM ``PipelineModel`` that :meth:`transform` runs is built
    from them on the first ``transform``.
    """

    def __init__(self, vocabulary: list[str], idf: list[float]) -> None:
        if not vocabulary or any(not t or "\n" in t for t in vocabulary):
            raise ValueError("the vocabulary is empty, or a term is empty or holds a newline")
        self.vocabulary_ = {t: i for i, t in enumerate(vocabulary)}
        self.idf_ = list(idf)
        self._pm: PipelineModel | None = None

    def _pipeline_model(self) -> PipelineModel:
        """``CountVectorizerModel → ElementwiseProduct(idf) →
        Normalizer(p=2)`` over the ``__tokens`` column, built once."""
        if self._pm is None:
            split = _jvm().java.util.regex.Pattern.compile("\n").split
            terms = split("\n".join(self.vocabulary_))
            counts = CountVectorizerModel._create_from_java_class(
                "org.apache.spark.ml.feature.CountVectorizerModel", terms
            )
            self._pm = PipelineModel(
                [
                    counts.setInputCol("__tokens").setOutputCol("__counts"),
                    ElementwiseProduct(
                        scalingVec=Vectors.dense(self.idf_),
                        inputCol="__counts",
                        outputCol="__tfidf_raw",
                    ),
                    Normalizer(inputCol="__tfidf_raw", outputCol="features", p=2.0),
                ]
            )
        return self._pm

    def transform(self, df: DataFrame) -> DataFrame:
        """Append the L2-normalized TF-IDF ``SparseVector`` of
        ``TEXT_COL`` as ``features``; intermediate token/count columns
        are dropped."""
        tokens = df.withColumn("__tokens", word_tokens_col(clean_text_col(TEXT_COL)))
        out = self._pipeline_model().transform(tokens)
        return out.drop("__tokens", "__counts", "__tfidf_raw")

    # -- persistence (S4) ----------------------------------------------
    def save(self, path: str) -> None:
        """Write the fitted parameters as one JSON file at ``path`` — the
        durable replacement for the reference's
        ``pickle.dump(vectorizer)`` (the reference's `src/preprocess.py:70-71`).
        Floats are written as their shortest round-trip repr, so
        :meth:`load` reads back exactly the values saved."""
        with open(path, "w") as f:
            json.dump({"vocabulary": list(self.vocabulary_), "idf": self.idf_}, f)

    @classmethod
    def load(cls, path: str) -> "SklearnTfidfModel":
        """Read a model :meth:`save` wrote; no Spark job, no py4j call.
        The ``stop_words``, ``input_col`` and ``output_col`` keys of
        older files are ignored."""
        with open(path) as f:
            p = json.load(f)
        return cls(p["vocabulary"], p["idf"])


class SklearnTfidf:
    """TF-IDF estimator with the reference's one vectorizer,
    ``TfidfVectorizer(max_features=5000, stop_words="english")`` over
    ``clean_text`` output (`src/preprocess.py:40,48`,
    `src/utils.py:12-13`); it takes no arguments.

    Fit plan (all distributed, shuffle-light):

    1. clean and tokenize ``TEXT_COL`` (map-only, codegen);
    2. one term-keyed aggregation: each document emits
       ``(term, tf=1, df=0)`` per token and ``(term, tf=0, df=1)``
       per distinct token, stop words are filtered out (an ``InSet``
       hash lookup), and ``groupBy(term)`` sums both —
       partial aggregation map-side, so the one shuffle carries one
       row per term per partition, never document bodies;
    3. top-``MAX_FEATURES`` by ``(corpus_tf desc, term asc)`` —
       ``TakeOrderedAndProject``, no global sort.

    The only driver-side materialization is the fitted parameter set
    itself — ≤ ``MAX_FEATURES`` (term, df) rows, the same bounded
    collect ``pyspark.ml``'s own ``CountVectorizer.fit`` performs.
    """

    def fit(self, df: DataFrame) -> SklearnTfidfModel:
        stop_words = StopWordsRemover.loadDefaultStopWords("english")
        tokens = df.select(word_tokens_col(clean_text_col(TEXT_COL)).alias("__tokens"))

        n_docs = tokens.count()
        if n_docs == 0:
            raise ValueError("cannot fit TF-IDF on an empty DataFrame")

        # One (term, tf, df) row per token and per distinct token of its
        # document, summed by one aggregation; no doc id needed.
        def rows(arr, tf, df):
            return F.transform(
                arr,
                lambda t: F.struct(
                    t.alias("term"), F.lit(tf).alias("tf"), F.lit(df).alias("df")
                ),
            )

        toks = F.col("__tokens")
        term_stats = (
            tokens.select(
                F.inline(F.concat(rows(toks, 1, 0), rows(F.array_distinct(toks), 0, 1)))
            )
            .filter(~F.col("term").isin(stop_words))
            .groupBy("term")
            .agg(F.sum("tf").alias("corpus_tf"), F.sum("df").alias("df"))
        )
        # Fitted-parameter collect: ≤ MAX_FEATURES rows (see class doc).
        top = (
            term_stats.orderBy(F.desc("corpus_tf"), F.asc("term"))
            .limit(MAX_FEATURES)
            .collect()
        )
        if not top:
            raise ValueError("corpus produced an empty vocabulary")

        # sklearn assigns indices in alphabetical term order.
        vocab_df = {r["term"]: r["df"] for r in top}
        vocab = sorted(vocab_df)
        idf = [
            math.log((1.0 + n_docs) / (1.0 + vocab_df[t])) + 1.0 for t in vocab
        ]

        return SklearnTfidfModel(vocab, idf)
