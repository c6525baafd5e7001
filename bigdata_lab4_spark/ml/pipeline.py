"""End-to-end sentiment pipeline: clean → TF-IDF → MultinomialNB.

This is the reference's whole job, re-expressed Spark-first:

* cleaning and vectorization: ``clean_text`` (the reference's
  `src/utils.py:5-10`) feeding ``TfidfVectorizer(max_features=5000,
  stop_words="english")`` (`src/preprocess.py:40,48`) — here
  :class:`~bigdata_lab4_spark.ml.tfidf.SklearnTfidf`, which reads the
  ``text`` column and cleans and tokenizes it as one codegen'd Catalyst
  expression (``functions.text.clean_text_col`` inside
  ``word_tokens_col``) instead of ``pandas.apply``, sparse end-to-end;
* estimator: ``MultinomialNB(alpha=1.0, fit_prior=True)``
  (`src/train.py:36-42`) — here
  ``pyspark.ml.classification.NaiveBayes(smoothing=alpha,
  modelType="multinomial")``, mathematically the same estimator
  (per-class feature sums + Laplace ``alpha``; Spark always fits
  class priors from data, which is sklearn's ``fit_prior=True``);
* persistence: each fitted parameter once, as JSON — the TF-IDF
  vocabulary and idf in ``tfidf.json``, NB ``pi``/``theta`` in
  ``nb.json`` — and an **immutable per-run ``run.json``** carrying
  params/metrics/paths — replacing the reference's mutable, race-prone
  ``config.ini`` rewritten by every stage (`src/train.py:63-71`,
  SURVEY §4.3). :meth:`SentimentModel.save` and
  :meth:`SentimentModel.load` run no Spark job, and ``load`` makes no
  py4j call, so a served model is ready in milliseconds. The batch
  path's JVM stages are built from the same parameters on its first
  call;
* serving: :meth:`SentimentModel.predict_one` mirrors
  ``Predictor.predict`` (`src/predict.py:73-92`) including the
  empty-message guard and the Positive/Negative/Unknown decode — but
  scores driver-local from the fitted parameters (vocab, idf, NB
  log-odds) and the Python twins of the batch text expressions
  (``functions.text``), no Spark job per request, no JVM model loaded.

Scale notes: training is one aggregation (TF-IDF fit) plus Spark
ML's distributed NB sufficient-stats pass; scoring is a pure-JVM
``transform``: ``CountVectorizerModel → ElementwiseProduct →
Normalizer → NaiveBayesModel``. Nothing here densifies the feature
matrix — the reference's ``.toarray()`` (`src/utils.py:13`) is
exactly what caps it at 100k rows (SURVEY §4.3).
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timezone

from pyspark.ml.classification import NaiveBayes, NaiveBayesModel
from pyspark.ml.linalg import DenseMatrix, Vectors
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_lab4_spark.functions.text import clean_text_py, word_tokens_py
from bigdata_lab4_spark.ml.tfidf import TEXT_COL, SklearnTfidf, SklearnTfidfModel

#: Decode map from `/root/reference/src/predict.py:84-92`.
POSITIVE, NEGATIVE, UNKNOWN = (
    "Positive sentiment",
    "Negative sentiment",
    "Unknown sentiment",
)

#: Laplace smoothing of the reference's ``MultinomialNB(alpha=1.0)``
#: (`src/train.py:36-42`).
NB_ALPHA = 1.0

#: The 0/1 label column the pipeline reads beside ``TEXT_COL``, as
#: :func:`load_tweets_csv` names it.
LABEL_COL = "label"

#: File names inside a saved model directory.
TFIDF_FILE, NB_FILE = "tfidf.json", "nb.json"


class SentimentModel:
    """Fitted sentiment classifier: TF-IDF model + NB parameters
    (log-priors ``pi`` and log-likelihoods ``theta`` as lists), the one
    state of a fitted and of a loaded model.

    Batch path (:meth:`transform`) is pure JVM; serving path
    (:meth:`predict_one`) is driver-local numpy-free scoring from the
    same fitted parameters, asserted equal to the batch path in
    ``tests/test_ml_pipeline.py``.
    """

    def __init__(
        self,
        tfidf_model: SklearnTfidfModel,
        pi: list[float],
        theta: list[list[float]],
    ) -> None:
        self.tfidf_model = tfidf_model
        self.pi = pi
        self.theta = theta
        self._nb: NaiveBayesModel | None = None

    def _nb_model(self) -> NaiveBayesModel:
        """The batch path's ``NaiveBayesModel``, built once from ``pi``
        and ``theta`` with no Spark job. Its constructor is
        ``private[ml]`` in Scala but public in the bytecode. ``theta``
        goes row-major, the layout ``NaiveBayes.fit`` gives it, and
        ``sigma`` is empty, as for every multinomial model."""
        if self._nb is None:
            theta = [v for row in self.theta for v in row]
            self._nb = NaiveBayesModel._create_from_java_class(
                "org.apache.spark.ml.classification.NaiveBayesModel",
                NaiveBayesModel._randomUID(),
                Vectors.dense(self.pi),
                DenseMatrix(len(self.theta), len(self.theta[0]), theta, isTransposed=True),
                DenseMatrix(0, 0, []),
            )
        return self._nb

    # -- batch scoring (U4) --------------------------------------------
    def transform(self, df: DataFrame) -> DataFrame:
        """Append ``prediction`` (double) and decoded ``sentiment``
        columns. Input needs ``TEXT_COL``; label is not required."""
        feats = self.tfidf_model.transform(df)
        scored = self._nb_model().transform(feats)
        decoded = scored.withColumn(
            "sentiment",
            F.when(F.col("prediction") == 1.0, POSITIVE)
            .when(F.col("prediction") == 0.0, NEGATIVE)
            .otherwise(UNKNOWN),
        )
        return decoded.drop("features", "rawPrediction", "probability")

    def evaluate(self, df: DataFrame) -> dict:
        """Accuracy of the batch path against ``LABEL_COL`` — the
        reference's smoke metric (`src/train.py:45-48`). One
        aggregated scalar leaves the cluster."""
        scored = self.transform(df)
        row = scored.agg(
            F.avg(
                (F.col(LABEL_COL).cast("double") == F.col("prediction"))
                .cast("double")
            ).alias("accuracy"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return {"accuracy": float(row["accuracy"]), "n": int(row["n"])}

    # -- online scoring (U5) -------------------------------------------
    def predict_one(self, message: str) -> str:
        """Single-message serving — the reference's `src/predict.py:73-92`
        semantics: empty-guard, clean, vectorize, NB argmax, decode.
        Scores from the driver-side parameters, O(classes ×
        ``MAX_FEATURES``) floats — the standard broadcast-model serving
        pattern."""
        if not message:
            raise ValueError(
                "Message is not provided. Please provide a message to analyze."
            )
        tfidf = self.tfidf_model
        counts: dict[int, int] = {}
        for tok in word_tokens_py(clean_text_py(message)):
            idx = tfidf.vocabulary_.get(tok)
            if idx is not None:
                counts[idx] = counts.get(idx, 0) + 1
        # tf-idf + L2 norm, sparse
        x = {i: c * tfidf.idf_[i] for i, c in counts.items()}
        norm = math.sqrt(sum(v * v for v in x.values()))
        if norm > 0:
            x = {i: v / norm for i, v in x.items()}
        # multinomial NB: argmax_c pi[c] + sum_f x_f * theta[c][f]
        scores = [
            self.pi[c] + sum(v * self.theta[c][i] for i, v in x.items())
            for c in range(len(self.pi))
        ]
        pred = max(range(len(scores)), key=lambda c: (scores[c], -c))
        if pred == 1:
            return POSITIVE
        if pred == 0:
            return NEGATIVE
        return UNKNOWN  # pragma: no cover — binary models never hit this

    # -- persistence (S4 + S5 run metadata) ----------------------------
    def save(self, path: str, metrics: dict | None = None) -> None:
        """Write ``tfidf.json`` and ``nb.json`` (the fitted parameters,
        each once) and an immutable ``run.json`` (params, metrics,
        artifact paths) — the append-only replacement for the
        reference's shared ``config.ini`` (`src/train.py:63-71`). Plain
        file writes: no Spark job and no py4j call."""
        os.makedirs(path, exist_ok=True)
        self.tfidf_model.save(os.path.join(path, TFIDF_FILE))
        with open(os.path.join(path, NB_FILE), "w") as f:
            json.dump({"pi": self.pi, "theta": self.theta}, f)
        run = {
            "model": "NAIVE_BAYES",
            "params": {
                "alpha": NB_ALPHA,
                "model_type": "multinomial",
                "max_features": len(self.tfidf_model.idf_),
            },
            "metrics": metrics or {},
            "paths": {"tfidf": TFIDF_FILE, "nb_params": NB_FILE},
            "saved_at": datetime.now(timezone.utc).isoformat(),
        }
        with open(os.path.join(path, "run.json"), "w") as f:
            json.dump(run, f, indent=2, sort_keys=True)

    @classmethod
    def load(cls, path: str) -> "SentimentModel":
        """Read the JSON parameter files :meth:`save` wrote: no Spark job
        and no py4j call. An ``nb/`` directory that older saves also
        wrote (the Spark ML writer's copy of ``nb.json``) is ignored. A
        directory without the JSON files (the older Spark-ML-only
        layout) raises ``FileNotFoundError`` naming the missing file."""
        try:
            tfidf = SklearnTfidfModel.load(os.path.join(path, TFIDF_FILE))
            with open(os.path.join(path, NB_FILE)) as f:
                nb = json.load(f)
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"model file {e.filename} is missing: a model saved by Spark ML "
                "writers alone (a tfidf/ directory) must be trained and saved again"
            ) from e
        return cls(tfidf, nb["pi"], nb["theta"])


class SentimentPipeline:
    """Unfitted pipeline with the reference's hyperparameters
    (`src/preprocess.py:40`, `src/train.py:36`, `config.ini`
    NAIVE_BAYES section): ``MAX_FEATURES``, English stop words and
    ``NB_ALPHA``. It reads ``TEXT_COL`` and ``LABEL_COL``; cleaning
    happens inside the vectorizer, so the frames are passed as
    loaded."""

    def fit(self, train_df: DataFrame, tfidf_fit_df: DataFrame) -> SentimentModel:
        """Fit TF-IDF on ``tfidf_fit_df``, then NB on ``train_df``.

        The reference fits its vectorizer on the FULL dataset before
        the train/test split (`src/preprocess.py:50-55`, SURVEY §4.3),
        a leakage quirk: pass the full frame as ``tfidf_fit_df`` for
        metric parity. For the leak-free mode, pass the train frame as
        ``tfidf_fit_df``.
        """
        tfidf = SklearnTfidf().fit(tfidf_fit_df)
        train_feats = tfidf.transform(train_df).withColumn(
            "__label_d", F.col(LABEL_COL).cast("double")
        )
        nb = NaiveBayes(
            smoothing=NB_ALPHA,
            modelType="multinomial",
            featuresCol="features",
            labelCol="__label_d",
        ).fit(train_feats)
        return SentimentModel(tfidf, nb.pi.toArray().tolist(), nb.theta.toArray().tolist())


def train_test_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic 80/20 split mirroring the reference's
    ``train_test_split(..., test_size=0.2, random_state=42)``
    (`src/preprocess.py:53-55`) — semantic, not bitwise: Spark and
    sklearn RNGs cannot produce identical splits (SURVEY §7.4).
    """
    train, test = df.randomSplit([0.8, 0.2], seed=42)
    return train, test


def load_tweets_csv(spark: SparkSession, path: str) -> DataFrame:
    """The reference's ingest: latin-1 CSV with ItemID / Sentiment /
    SentimentText (`src/preprocess.py:46`), normalized to
    (id, label, text).

    Read with a declared schema of the three header names as strings,
    so building the DataFrame runs no Spark job (taking the column
    names from the header would run one). ``enforceSchema=false``
    checks each file's header against it: a renamed or reordered
    column fails the first action instead of being read under the
    wrong name. A short row pads with nulls; a label that is not an
    integer fails the cast.
    """
    return (
        spark.read.schema("ItemID string, Sentiment string, SentimentText string")
        .option("header", True)
        .option("enforceSchema", False)
        .option("encoding", "ISO-8859-1")
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
        .select(
            F.col("ItemID").cast("long").alias("id"),
            F.col("Sentiment").cast("int").alias(LABEL_COL),
            F.col("SentimentText").cast("string").alias(TEXT_COL),
        )
    )
