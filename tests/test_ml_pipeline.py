"""SentimentPipeline end-to-end tests.

The accuracy gate reproduces the reference's published metric —
0.7344 test accuracy (`/root/reference/experiments/
NAIVE_BAYES_20250908_082227/metrics.yml:1`) — on a synthetic
sentiment corpus constructed so the Bayes-optimal accuracy is
0.7344 by design: each document carries class-consistent signal
words, except a deterministic 26.56% whose signal is flipped (the
flipped docs are indistinguishable from the opposite class, so any
classifier that learns the signal words scores exactly the
non-flipped fraction).  Parity is semantic, ±0.01 (BASELINE.md:
bitwise split parity across sklearn↔Spark RNGs is impossible,
SURVEY §7.4).
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pytest

from bigdata_lab4_spark.ml import SentimentModel, SentimentPipeline, SklearnTfidfModel
from bigdata_lab4_spark.ml.pipeline import (
    NEGATIVE,
    POSITIVE,
    load_tweets_csv,
    train_test_split,
)
from tests.conftest import job_group, py4j_calls

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

N_DOCS = 10_000
FLIP_PERMILLE = 2656  # 26.56% flipped → Bayes accuracy 0.7344


def _make_corpus():
    """Deterministic synthetic sentiment rows (id, label, text)."""
    pos = [f"glad{i}" for i in range(30)]
    neg = [f"grim{i}" for i in range(30)]
    neut = [f"stuff{i}" for i in range(30)]
    rows = []
    for i in range(N_DOCS):
        label = i % 2
        flipped = (i * 7919) % 10_000 < FLIP_PERMILLE
        eff = label ^ flipped
        rng = random.Random(i)
        words = rng.choices(pos if eff else neg, k=4) + rng.choices(neut, k=2)
        rows.append((i, label, " ".join(words)))
    return rows


@pytest.fixture(scope="module")
def fitted(spark):
    rows = _make_corpus()
    df = spark.createDataFrame(rows, ["id", "label", "text"])
    train = df.filter("id % 5 != 0")
    test = df.filter("id % 5 = 0")
    # tfidf_fit_df=df reproduces the reference's fit-before-split
    # leakage quirk (`src/preprocess.py:50-55`) for metric parity.
    model = SentimentPipeline().fit(train, tfidf_fit_df=df)
    return model, test


def test_accuracy_matches_reference_gate(fitted):
    model, test = fitted
    metrics = model.evaluate(test)
    assert metrics["n"] == N_DOCS // 5
    assert metrics["accuracy"] == pytest.approx(0.7344, abs=0.01)


def test_save_load_roundtrip_and_run_metadata(fitted, tmp_path):
    model, test = fitted
    path = str(tmp_path / "sentiment")
    metrics = model.evaluate(test)
    model.save(path, metrics=metrics)

    # immutable per-run metadata (S5) replaces the reference's
    # mutable config.ini (`src/train.py:63-71`)
    with open(os.path.join(path, "run.json")) as f:
        run = json.load(f)
    assert run["params"]["alpha"] == 1.0
    assert run["params"]["model_type"] == "multinomial"
    assert run["metrics"]["accuracy"] == pytest.approx(metrics["accuracy"])
    assert "text_col" not in run["params"] and "label_col" not in run["params"]

    # run.json files written before the input columns became constants
    # record them; load ignores them
    run["params"].update(text_col="text", label_col="label")
    with open(os.path.join(path, "run.json"), "w") as f:
        json.dump(run, f)
    loaded = SentimentModel.load(path)
    sample = test.limit(50)
    before = [r["sentiment"] for r in model.transform(sample).collect()]
    after = [r["sentiment"] for r in loaded.transform(sample).collect()]
    assert before == after
    assert loaded.evaluate(test)["accuracy"] == pytest.approx(
        metrics["accuracy"]
    )


def test_save_writes_each_parameter_once(fitted, spark, tmp_path):
    """Saving runs no Spark job and writes the two parameter files and
    ``run.json``, nothing else."""
    model, _ = fitted
    path = tmp_path / "sentiment"
    with job_group(spark, "test.model_save") as shape:
        model.save(str(path))
    assert shape() == (0, 0)
    assert sorted(os.listdir(path)) == ["nb.json", "run.json", "tfidf.json"]


def test_load_reads_the_fitted_parameters_only(fitted, spark, tmp_path):
    """Loading runs no Spark job and sends no py4j command, and gives
    back exactly the fitted parameters."""
    model, _ = fitted
    path = str(tmp_path / "sentiment")
    model.save(path)
    with job_group(spark, "test.model_load") as shape, py4j_calls(spark) as calls:
        loaded = SentimentModel.load(path)
    assert shape() == (0, 0) and calls == []

    a, b = model.tfidf_model, loaded.tfidf_model
    assert list(b.vocabulary_.items()) == list(a.vocabulary_.items())
    assert b.idf_ == a.idf_
    assert (loaded.pi, loaded.theta) == (model.pi, model.theta)


def test_batch_path_scores_from_nb_json(fitted, tmp_path):
    """The JVM ``NaiveBayesModel`` of a loaded model holds exactly the
    doubles of ``nb.json``, and a loaded model predicts what the fitted
    one does on every test row. The directory also holds an ``nb/`` as
    older saves wrote it, with the classes swapped: load ignores it,
    where reading it would flip every prediction."""
    model, test = fitted
    path = str(tmp_path / "sentiment")
    model.save(path)
    swapped = SentimentModel(model.tfidf_model, model.pi[::-1], model.theta[::-1])
    swapped._nb_model().write().save(os.path.join(path, "nb"))
    loaded = SentimentModel.load(path)
    with open(os.path.join(path, "nb.json")) as f:
        saved = json.load(f)
    nb = loaded._nb_model()
    assert nb.pi.toArray().tolist() == saved["pi"]
    assert nb.theta.toArray().tolist() == saved["theta"]

    def predictions(m):
        return [tuple(r) for r in m.transform(test).select("id", "prediction").orderBy("id").collect()]

    expect = predictions(model)
    assert len(expect) == N_DOCS // 5 and {p for _, p in expect} == {0.0, 1.0}
    assert predictions(loaded) == expect


def test_loaded_model_builds_its_batch_path_without_a_job(spark, tmp_path):
    """Building ``transform`` on a loaded 5,000-term model runs no Spark
    job and sends fewer than 1,000 py4j commands: the vocabulary and
    the NB parameters cross to the JVM whole, not term by term."""
    rng = random.Random(0)
    terms = [f"term{i:04d}" for i in range(5000)]
    tfidf = SklearnTfidfModel(terms, [1.0 + rng.random() for _ in terms])
    theta = [[-1.0 - rng.random() for _ in terms] for _ in range(2)]
    path = str(tmp_path / "sentiment")
    SentimentModel(tfidf, [-0.7, -0.69], theta).save(path)
    loaded = SentimentModel.load(path)
    df = spark.createDataFrame([("term0001 term4999",)], ["text"])
    with job_group(spark, "test.build_transform") as shape, py4j_calls(spark) as calls:
        scored = loaded.transform(df)
    assert shape() == (0, 0) and len(calls) < 1000
    assert scored.first()["sentiment"] == POSITIVE


def test_loaded_predict_one_matches_batch_path(fitted, spark, tmp_path):
    """A loaded model scores the golden fixtures as the fitted model's
    batch path does."""
    model, _ = fitted
    path = str(tmp_path / "sentiment")
    model.save(path)
    loaded = SentimentModel.load(path)
    with open(os.path.join(FIXTURES, "golden_0.json")) as f:
        texts = list(json.load(f)["X"][0].values())
    texts += ["glad1 glad2 stuff0", "grim7 grim8 stuff3", "glad0", "unseen words only"]
    batch = model.transform(spark.createDataFrame([(t,) for t in texts], ["text"])).collect()
    assert [loaded.predict_one(r["text"]) for r in batch] == [r["sentiment"] for r in batch]


def test_load_of_spark_ml_only_layout_names_the_missing_file(fitted, tmp_path):
    """A directory saved by Spark ML writers alone (a ``tfidf/``
    PipelineModel directory, no parameter files) is refused, never
    loaded through Spark."""
    model, _ = fitted
    path = tmp_path / "old"
    model.save(str(path))
    os.remove(path / "tfidf.json")
    os.remove(path / "nb.json")
    model.tfidf_model._pipeline_model().write().save(str(path / "tfidf"))
    with pytest.raises(FileNotFoundError, match="tfidf.json"):
        SentimentModel.load(str(path))
    shutil.rmtree(path / "tfidf")
    model.tfidf_model.save(str(path / "tfidf.json"))
    with pytest.raises(FileNotFoundError, match="nb.json"):
        SentimentModel.load(str(path))


def test_predict_one_matches_batch_path(fitted, spark):
    """U5: driver-local single-row scoring must agree with the
    distributed batch path on the reference's golden fixtures
    (`tests/fixtures/golden_0.json`, mirroring
    `/root/reference/tests/test_data`)."""
    model, _ = fitted
    with open(os.path.join(FIXTURES, "golden_0.json")) as f:
        golden = json.load(f)
    texts = list(golden["X"][0].values())
    # plus in-distribution messages with known signal
    texts += ["glad1 glad2 stuff0", "grim7 grim8 stuff3", "glad0", "unseen words only"]
    batch = model.transform(
        spark.createDataFrame([(t,) for t in texts], ["text"])
    ).collect()
    for row in batch:
        assert model.predict_one(row["text"]) == row["sentiment"]
    assert model.predict_one("glad1 glad2 stuff0") == POSITIVE
    assert model.predict_one("grim7 grim8 stuff3") == NEGATIVE


def test_predict_one_empty_message_guard(fitted):
    """Reference raises on missing message (`src/predict.py:75-80`)."""
    model, _ = fitted
    with pytest.raises(ValueError, match="Message is not provided"):
        model.predict_one("")


def test_null_text_raises_in_fit_and_transform(fitted, spark):
    """A null message fails fit and batch scoring with the tokenizer's
    own error, never as a row with no tokens."""
    model, _ = fitted
    df = spark.createDataFrame([(1, 1, "glad0 glad1"), (2, 0, None)], "id long, label int, text string")
    with pytest.raises(Exception, match="word_tokens_col: the text is null"):
        SentimentPipeline().fit(df, tfidf_fit_df=df)
    with pytest.raises(Exception, match="word_tokens_col: the text is null"):
        model.transform(df).collect()


def test_pipeline_on_tweets_fixture(spark, tmp_path):
    """Smoke: the reference's actual ingest shape — latin-1 CSV with
    ItemID/Sentiment/SentimentText (`src/preprocess.py:46`) — trains
    and scores end-to-end."""
    df = load_tweets_csv(spark, os.path.join(FIXTURES, "tweets.csv"))
    assert df.columns == ["id", "label", "text"]
    model = SentimentPipeline().fit(df, tfidf_fit_df=df)
    scored = model.transform(df)
    assert scored.count() == df.count()
    assert set(r["sentiment"] for r in scored.collect()) <= {POSITIVE, NEGATIVE}


def test_load_tweets_csv_reads_the_declared_header(spark, tmp_path):
    """Building the frame runs no Spark job; a short row pads with nulls,
    and a renamed or reordered header or a non-integer label fails the
    first action."""
    def write(name: str, text: str) -> str:
        path = str(tmp_path / name)
        with open(path, "w") as f:
            f.write(text)
        return path

    ok = write("ok.csv", 'ItemID,Sentiment,SentimentText\n1,0,"sad, day"\n2,1\n')
    with job_group(spark, "test.load_tweets_csv") as build:
        df = load_tweets_csv(spark, ok)
    assert build()[0] == 0
    assert [tuple(r) for r in df.orderBy("id").collect()] == [(1, 0, "sad, day"), (2, 1, None)]

    for header in ("ItemID,Label,SentimentText", "ItemID,SentimentText,Sentiment"):
        bad = write("header.csv", f"{header}\n1,0,sad\n")
        with pytest.raises(Exception, match="CSV header does not conform to the schema"):
            load_tweets_csv(spark, bad).collect()
    bad = write("label.csv", "ItemID,Sentiment,SentimentText\n1,positive,glad\n")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        load_tweets_csv(spark, bad).collect()


def test_train_test_split_deterministic(spark):
    df = spark.range(1000)
    a_train, a_test = train_test_split(df)
    b_train, b_test = train_test_split(df)
    assert sorted(r["id"] for r in a_test.collect()) == sorted(
        r["id"] for r in b_test.collect()
    )
    assert a_train.count() + a_test.count() == 1000
