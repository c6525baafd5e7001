"""SklearnTfidf parity tests — IDF values hand-computed from the
sklearn formula ``idf(t) = ln((1+N)/(1+df(t))) + 1`` (smooth_idf),
vocabulary capped by corpus term frequency, alphabetical index
order, L2 row norm (reference config:
`/root/reference/src/preprocess.py:40`)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.ml.feature import StopWordsRemover

from bigdata_lab4_spark.ml import SklearnTfidf, SklearnTfidfModel, tfidf
from tests.conftest import job_group, py4j_calls

DOCS = [
    ("apple banana apple",),
    ("banana cherry",),
    ("cherry cherry durian",),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, ["text"])


def test_idf_matches_sklearn_formula(corpus):
    model = SklearnTfidf().fit(corpus)
    # N=3; df: apple 1, banana 2, cherry 2, durian 1
    expect = {
        "apple": math.log(4 / 2) + 1,
        "banana": math.log(4 / 3) + 1,
        "cherry": math.log(4 / 3) + 1,
        "durian": math.log(4 / 2) + 1,
    }
    vocab = model.vocabulary_
    assert sorted(vocab) == sorted(expect)
    # alphabetical index order, like sklearn's vocabulary_
    assert vocab == {"apple": 0, "banana": 1, "cherry": 2, "durian": 3}
    for term, idx in vocab.items():
        assert model.idf_[idx] == pytest.approx(expect[term], abs=1e-9)


def test_transform_l2_normalized_tfidf(corpus):
    model = SklearnTfidf().fit(corpus)
    out = model.transform(corpus)
    # the cleaning chain (one translate) runs once per row, not once
    # per reference to it in the tokenizer
    assert out._jdf.queryExecution().optimizedPlan().toString().count("translate(") == 1
    rows = {r["text"]: r["features"] for r in out.collect()}
    v = rows["apple banana apple"].toArray()
    raw = [2 * (math.log(2) + 1), 1 * (math.log(4 / 3) + 1), 0.0, 0.0]
    norm = math.sqrt(sum(x * x for x in raw))
    for i in range(4):
        assert v[i] == pytest.approx(raw[i] / norm, abs=1e-9)
    assert sum(x * x for x in v) == pytest.approx(1.0, abs=1e-9)


def test_max_features_ranked_by_corpus_tf(corpus, monkeypatch):
    # corpus_tf: cherry 3, apple 2, banana 2, durian 1.
    # top-2 = cherry + (tf tie apple<banana → apple); NOT by doc
    # frequency, which would prefer banana (df 2) over apple (df 1).
    monkeypatch.setattr(tfidf, "MAX_FEATURES", 2)
    model = SklearnTfidf().fit(corpus)
    assert model.vocabulary_ == {"apple": 0, "cherry": 1}


def test_stop_words_and_short_tokens_dropped(spark):
    # The second doc has no tokens left after stop-word removal; sklearn
    # still counts it in N, so every idf is ln((1+2)/(1+1)) + 1.
    df = spark.createDataFrame([("The cat and a dog sat",), ("The and a",)], ["text"])
    model = SklearnTfidf().fit(df)
    vocab = set(model.vocabulary_)
    assert "the" not in vocab and "and" not in vocab  # stop words
    assert "a" not in vocab  # sklearn token pattern needs >=2 chars
    assert {"cat", "dog", "sat"} <= vocab
    assert model.idf_ == pytest.approx([math.log(3 / 2) + 1] * len(vocab), abs=1e-9)


def test_vocabulary_holds_no_stop_word(spark):
    """Scoring filters no stop word, so the fit must keep every one of
    them out of the vocabulary, even when they are the most frequent
    terms."""
    stop = StopWordsRemover.loadDefaultStopWords("english")
    df = spark.createDataFrame([(" ".join(stop),), (" ".join(stop) + " cat dog",)], ["text"])
    vocab = set(SklearnTfidf().fit(df).vocabulary_)
    assert {"cat", "dog"} <= vocab and not vocab & set(stop)


def test_fit_runs_one_aggregation(spark, corpus):
    """``tokens.count()`` and the term-keyed aggregation with its
    top-``MAX_FEATURES`` collect run a shuffle-map job and a result job
    each; a second aggregation joined on term would add two more."""
    with job_group(spark, "test.tfidf_fit") as shape:
        SklearnTfidf().fit(corpus)
    assert shape()[0] == 4


def test_save_load_roundtrip(corpus, tmp_path):
    model = SklearnTfidf().fit(corpus)
    path = str(tmp_path / "tfidf")
    model.save(path)
    loaded = SklearnTfidfModel.load(path)
    assert loaded.vocabulary_ == model.vocabulary_
    assert loaded.idf_ == pytest.approx(model.idf_)
    a = model.transform(corpus).collect()
    b = loaded.transform(corpus).collect()
    for ra, rb in zip(a, b):
        assert ra["features"] == rb["features"]


def test_saved_model_is_its_parameters(spark, corpus, tmp_path):
    """The model saves as one JSON file of its fitted parameters; loading
    it runs no Spark job, and the PipelineModel is built on the first
    transform."""
    model = SklearnTfidf().fit(corpus)
    path = tmp_path / "tfidf.json"
    model.save(str(path))
    params = json.loads(path.read_text())
    assert params.keys() == {"vocabulary", "idf"}
    assert params["vocabulary"] == ["apple", "banana", "cherry", "durian"]
    with job_group(spark, "test.tfidf_load") as shape:
        loaded = SklearnTfidfModel.load(str(path))
    assert shape() == (0, 0) and loaded._pm is None
    assert list(loaded.vocabulary_.items()) == list(model.vocabulary_.items())
    assert loaded.idf_ == model.idf_

    # files written before the stop list and the column names left the
    # model carry them; load ignores them
    old = {**params, "stop_words": ["the", "and"], "input_col": "__clean", "output_col": "features"}
    path.write_text(json.dumps(old))
    loaded = SklearnTfidfModel.load(str(path))
    assert list(loaded.vocabulary_.items()) == list(model.vocabulary_.items())
    assert loaded.idf_ == model.idf_


def test_vocabulary_crosses_to_the_jvm_whole(spark, tmp_path):
    """The ``CountVectorizerModel`` gets the vocabulary, in index order
    and non-ASCII terms intact, in a few py4j commands, not one per
    term. A ``tfidf.json`` term holding a newline, which would split
    into two JVM terms, is refused at load, as are an empty term and
    an empty vocabulary."""
    terms = ["naïve", "日本語", "ß_2"] + [f"term{i:04d}" for i in range(5000)]
    model = SklearnTfidfModel(terms, [1.0] * len(terms))
    with job_group(spark, "test.tfidf_build") as shape, py4j_calls(spark) as calls:
        stages = model._pipeline_model().stages
    assert shape() == (0, 0) and len(calls) < 1000
    assert stages[0].vocabulary == terms

    path = tmp_path / "tfidf.json"
    model.save(str(path))
    params = json.loads(path.read_text())
    for vocab in (["ab", "two\nterms"], ["ab", "", "cd"], []):
        path.write_text(json.dumps({**params, "vocabulary": vocab}))
        with pytest.raises(ValueError, match="the vocabulary is empty, or a term"):
            SklearnTfidfModel.load(str(path))


def test_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], "text string")
    with pytest.raises(ValueError):
        SklearnTfidf().fit(empty)
