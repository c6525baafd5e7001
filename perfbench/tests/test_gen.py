import hashlib
import os

import numpy as np

import gen


def _digest(path):
    return hashlib.sha256(open(path, "rb").read()).hexdigest()


def test_tweets_csv_same_seed_same_bytes():
    a, fa = gen.tweets_csv(7, 500)
    b, fb = gen.tweets_csv(7, 500)
    c, _ = gen.tweets_csv(8, 500)
    assert a == b and np.array_equal(fa, fb)
    assert a != c
    assert a.decode("latin-1").splitlines()[0] == '"ItemID","Sentiment","SentimentText"'


def test_tweets_csv_flips_exact_share():
    _, flipped = gen.tweets_csv(3, 10_000)
    assert flipped.sum() == round(gen.FLIP_SHARE * 10_000)


def test_serve_messages_use_the_training_vocabulary():
    corpus, _ = gen.tweets_csv(0, 300)
    trained = set(corpus.decode("latin-1").split())
    words = [w for m in gen.serve_messages(9, 50) for w in m.split()]
    assert sum(w in trained for w in words) > len(words) / 2


def test_serve_messages_deterministic_with_repeats():
    a = gen.serve_messages(5, 400)
    assert a == gen.serve_messages(5, 400)
    assert a != gen.serve_messages(6, 400)
    repeats = len(a) - len(set(a))
    assert 0.1 * len(a) < repeats < 0.3 * len(a)
    assert all(3 <= len(m.split()) for m in a)


def test_tables_same_seed_same_bytes(tmp_path):
    gen.write_tables(4, 0.001, str(tmp_path / "a"))
    gen.write_tables(4, 0.001, str(tmp_path / "b"))
    gen.write_tables(5, 0.001, str(tmp_path / "c"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert _digest(tmp_path / "a" / n) == _digest(tmp_path / "b" / n)
    assert _digest(tmp_path / "a" / "documents.parquet") != _digest(tmp_path / "c" / "documents.parquet")
