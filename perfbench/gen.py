"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed (and size): the same
arguments give byte-identical output. They run before set-up and outside
every timed region; the system under test only ever sees the files or
lists they produce.

* :func:`tweets_csv` — the training corpus, a latin-1 CSV with the
  reference's columns ``ItemID, Sentiment, SentimentText``;
* :func:`serve_messages` — tweet-like request bodies for ``/predict/``;
* :func:`write_tables` — the ten parquet tables the registered queries
  read (``region`` … ``embeddings``), at a chosen scale factor.
"""

from __future__ import annotations

import csv
import functools
import io
import os

import numpy as np

#: Share of rows whose signal words are flipped to the other class, so
#: a classifier that learns the signal scores ``1 - FLIP_SHARE``.
FLIP_SHARE = 0.2656
BAYES_ACCURACY = 1.0 - FLIP_SHARE

#: Seed of the one vocabulary that training rows and served messages
#: share, so the served model knows the words it is asked about.
LEXICON_SEED = 0

_CONS = "bdgkmptvz"
_VOWELS = "aiou"
_LATIN1 = "éñüçàö"


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable words (six letters, three syllables).

    Built from consonants and the vowels a/i/o/u only, which keeps every
    word clear of the English stop-word lists the pipeline removes."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        c = rng.integers(0, len(_CONS), size=(n, 3))
        v = rng.integers(0, len(_VOWELS), size=(n, 3))
        for row_c, row_v in zip(c, v):
            w = "".join(_CONS[a] + _VOWELS[b] for a, b in zip(row_c, row_v))
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


@functools.lru_cache(maxsize=1)
def _lexicon() -> "_Lexicon":
    return _Lexicon(np.random.default_rng([LEXICON_SEED, 0]))


class _Lexicon:
    """Zipf-distributed filler vocabulary plus per-class signal words."""

    def __init__(self, rng: np.random.Generator, n_filler: int = 20_000, n_signal: int = 20):
        words = _words(rng, n_filler + 2 * n_signal)
        self.pos = words[:n_signal]
        self.neg = words[n_signal : 2 * n_signal]
        self.filler = words[2 * n_signal :]
        ranks = np.arange(1, n_filler + 1, dtype=np.float64)
        p = ranks**-1.1
        self.filler_cdf = np.cumsum(p / p.sum())

    def tweet(self, rng: np.random.Generator, positive: bool) -> str:
        n = int(rng.integers(3, 31))
        # half the words carry the signal, so the classifier reaches the
        # designed optimum even on a few thousand rows
        k_sig = min(n, max(3, round(n / 2)))
        sig = self.pos if positive else self.neg
        toks = [sig[i] for i in rng.integers(0, len(sig), size=k_sig)]
        idx = np.searchsorted(self.filler_cdf, rng.random(n - k_sig))
        toks += [self.filler[min(i, len(self.filler) - 1)] for i in idx]
        order = rng.permutation(len(toks))
        toks = [toks[i] for i in order]
        # tweet noise the cleaner must remove or survive
        for i in range(len(toks)):
            r = rng.random()
            if r < 0.08:
                toks[i] = toks[i].capitalize()
            elif r < 0.12:
                toks[i] = toks[i] + "!"
            elif r < 0.15:
                toks[i] = toks[i] + ","
            elif r < 0.17:
                toks[i] = toks[i][:-1] + _LATIN1[int(rng.integers(0, len(_LATIN1)))]
        if rng.random() < 0.3:
            toks.insert(int(rng.integers(0, len(toks) + 1)), f"http://t.co/{self.filler[int(rng.integers(0, 500))]}")
        if rng.random() < 0.2:
            toks.append(f"www.{self.filler[int(rng.integers(0, 500))]}.com")
        if rng.random() < 0.3:
            toks.insert(0, f"@{self.filler[int(rng.integers(0, 2000))]}")
        if rng.random() < 0.3:
            toks.append(f"#{self.filler[int(rng.integers(0, 2000))]}")
        text = " ".join(toks)
        if rng.random() < 0.1:
            text = "  " + text + " \t"
        return text


def tweets_csv(seed: int, n_rows: int) -> tuple[bytes, np.ndarray]:
    """Training corpus as latin-1 CSV bytes, plus the per-row flip flags.

    Labels are ~56.5% positive like the reference corpus. Exactly
    ``round(FLIP_SHARE * n_rows)`` rows carry the other class's signal
    words, so the designed Bayes accuracy is :data:`BAYES_ACCURACY`.
    The flags stay with the benchmark; the program only reads the CSV.
    """
    rng = np.random.default_rng([seed, 1])
    lex = _lexicon()
    labels = (rng.random(n_rows) < 0.565).astype(np.int64)
    flipped = np.zeros(n_rows, dtype=bool)
    flipped[rng.permutation(n_rows)[: round(FLIP_SHARE * n_rows)]] = True
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")
    w.writerow(["ItemID", "Sentiment", "SentimentText"])
    for i in range(n_rows):
        w.writerow([i + 1, int(labels[i]), lex.tweet(rng, bool(labels[i] ^ flipped[i]))])
    return buf.getvalue().encode("latin-1"), flipped


def serve_messages(seed: int, n: int, repeat_share: float = 0.2) -> list[str]:
    """``n`` tweet-like messages; about ``repeat_share`` of them repeat
    an earlier message verbatim."""
    rng = np.random.default_rng([seed, 2])
    lex = _lexicon()
    out: list[str] = []
    for _ in range(n):
        if out and rng.random() < repeat_share:
            out.append(out[int(rng.integers(0, len(out)))])
        else:
            out.append(lex.tweet(rng, bool(rng.random() < 0.5)))
    return out


# -- relational and document tables ---------------------------------------

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _tables(seed: int, sf: float) -> dict[str, dict]:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day0 = np.datetime64("1995-01-01", "ms")
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": day0 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    }
    n_li = 4 * n_ord
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": day0 + rng.integers(1, 2500, n_li).astype("timedelta64[D]"),
    }
    gaps_us = rng.exponential(26e6, n_ev).astype(np.int64) + 1
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.002:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.05:
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n)))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.41, 0.14, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(np.int32),
    }
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten query tables as ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in _tables(seed, sf).items():
        arrays = {}
        for k, v in cols.items():
            if k == "embedding":
                arrays[k] = pa.array([x.tolist() for x in v], type=pa.list_(pa.float32()))
            else:
                arrays[k] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
