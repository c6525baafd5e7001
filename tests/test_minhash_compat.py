"""Bit-compatibility of the native MinHash-LSH path (functions/minhash.py
+ queries/llm.py::minhash_lsh_pairs) with the Spark ML implementation it
replaced in the r21 optimization round.

The l02b rewrite is only admissible because it is *pair-for-pair
identical* to ``MinHashLSHModel.approxSimilarityJoin``; these tests pin
each layer of that claim:

1. token → HashingTF column index (canonical murmur3_x86_32, seed 42);
2. index set → seeded 8-table minhash signature (embedded seed-42
   coefficients, HASH_PRIME modulus);
3. the full candidate-pair set with Jaccard distances, against the
   real ``approxSimilarityJoin`` at sf0.001, and against a DuckDB
   reference built from the public kernel at sf0.1.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_lab4_spark.functions.minhash import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    NUM_FEATURES,
    doc_fingerprint,
    hashing_tf_index,
)
from bigdata_lab4_spark.queries.llm import minhash_lsh_pairs

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")

TOKENS = ["hello", "world", "a", "ab", "abc", "abcd", "Ünïcode", "€uro", "日本語", ""]


def test_index_matches_hashing_tf(spark):
    """Canonical murmur3 mod 2^18 must equal HashingTF's column index —
    including multi-byte UTF-8 and the aligned/unaligned byte-length
    tails the two murmur variants disagree on."""
    from pyspark.ml.feature import HashingTF

    df = spark.createDataFrame(
        [(i, [t]) for i, t in enumerate(TOKENS)], ["id", "tokens"]
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    rows = tf.transform(df).orderBy("id").collect()
    for row, tok in zip(rows, TOKENS):
        assert row.features.indices.tolist() == [hashing_tf_index(tok)]


def test_signature_matches_minhash_lsh_model(spark):
    """The embedded seed-42 coefficients + HASH_PRIME reproduce
    ``MinHashLSHModel.transform`` exactly."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = spark.createDataFrame(
        [(1, ["hello", "world", "abc"]), (2, ["€uro", "a", "ab", "abcd"]), (3, ["x"])],
        ["id", "tokens"],
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    feats = tf.transform(docs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    by_id = {r.id: r for r in model.transform(feats).collect()}
    for r in docs.collect():
        _, sig = doc_fingerprint(r.tokens, {})
        spark_sig = [v.toArray().tolist()[0] for v in by_id[r.id].hashes]
        assert [float(s) for s in sig] == spark_sig


def test_signature_formula_constants():
    """min((1+idx)·a + b mod P) over a known index set, by hand."""
    idxs, sig = doc_fingerprint(["hello"], {})
    e = hashing_tf_index("hello")
    assert idxs == [e]
    assert sig == [((1 + e) * a + b) % MINHASH_PRIME for a, b in MINHASH_COEFFS]


def test_pairs_match_approx_similarity_join(spark):
    """Full candidate-pair equality (ids AND rounded distances) against
    the replaced ``approxSimilarityJoin`` formulation at sf0.001."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from bigdata_lab4_spark.catalog import load_table
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, SF_DIR, "documents")
    docs = d.select("doc_id", tokens_col("text").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    feats = tf.transform(docs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    ml_pairs = (
        model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )
    want = {(r.d1, r.d2): r.jaccard_dist for r in ml_pairs.collect()}
    got = {
        (r.d1, r.d2): r.jaccard_dist
        for r in minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert want == got


def test_pairs_match_duckdb_reference_sf01(spark, tmp_path):
    """The full pair set at sf0.1, the scale bench.py times, against
    a reference built outside Spark: the public kernel
    ``doc_fingerprint`` per document, then a DuckDB band self-join,
    first-band dedup and exact index-set Jaccard. Pairs must match
    exactly and distances within 1e-9."""
    import re

    import duckdb
    import pandas as pd

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{SF01_DIR}/documents.parquet'"
    ).fetchall()
    cache: dict = {}
    fps = []
    for doc_id, text in docs:
        # Spark's split on \s+ is Java's ASCII whitespace class.
        toks = [t for t in re.split(r"\s+", text or "", flags=re.ASCII) if t]
        if doc_id is not None and toks:
            fps.append((doc_id, *doc_fingerprint(toks, cache)))
    vocab = sorted({i for _, idxs, _ in fps for i in idxs})
    # ≤ 63 distinct indices: each index set is an exact non-negative
    # BIGINT mask, so |A∩B| is a popcount (per-pair list intersection
    # is too slow at this pair count).
    assert len(vocab) <= 63
    bit = {i: 1 << n for n, i in enumerate(vocab)}
    bands = pd.DataFrame(
        [
            (d, band, val, len(idxs), sum(bit[i] for i in idxs), *sig)
            for d, idxs, sig in fps
            for band, val in enumerate(sig)
        ],
        columns=["doc_id", "band", "val", "n", "mask", *[f"s{j}" for j in range(8)]],
    )
    con.register("bands", bands)
    first_band = " AND ".join(
        f"(a.band <= {j} OR a.s{j} != b.s{j})" for j in range(7)
    )
    con.execute(
        f"""
        CREATE TABLE ref AS
        SELECT d1, d2, round(dist, 6) AS dist FROM (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   1 - bit_count(a.mask & b.mask)
                       / (a.n + b.n - bit_count(a.mask & b.mask)) AS dist
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
            WHERE {first_band})
        WHERE dist < 0.6
        """
    )
    out = str(tmp_path / "pairs")
    minhash_lsh_pairs(spark, SF01_DIR).write.parquet(out)
    con.execute(f"CREATE VIEW got AS SELECT * FROM '{out}/*.parquet'")
    n_ref, n_spark, n_bad = con.execute(
        """
        SELECT (SELECT count(*) FROM ref), (SELECT count(*) FROM got),
               (SELECT count(*)
                FROM ref r FULL OUTER JOIN got s ON r.d1 = s.d1 AND r.d2 = s.d2
                WHERE r.d1 IS NULL OR s.d1 IS NULL
                   OR abs(r.dist - s.jaccard_dist) > 1e-9)
        """
    ).fetchone()
    assert n_ref > 0 and n_spark == n_ref and n_bad == 0


def test_simhash_pairs_match_oracle_sf01(spark, tmp_path):
    """l07b's full result at sf0.1 is the same multiset as its DuckDB
    oracle's — beyond the oracle suite's check at sf0.01."""
    import duckdb

    import bigdata_lab4_spark.queries  # noqa: F401
    from bigdata_lab4_spark.queries.llm import l07b_simhash_neardup
    from bigdata_lab4_spark.registry import REGISTRY

    out = str(tmp_path / "pairs")
    l07b_simhash_neardup(spark, SF01_DIR).write.parquet(out)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF01_DIR}/documents.parquet'"
    )
    con.execute(f"CREATE TABLE want AS {REGISTRY['l07b_simhash_neardup'].oracle}")
    con.execute(f"CREATE VIEW got AS SELECT d1, d2, hamming FROM '{out}/*.parquet'")
    n_want, n_got, n_diff = con.execute(
        """
        SELECT (SELECT count(*) FROM want), (SELECT count(*) FROM got),
               (SELECT count(*) FROM (
                   (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
                   UNION ALL
                   (SELECT * FROM got EXCEPT ALL SELECT * FROM want)))
        """
    ).fetchone()
    assert n_want > 0 and n_got == n_want and n_diff == 0


def test_mask_fallback_above_64_vocab(spark, tmp_path):
    """r22: the 64-bit set-mask verify only applies when the GLOBAL
    index dictionary fits 64 bits; a corpus with more distinct
    HashingTF indices must fall back to the exact array-intersect
    path and still match the reference semantics pair-for-pair
    (reference = the Python kernel + banded candidate generation +
    first-band dedup + strict < 0.6, i.e. approxSimilarityJoin's
    contract)."""
    from decimal import ROUND_HALF_UP, Decimal

    # 80 distinct tokens -> > 64 distinct indices (asserted below).
    toks = [f"tok{i:02d}" for i in range(80)]
    assert len({hashing_tf_index(t) for t in toks}) > 64
    docs = []
    for d in range(40):
        base = toks[d % 8 : d % 8 + 6]            # heavy overlap -> near-dups
        extra = [toks[(7 * d + j) % 80] for j in range(d % 3)]
        docs.append((d, " ".join(base + extra)))
    spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # Reference pairs in pure Python with the same kernel.
    fps = {}
    for d, text in docs:
        idxs, sig = doc_fingerprint([t for t in text.split(" ") if t], {})
        fps[d] = (set(idxs), sig)
    want = {}
    for d1 in fps:
        for d2 in fps:
            if not d1 < d2:
                continue
            s1, g1 = fps[d1]
            s2, g2 = fps[d2]
            if not g1 or not g2 or not any(x == y for x, y in zip(g1, g2)):
                continue  # no band collision -> not a candidate
            inter = len(s1 & s2)
            dist = 1.0 - inter / (len(s1) + len(s2) - inter)
            if dist < 0.6:
                want[(d1, d2)] = float(
                    Decimal(repr(dist)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
    got = {
        (r.d1, r.d2): r.jaccard_dist
        for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()
    }
    assert want and want == got
