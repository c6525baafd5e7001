"""MinHash fingerprints bit-compatible with Spark ML's
``HashingTF(numFeatures=2^18)`` → ``MinHashLSH(seed=42, numHashTables=8)``.

Why this exists: ``LSHModel.approxSimilarityJoin`` evaluates its
Jaccard ``keyDistance`` UDF per *candidate pair occurrence* (its filter
is pushed below the pair-dedup ``distinct``), boxing both sparse vectors
into Scala Sets each time. The replacement (queries/llm.py::
minhash_lsh_pairs) keeps the exact same candidate set and distances but
computes them from per-document index arrays with native expressions;
only the per-document fingerprint (token → HashingTF index → 8 minhash
values) crosses the Python boundary, Arrow-batched, once per document —
guide §4.2 (vectorize inside the boundary) / §4.5 (heavy state once per
task, not per row).

Bit-compatibility is pinned by tests/test_minhash_compat.py:

* token → index: canonical murmur3_x86_32 (the variant Spark ML's
  ``HashingTF`` uses — ``Murmur3_x86_32.hashUnsafeBytes2``) with seed 42,
  then non-negative mod 2^18. NOTE: Spark SQL's ``hash()`` uses the
  *other* (byte-at-a-time tail, ``hashUnsafeBytes``) mixing and does NOT
  match — verified, hence the Python kernel.
* index set → signature: ``min((1 + idx) * a_i + b_i mod 2038074743)``
  per hash table, with the coefficient pairs a seeded
  ``MinHashLSH(seed=42, numHashTables=8).fit`` always produces — the fit
  is data-independent (it only draws from the seeded RNG), so the pairs
  are constants, embedded below exactly like any other seeded-model
  parameter.

The kernel functions are *nested* (not module attributes), so cloudpickle
ships them to executors BY VALUE inside the UDF closure — the same
self-contained-closure contract as functions/multimodal.py: executors
need nothing on their PYTHONPATH.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

#: ``MinHashLSH.HASH_PRIME`` (org/apache/spark/ml/feature/MinHashLSH.scala).
MINHASH_PRIME = 2038074743

#: ``randCoefficients`` of ``MinHashLSH(seed=42, numHashTables=8).fit(_)`` —
#: data-independent (seeded RNG only), verified against ``model.transform``
#: in tests/test_minhash_compat.py.
MINHASH_COEFFS = (
    (1562431131, 117392763),
    (1467211249, 102948884),
    (662969971, 2023087525),
    (595021506, 1519796918),
    (1429255520, 196118093),
    (1939977183, 969067502),
    (791955277, 819572292),
    (592164477, 1482678032),
)

NUM_FEATURES = 1 << 18

#: The murmur3 seed Spark ML's ``HashingTF`` hashes terms with, pinned
#: by tests/test_minhash_compat.py::test_index_matches_hashing_tf.
HASHING_TF_SEED = 42

FINGERPRINT_SCHEMA = "struct<idx: array<int>, sig: array<bigint>>"


def _make_kernel(coeffs, prime, num_features, seed):
    """Build the (token → index, tokens → fingerprint) kernel. Nested
    defs only — cloudpickle cannot resolve them as module attributes, so
    any closure referencing them is shipped by value."""
    mask32 = 0xFFFFFFFF

    def murmur3_32(data: bytes) -> int:
        # Canonical murmur3_x86_32 (word body + single tail mix) —
        # matches Murmur3_x86_32.hashUnsafeBytes2 / HashingTF.
        c1, c2 = 0xCC9E2D51, 0x1B873593
        h1 = seed
        n = len(data)
        aligned = n - n % 4
        for i in range(0, aligned, 4):
            k1 = int.from_bytes(data[i : i + 4], "little")
            k1 = (k1 * c1) & mask32
            k1 = ((k1 << 15) | (k1 >> 17)) & mask32
            k1 = (k1 * c2) & mask32
            h1 ^= k1
            h1 = ((h1 << 13) | (h1 >> 19)) & mask32
            h1 = (h1 * 5 + 0xE6546B64) & mask32
        k1 = 0
        for shift, i in enumerate(range(aligned, n)):
            k1 ^= (data[i] & 0xFF) << (shift * 8)
        k1 = (k1 * c1) & mask32
        k1 = ((k1 << 15) | (k1 >> 17)) & mask32
        k1 = (k1 * c2) & mask32
        h1 ^= k1
        h1 ^= n
        h1 ^= h1 >> 16
        h1 = (h1 * 0x85EBCA6B) & mask32
        h1 ^= h1 >> 13
        h1 = (h1 * 0xC2B2AE35) & mask32
        h1 ^= h1 >> 16
        return h1 - (1 << 32) if h1 >= (1 << 31) else h1

    def index(token: str) -> int:
        # Utils.nonNegativeMod(murmur3(token), numFeatures); Python %
        # of a positive modulus is already non-negative.
        return murmur3_32(token.encode("utf-8")) % num_features

    def fingerprint(tokens, cache):
        import numpy as np  # ships with pyspark's worker requirements

        idx_set = set()
        for t in tokens:
            i = cache.get(t)
            if i is None:
                i = index(t)
                if len(cache) < (1 << 20):  # bound worker memory at scale
                    cache[t] = i
            idx_set.add(i)
        idxs = sorted(idx_set)
        # Vectorized min-fold (guide §4.2: vectorize inside the Python
        # boundary): 8 × |idxs| modular contributions as ONE int64
        # matrix op instead of 8 Python generator folds. Exact, because
        # no intermediate overflows int64 (asserted below), so these
        # are the same integers as the scalar fold (pinned vs
        # MinHashLSHModel.transform in tests/test_minhash_compat).
        v = np.array(idxs, dtype=np.int64) + 1
        sig = ((v[:, None] * _coeff_a + _coeff_b) % prime).min(axis=0).tolist()
        return idxs, sig

    import numpy as _np

    _coeff_a = _np.array([a for a, _ in coeffs], dtype=_np.int64)
    _coeff_b = _np.array([b for _, b in coeffs], dtype=_np.int64)
    assert (1 + num_features) * int(_coeff_a.max()) + int(_coeff_b.max()) < 2**63

    return index, fingerprint


#: Driver-side/test API — same kernel the UDF ships.
hashing_tf_index, doc_fingerprint = _make_kernel(
    MINHASH_COEFFS, MINHASH_PRIME, NUM_FEATURES, HASHING_TF_SEED
)


def minhash_fingerprint_udf():
    """Arrow-batched ``tokens → struct(idx, sig)`` pandas UDF.

    * ``idx``: sorted distinct HashingTF indices (the sparse-vector
      index set ``keyDistance`` compares);
    * ``sig``: the 8 seeded minhash values (exact int64 — ``MinHashLSH``
      stores them as lossless doubles, equality is identical).

    Empty/null token lists yield empty arrays (``MinHashLSH.hashFunction``
    *rejects* empty vectors, so such rows can never be candidates; the
    caller filters them).
    """
    fingerprint = doc_fingerprint

    def compute(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        cache: dict = {}  # token → index memo, one per task (§4.5)
        for series in batches:
            out_idx, out_sig = [], []
            for tokens in series:
                if tokens is None or len(tokens) == 0:
                    out_idx.append([])
                    out_sig.append([])
                    continue
                idxs, sig = fingerprint(tokens, cache)
                out_idx.append(idxs)
                out_sig.append(sig)
            yield _pd.DataFrame({"idx": out_idx, "sig": out_sig})

    return F.pandas_udf(compute, FINGERPRINT_SCHEMA)
