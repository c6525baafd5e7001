"""L-series — LLM-data-pipeline operators (SURVEY §2.10).

Dedup, near-dup, similarity search, text stats, and embedding math
over `documents` / `embeddings`. Each operator ships two paths:

* an **exact** formulation that the DuckDB oracle can verify at
  sf0.01 (registered with oracle SQL), and
* the **scale** path (MinHash LSH / random-projection LSH) that is
  the one you would run at 100 TB, verified rows-only plus recall
  tests against the exact variant (tests/test_llm.py).

Scale notes: the exact near-dup query is an inverted-index
self-join — candidate pairs only where documents share a token, not
an all-pairs cartesian. That is already the scalable *exact*
algorithm; its worst case (ubiquitous tokens) is exactly what MinHash
banding (l02b) fixes, by making candidate generation frequency-
independent. kNN similarly: brute-force cosine is the oracle
baseline; the LSH bucketed variant is the ANN path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.registry import query
from bigdata_lab4_spark.functions.text import tokens_col


@query(
    "l01_exact_dedup",
    oracle="""
        SELECT md5(text) AS text_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    doc="L1 exact dedup via content hash — groupBy(md5(text)), keep the "
    "min doc_id per group. Hash-groupBy shuffles 16-byte digests, not "
    "document bodies — the 100 TB-safe exact-dedup shape.",
)
def l01_exact_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@query(
    "l01b_distinct_rows",
    oracle="""
        SELECT source, count(*) AS n_rows, count(DISTINCT text) AS n_unique
        FROM documents GROUP BY source
    """,
    doc="L1 dedup accounting per source — duplicate rate per provenance "
    "bucket, the triage view a dedup pipeline starts from.",
)
def l01b_distinct_rows(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_rows"), F.countDistinct("text").alias("n_unique")
    )


@query(
    "l02_jaccard_pairs",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != ''))
                       AS token
            FROM documents WHERE doc_id < 200
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
            FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), scored AS (
            SELECT d1, d2,
                   round(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
        )
        SELECT d1, d2, jaccard FROM scored
        ORDER BY jaccard DESC, d1, d2 LIMIT 20
    """,
    doc="L2 exact n-gram Jaccard near-dup — inverted-index self-join "
    "(pairs only where a token is shared), token-set Jaccard, top-20 most "
    "similar pairs. Rank on the rounded score so cross-engine float drift "
    "cannot reorder the cut. The MinHash-LSH scale path is l02b.",
)
def l02_jaccard_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = d.select("doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token"))
    # |token set| per doc is size(array_distinct(...)) computed row-wise
    # on the (pruned, filtered) scan — no explode + groupBy shuffle just
    # to count what the row already holds (guide §2.4).
    sizes = d.select(
        "doc_id", F.size(F.array_distinct(tokens_col("text"))).alias("sz")
    )
    a = tok.select(F.col("doc_id").alias("d1"), "token")
    b = tok.select(F.col("doc_id").alias("d2"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("common"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sa"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sb"), "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("common") / (F.col("sa") + F.col("sb") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("jaccard"), "d1", "d2").limit(20)


def _first_band(key: str, n: int, differ) -> str:
    """SQL predicate: emit a candidate pair only from the FIRST of its
    ``n`` bands whose values agree. A pair collides in several bands but
    must be emitted once; keying the emission to the first colliding
    band (``key``, 0-based) reproduces a pair-``distinct`` without a
    second shuffle. ``differ(b)`` is SQL saying band ``b``'s values
    differ. Short-circuits after ~1 probe on average; all native,
    codegen'd. Used by l02b, l07b and l03b, and by l03b's oracle."""
    return " AND ".join(f"({key} < {b + 1} OR {differ(b)})" for b in range(n - 1))


def _band_pairs(spark, bands, carry, n_bands, differ):
    """The candidate pairs of a banded LSH self-join, each emitted once —
    the candidate stage of l02b and l07b (guide §2.5/§3.1).

    ``bands`` holds ``(doc_id, band, val, *carry)`` rows, one per band
    of each document. Two documents are a candidate pair when they agree
    in some band. The result has ``d1 < d2``, band, val, salt and each
    carry column ``c`` as ``c1`` (d1's) and ``c2`` (d2's); ``differ(b)``
    is SQL over those saying band ``b``'s signature values differ, so
    each pair comes from its first colliding band only (:func:`_first_band`).
    Callers add their verify step.

    The join is salted: each ``d1`` row takes one salt from its doc id,
    each ``d2`` row is replicated over all k salts, and the join key is
    (band, val, salt). A hot (band, val) bucket is a single join key,
    and AQE skew handling splits oversized partitions, never one key:
    unsalted, one reducer would do a hot bucket's whole probe×build
    work. Every candidate pair still meets exactly once (on its ``d1``
    row's salt), so the pair set is the unsalted join's —
    tests/test_minhash_compat.py checks both callers against
    independent DuckDB references at sf0.1. k is the power of two at or
    below clamp(defaultParallelism, 4, 16): it multiplies the build
    side's shuffle bytes (band metadata, never payloads), so it stays
    bounded and is not a function of cluster size.

    Conditions that must hold (executed plans pinned by
    tests/test_plans.py::test_lsh_band_joins_runtime_single_fingerprint_pass):

    * The salt is ``xxhash64(d1) & (k-1)`` cast to int, which is
      non-nullable. A nullable salt (``pmod``) makes the equi-join infer
      ``isnotnull(salt)`` and push it below the callers' fingerprint
      exchange; the two branches' subtrees then differ, the exchange is
      not reused, and the fingerprint pass runs twice.
    * Both sides are repartitioned by the join key at defaultParallelism.
      REPARTITION_BY_NUM exchanges are exempt from AQE's byte-based
      coalescing, which sees only the few MB of band rows — not the
      millions of candidate probes downstream — and would merge the
      verify stage onto a few cores.
    * The SHUFFLE_HASH hint makes the ``d1`` side (k× smaller than the
      replicated side) the hash table. The scale it assumes: one task's
      memory holds a hot bucket's probe rows split k ways. The hint also
      stops AQE from turning the join into a broadcast of the whole band
      table, which is O(corpus) on every executor.
    * ``d1 < d2`` and the first-band test are one filter, with ``d1 <
      d2`` first, so it leads the join condition and runs before the
      per-band compares.
    """
    par = spark.sparkContext.defaultParallelism
    k = max(4, min(16, par))
    while k & (k - 1):  # round down to a power of two
        k &= k - 1

    def side(i):
        return bands.select(
            F.col("doc_id").alias(f"d{i}"),
            *[F.col(c).alias(f"{c}{i}") for c in carry],
            "band",
            "val",
        )

    probe = side(1).withColumn(
        "salt", F.xxhash64("d1").bitwiseAND(F.lit(k - 1)).cast("int")
    )
    build = side(2).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    probe = probe.repartition(par, "band", "val", "salt")
    build = build.repartition(par, "band", "val", "salt")
    return (
        probe.hint("shuffle_hash")
        .join(build, ["band", "val", "salt"])
        .filter(F.expr(f"d1 < d2 AND {_first_band('band', n_bands, differ)}"))
    )


#: ``approxSimilarityJoin``'s distance threshold: pairs with Jaccard
#: distance strictly below it are emitted.
MINHASH_THRESHOLD = 0.6


def minhash_lsh_pairs(spark, sf_dir):
    """Full (un-truncated) MinHash-LSH candidate pair set — the helper
    behind the registered top-50 view below and the recall tests
    (tests/test_llm.py).

    Pair-for-pair identical to ``MinHashLSHModel.approxSimilarityJoin``
    on ``HashingTF`` features (same seeded signatures, same banded
    candidates, same strict ``< MINHASH_THRESHOLD`` on the same Jaccard
    doubles): tests/test_minhash_compat.py pins it against the model at
    sf0.001 and against an independent DuckDB reference at sf0.1. The
    per-document fingerprint is computed once, Arrow-batched
    (functions/minhash.py); candidates come from ``_band_pairs``, and
    the index-set Jaccard verify is a native expression, so only true
    result pairs materialize."""
    from bigdata_lab4_spark.functions.minhash import (
        MINHASH_COEFFS,
        minhash_fingerprint_udf,
    )

    minhash_fingerprint = minhash_fingerprint_udf()
    d = load_table(spark, sf_dir, "documents")
    # No filter on the UDF output: a filter referencing a UDF-computed
    # column makes the optimizer evaluate the UDF twice, below the pushed
    # filter and in the projection (guide §4.4). Zero-token documents
    # need no filter: their empty ``sig`` yields no band rows, mirroring
    # MinHashLSH's rejection of empty vectors.
    # Explicit isnotnull(doc_id): the d1<d2 pair filter makes the join
    # infer exactly this predicate on the two band branches; stating it
    # on the SHARED subtree keeps the dictionary branch's scan
    # byte-identical to theirs, so all three consumers resolve to ONE
    # ReusedExchange (null doc_ids can never appear in a pair anyway).
    fp = d.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", minhash_fingerprint(tokens_col("text")).alias("f")
    ).select(
        "doc_id",
        F.col("f.idx").alias("idx"),
        # Minhash values are ((1+e)·a + b) mod 2038074743 < 2^31, so the
        # int cast is lossless; it halves the signature bytes on every
        # band row, including the salt-replicated build side.
        F.col("f.sig").cast("array<int>").alias("sig"),
    )
    # The corpus arrives as few large files (sf0.1: one row-group, one
    # partition), and every plan downstream of a 1-partition scan runs
    # on one task. Spreading the fingerprints (≈200 B/doc, never the
    # document bodies) across the session's parallelism bounds the probe
    # work per task. Explicit N, not AQE: coalescing is byte-based and
    # cannot see that a few MB of band rows explode into millions of
    # joined candidates downstream.
    fp = fp.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # posexplode_OUTER on purpose (below): the non-outer generator makes
    # the optimizer infer a ``size(sig) > 0`` filter and push it below
    # the exchange — a filter referencing the UDF column, which
    # re-triggers the §4.4 double evaluation. The outer variant infers
    # nothing; an empty-sig document contributes one null (band, val)
    # row that can never match the equi-join.
    # 64-bit SET MASKS for the per-pair verify: when the GLOBAL index
    # dictionary fits 64 bits, each doc's index set becomes one BIGINT
    # and |A∩B| one codegen'd ``bit_count(mask1 & mask2)`` — the same
    # integers, hence bit-identical Jaccard doubles. The dictionary probe is
    # bounded at any scale: the 65 smallest distinct indices via
    # distinct + TakeOrdered; 65 rows ⇒ vocabulary > 64 ⇒ masks stay
    # null and the exact array path runs (pinned by
    # tests/test_minhash_compat.py::test_mask_fallback_above_64_vocab).
    # The when() is a value-level no-op (doc_id is non-null by the fp
    # filter, sig is never null from the UDF) whose only job is to
    # REFERENCE doc_id and sig: column pruning otherwise narrows this
    # branch's copy of the fingerprint exchange to [idx], the subtree
    # stops being byte-identical to the band branches', and the Arrow
    # fingerprint pass runs again just to list distinct indices.
    vocab = (
        fp.select(
            F.explode(
                F.when(
                    F.col("doc_id").isNotNull() & F.col("sig").isNotNull(),
                    F.col("idx"),
                )
            ).alias("i")
        )
        .distinct()
        .orderBy("i")
        .limit(65)
        .agg(F.sort_array(F.collect_list("i")).alias("dict"))
    )
    enc = fp.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        # coalesce ⇒ non-nullable: the threshold predicate is
        # null-intolerant in nset, so a nullable nset makes the join
        # infer isnotnull(nset), rewrite it to isnotnull(size(idx))
        # through this projection and push it below the fingerprint
        # exchange — which both re-evaluates the UDF per branch
        # (guide §4.4) and breaks branch-subtree equality (no reuse).
        # The UDF never returns a null idx, so the 0 is unreachable.
        F.coalesce(F.size("idx"), F.lit(0)).alias("nset"),
        F.when(
            F.size("dict") <= 64,
            F.expr(
                "aggregate(idx, CAST(0 AS BIGINT), (m, i) -> m |"
                " shiftleft(CAST(1 AS BIGINT),"
                " CAST(array_position(dict, i) AS INT) - 1))"
            ),
        ).alias("mask"),
        F.when(F.size("dict") > 64, F.col("idx")).alias("idx"),
        "sig",
    )
    bands = enc.select(
        "doc_id", "nset", "mask", "idx", "sig",
        F.posexplode_outer("sig").alias("band", "val"),
    )
    # |A∩B| / |A∪B| over HashingTF index sets — exactly
    # MinHashLSHModel.keyDistance (intersection/union sizes as doubles,
    # 1 - i/u), exact integers so the doubles are bit-identical —
    # popcount over the masks when the dictionary fits, the array
    # intersection otherwise (lazy CASE branch, never both).
    inter = (
        F.when(
            F.col("mask1").isNull(), F.size(F.array_intersect("idx1", "idx2"))
        )
        .otherwise(F.bit_count(F.col("mask1").bitwiseAND(F.col("mask2"))))
        .cast("double")
    )
    dist = F.lit(1.0) - inter / (F.col("nset1") + F.col("nset2") - inter)
    pairs = _band_pairs(
        spark, bands, ["nset", "mask", "idx", "sig"], len(MINHASH_COEFFS),
        lambda b: f"sig1[{b}] != sig2[{b}]",
    )
    return pairs.filter(dist < MINHASH_THRESHOLD).select(
        "d1", "d2", F.round(dist, 6).alias("jaccard_dist")
    )


@query(
    "l02b_minhash_lsh",
    # The signatures hash tokens with HashingTF's murmur3 (tail mix
    # included), which DuckDB has no function for. The full pair set is
    # checked instead against MinHashLSH and against a DuckDB join over
    # fingerprints from the Python reference (tests/test_minhash_compat.py).
    oracle=None,
    doc="L2 MinHash-LSH near-dup, the 100 TB path: tokens → HashingTF "
    "index set → seeded 8-band minhash signature → banded candidate "
    "join → exact index-set Jaccard verify. Bit-compatible with "
    "HashingTF+MinHashLSH(seed=42).approxSimilarityJoin (pinned by "
    "tests/test_minhash_compat.py) but computed natively — see "
    "minhash_lsh_pairs. Candidate generation is banded hashing "
    "(frequency-independent), verified by recall against "
    "l02_jaccard_pairs in tests/test_llm.py.",
)
def l02b_minhash_lsh(spark, sf_dir):
    return (
        minhash_lsh_pairs(spark, sf_dir)
        .orderBy("jaccard_dist", "d1", "d2")
        .limit(50)
    )


@query(
    "l03_knn_exact",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5
        ), pairs AS (
            SELECT qid, vec_id AS cid,
                   round(
                     list_sum(list_transform(list_zip(qe, embedding),
                              s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS cosine
            FROM q, embeddings WHERE vec_id != qid
        ), ranked AS (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
            FROM pairs
        )
        SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= 10
    """,
    doc="L3 exact kNN — brute-force cosine top-10 for 5 query vectors: "
    "broadcast the (tiny) query side against the sharded corpus, per-query "
    "row_number on the ROUNDED cosine (deterministic under float drift). "
    "Dot/norm are Catalyst higher-order functions — no Python. "
    "The ANN scale path is l03b.",
)
def l03_knn_exact(spark, sf_dir):
    from bigdata_lab4_spark.functions.embeddings import dot_col, l2_norm_col

    # Norms factored out of the per-pair expression (guide §1.2 step 2:
    # per-task work): each corpus norm is computed once per ROW instead
    # of once per (query, row) pair, and each query norm once instead of
    # N times — the per-pair work drops from 3 array folds to 1 (the
    # dot). Same doubles, same op order ⇒ bit-identical rounded cosine.
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "enorm", l2_norm_col("embedding")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("enorm").alias("qnorm"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.round(
                dot_col("qe", "embedding") / (F.col("qnorm") * F.col("enorm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


def _l03b_oracle() -> str:
    """l03b in DuckDB: the same seed-42 unit vectors, written with
    ``repr`` (bit-exact doubles), so the constants have one source.
    ``list_reduce`` takes no initial value; ``0 + a₁ = a₁``, so its
    left fold lands on the same doubles as Spark's ``aggregate(…, 0D, …)``."""
    from bigdata_lab4_spark.functions.embeddings import BRP_UNIT_VECTORS

    def fold(pair_expr: str, other: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip(embedding, {other}), "
            f"s -> {pair_expr}), (a, b) -> a + b)"
        )

    dot = "CAST(s[1] AS DOUBLE) * s[2]"
    buckets = ", ".join(
        f"floor({fold(dot, '[' + ', '.join(map(repr, uv)) + ']')} / 2.0)"
        for uv in BRP_UNIT_VECTORS
    )
    diff = "(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    sq = f"{diff} * {diff}"
    # DuckDB lists are 1-based
    first_band = _first_band(
        "c.tbl", len(BRP_UNIT_VECTORS), lambda b: f"c.sig[{b + 1}] != q.sig[{b + 1}]"
    )
    return f"""
        WITH sig AS (
            SELECT vec_id, embedding, [{buckets}] AS sig FROM embeddings
        ), bands AS (
            SELECT vec_id, embedding, sig, t.tbl, sig[t.tbl + 1] AS bucket
            FROM sig, (VALUES (0), (1), (2), (3)) AS t(tbl)
        ), pairs AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe,
                   c.embedding AS embedding
            FROM bands c JOIN bands q ON c.tbl = q.tbl AND c.bucket = q.bucket
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
              AND {first_band}
        ), dists AS (
            SELECT qid, cid, sqrt({fold(sq, 'qe')}) AS dist FROM pairs
        )
        SELECT qid, cid, round(dist, 6) AS dist FROM dists WHERE dist < 4.0
    """


@query(
    "l03b_ann_lsh",
    oracle=_l03b_oracle(),
    doc="L3 ANN via BucketedRandomProjectionLSH(seed=42) — the IVF/LSH-style "
    "scale path: hash both sides into buckets, join within buckets only. "
    "Recall vs l03_knn_exact is asserted in tests/test_llm.py.",
)
def l03b_ann_lsh(spark, sf_dir):
    # The seeded model's hashes, natively: floor(dot(v, u_t) / 2.0) over
    # the pinned BRP_UNIT_VECTORS (functions/embeddings.py) — no fit job,
    # no per-row JVM UDF, no py4j call.
    # sqrt(Σ(x−y)²) as a sequential zip_with/aggregate fold reproduces
    # Vectors.sqdist's loop order exactly. Pair dedup across the 4 hash
    # tables is l02b/l07b's first-band filter (_first_band) — no
    # distinct shuffle.
    from bigdata_lab4_spark.functions.embeddings import (
        BRP_UNIT_VECTORS,
        brp_hashes_col,
    )

    dim = len(BRP_UNIT_VECTORS[0])
    # A null or wrong-size embedding fails the query: zip_with would pad
    # it with nulls, and its null buckets would leave the join silently.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.coalesce(F.size("embedding"), F.lit(-1)) != dim,
            F.raise_error(
                F.format_string(
                    f"l03b_ann_lsh: embedding of vec_id %s has dim %s, expected {dim}",
                    F.col("vec_id"),
                    F.size("embedding"),
                )
            ),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    sig = e.select("vec_id", "embedding", brp_hashes_col("embedding", 2.0).alias("sig"))
    bands = sig.select(
        "vec_id", "embedding", "sig",
        F.posexplode_outer("sig").alias("tbl", "bucket"),
    )
    corpus = bands.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("sig").alias("cs"),
        "tbl",
        "bucket",
    )
    queries = bands.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("sig").alias("qs"),
        "tbl",
        "bucket",
    )
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(ce, qe, (x, y) ->"
            " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            " 0D, (s, v) -> s + v)"
        )
    )
    return (
        corpus.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("cid") != F.col("qid"))
        .filter(
            F.expr(_first_band("tbl", len(BRP_UNIT_VECTORS), lambda b: f"cs[{b}] != qs[{b}]"))
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") < 4.0)
        .select("qid", "cid", F.round("dist", 6).alias("dist"))
        .orderBy("qid", "dist", "cid")
    )


#: Per-row cosine against every codebook cell, rounded to 6dp so the
#: argmax/probe decisions are bit-stable across engines (same guard as
#: l03's ranking). Norms are NOT recomputed here: ``enorm`` is a
#: per-row column (one fold per row, not per cell) and ``c.cnorm``
#: ships inside the broadcast codebook — per cell the interpreted
#: higher-order work is just the dot fold (guide §1.2 per-task work).
#: sqrt(Σx²) is computed by the same ops as before ⇒ identical doubles.
_IVF_CELL_SCORES = """
    transform(codebook, c -> struct(
        round(
            aggregate(zip_with(embedding, c.cvec,
                      (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                      0D, (s, x) -> s + x)
            / (enorm * c.cnorm),
            6) AS cos,
        c.cell_id AS cell_id))
"""


@query(
    "l03c_ivf_ann",
    oracle="""
        WITH seeds AS (
            SELECT vec_id AS cell_id, embedding AS cvec
            FROM embeddings WHERE vec_id < 8
        ), scores AS (
            SELECT e.vec_id, s.cell_id,
                   round(
                     list_sum(list_transform(list_zip(e.embedding, s.cvec),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(s.cvec,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS cos
            FROM embeddings e, seeds s
        ), assigned AS (
            SELECT vec_id, cell_id AS cell FROM (
                SELECT vec_id, cell_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cell_id) AS rn
                FROM scores) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS qid, cell_id AS cell FROM (
                SELECT vec_id, cell_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cell_id) AS rn
                FROM scores WHERE vec_id < 5) WHERE rn <= 3
        ), cand AS (
            SELECT p.qid, a.vec_id AS cid
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE a.vec_id != p.qid
        ), pairs AS (
            SELECT c.qid, c.cid,
                   round(
                     list_sum(list_transform(list_zip(q.embedding, t.embedding),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(q.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(t.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS cosine
            FROM cand c
            JOIN embeddings q ON q.vec_id = c.qid
            JOIN embeddings t ON t.vec_id = c.cid
        )
        SELECT qid, cid, cosine, rn FROM (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rn
            FROM pairs) WHERE rn <= 10
    """,
    doc="L3c IVF-style ANN — the third similarity-search path next to "
    "brute-force (l03) and random-projection LSH (l03b). Coarse "
    "quantizer: a deterministic 8-cell codebook (the 8 lowest vec_ids; "
    "production would train it with KMeans — the probing plumbing is "
    "identical) broadcast as ONE collect_list row, so cell assignment "
    "is a map-only pass over the corpus: no shuffle, no Python, the "
    "argmax runs as array_max over codegen'd higher-order cosines. "
    "Queries probe their 3 nearest cells; exact cosine runs only "
    "within probed cells (candidates ≈ nprobe/K of the corpus). At "
    "100 TB the assigned corpus would be written partitioned by cell "
    "so each probe prunes to 3 partitions. Deterministic end-to-end "
    "(rounded scores + cell_id tie-breaks), hence fully hash-checked "
    "vs DuckDB — unlike seed-dependent l03b. Recall vs l03 is pinned "
    "in tests/test_llm.py.",
)
def l03c_ivf_ann(spark, sf_dir):
    from bigdata_lab4_spark.functions.embeddings import dot_col, l2_norm_col

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "enorm", l2_norm_col("embedding")
    )
    codebook = (
        e.filter(F.col("vec_id") < 8)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cell_id"),
                        F.col("embedding").alias("cvec"),
                        F.col("enorm").alias("cnorm"),
                    )
                )
            ).alias("codebook")
        )
    )
    scored = e.crossJoin(F.broadcast(codebook)).withColumn(
        "cell_scores", F.expr(_IVF_CELL_SCORES)
    )
    # argmax cell per vector: max on (cos, -cell_id) ⇒ highest cosine,
    # smallest cell_id on ties — mirrors the oracle's row_number order.
    assigned = scored.select(
        "vec_id",
        "embedding",
        "enorm",
        F.expr(
            "-array_max(transform(cell_scores,"
            " s -> struct(s.cos AS cos, -s.cell_id AS nid))).nid"
        ).alias("cell"),
    )
    probes = scored.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("enorm").alias("qnorm"),
        F.explode(
            F.expr(
                "transform(slice(reverse(array_sort(transform(cell_scores,"
                " s -> struct(s.cos AS cos, -s.cell_id AS nid)))), 1, 3),"
                " s -> -s.nid)"
            )
        ).alias("cell"),
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.round(
                dot_col("qe", "embedding") / (F.col("qnorm") * F.col("enorm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@query(
    "l04_text_stats",
    oracle="""
        SELECT doc_id,
               length(text) AS text_len,
               len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != ''))
                   AS n_tokens,
               round(length(replace(text, ' ', '')) * 1.0 /
                     len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')), 4)
                   AS avg_token_len,
               lang
        FROM documents
        WHERE lang = 'en' AND n_chars > 150
    """,
    doc="L4 per-document text stats + language filter — length, token count, "
    "mean token length over the en subset (filters pushed to the scan).",
)
def l04_text_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    return (
        d.filter((F.col("lang") == "en") & (F.col("n_chars") > 150))
        .select(
            "doc_id",
            F.length("text").alias("text_len"),
            F.size(toks).alias("n_tokens"),
            F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks), 4
            ).alias("avg_token_len"),
            "lang",
        )
    )


@query(
    "l06_embedding_math",
    oracle="""
        SELECT label,
               count(*) AS n,
               round(avg(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm,
               round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_dim0
        FROM embeddings GROUP BY label
    """,
    doc="L6 embedding math — L2 norms and per-label aggregates via "
    "aggregate/zip_with higher-order functions (SURVEY §2.10 L6).",
)
def l06_embedding_math(spark, sf_dir):
    from bigdata_lab4_spark.functions.embeddings import l2_norm_col

    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(l2_norm_col("embedding")), 6).alias("avg_norm"),
        F.round(F.avg(F.element_at("embedding", 1).cast("double")), 6).alias("avg_dim0"),
    )


# -- L7: SimHash near-dup (deterministic LSH — no seed, oracle-able) ----

_SIMHASH_ORACLE_FP = """
        SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(range(0, 60), i ->
                   CASE WHEN 2 * len(list_filter(hs, h -> (h >> i) & 1 = 1)) > len(hs)
                        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), 0)
                    AS BIGINT) AS fp
        FROM (
            SELECT doc_id,
                   list_transform(
                       list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                 t -> t != '')),
                       t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
            FROM documents WHERE text IS NOT NULL
        )
"""


@query(
    "l07_simhash",
    oracle=_SIMHASH_ORACLE_FP,
    doc="L2/SimHash fingerprints — 60-bit per-doc signature via per-bit "
    "token-hash majority vote: a map-side partial aggregate, then one "
    "shuffle of 61 longs per document. Deterministic, so bit-for-bit "
    "oracle-checked, unlike seeded MinHash.",
)
def l07_simhash(spark, sf_dir):
    """(doc_id, fp) for every non-null document — l07, and l07b's input.

    60-bit SimHash from md5-derived token hashes. md5 is computed
    identically by Spark and DuckDB (UTF-8 bytes), and 15 hex chars =
    60 bits fit a signed BIGINT on both engines, so the whole
    fingerprint — unlike seeded MinHash (l02b) — is bit-for-bit
    reproducible in the oracle.

    Bit-identical to the per-bit majority definition (``2*|{h: bit i
    set}| > |hs|`` over the distinct-token md5 hashes), but computed
    as explode → codegen'd hash aggregate: per exploded token hash the
    60 ``(h >> i) & 1`` contributions feed 60 ``sum`` buffers plus a
    ``count``, partially aggregated map-side, so the one shuffle
    carries 61 longs per document (guide §2.3) and leaves the
    fingerprints hash-distributed for l07b's parallel candidate join.
    ``explode_outer`` + ``count(h)`` keep zero-token documents in the
    result with fp = 0."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = (
        d.select(
            "doc_id",
            F.explode_outer(F.array_distinct(tokens_col("text"))).alias("tok"),
        )
        .select(
            "doc_id",
            F.expr(
                "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
    )
    counted = h.groupBy("doc_id").agg(
        F.count("h").alias("n"),
        # One SQL string per bit: built as Column chains, the 60 sums
        # cost ~4,100 py4j round trips, most of this query's planning.
        *[F.expr(f"sum(shiftright(h, {i}) & 1) AS c{i}") for i in range(60)],
    )
    fp_expr = " + ".join(
        f"IF(2 * coalesce(c{i}, CAST(0 AS BIGINT)) > n, "
        f"shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(60)
    )
    return counted.select("doc_id", F.expr(fp_expr).alias("fp"))


def _simhash_band_differs(b: int) -> str:
    # band 0 needs no shift; Catalyst would keep a shiftright(…, 0)
    xor = "(fp1 ^ fp2)" if b == 0 else f"shiftright(fp1 ^ fp2, {15 * b})"
    return f"({xor} & 32767) != 0"


@query(
    "l07b_simhash_neardup",
    oracle="""
        WITH fp AS ({fp_sql}),
        bands AS (
            SELECT doc_id, fp, r.range AS band,
                   (fp >> (15 * CAST(r.range AS INTEGER))) & 32767 AS val
            FROM fp CROSS JOIN range(0, 4) r
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, a.fp AS fp1,
                            b.doc_id AS d2, b.fp AS fp2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT d1, d2, bit_count(xor(fp1, fp2)) AS hamming
        FROM cand
        WHERE bit_count(xor(fp1, fp2)) <= 6
        ORDER BY hamming, d1, d2
    """.format(fp_sql=_SIMHASH_ORACLE_FP),
    doc="L2/SimHash banded near-dup join — 4 bands × 15 bits: candidate "
    "pairs only where a band collides (inverted-index join on (band, "
    "value), never all-pairs), then exact Hamming verify ≤ 6. Fully "
    "deterministic LSH, so the oracle checks the complete pipeline.",
)
def l07b_simhash_neardup(spark, sf_dir):
    # 4 band rows of 16 bytes per document — keys and metadata, never
    # payloads (guide §2.3, §8). The Hamming ≤ 6 verify runs in the join
    # condition after _band_pairs' own filter: codegen'd bit ops per
    # probe match, so only final result pairs materialize. Both join
    # sides hang below the fingerprint aggregate's exchange, which runs
    # once (see _band_pairs).
    bands = l07_simhash(spark, sf_dir).select(
        "doc_id", "fp", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band")
    ).select(
        "doc_id",
        "fp",
        "band",
        F.expr("shiftright(fp, 15 * band) & 32767").alias("val"),
    )
    hamming = F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2")))
    return (
        _band_pairs(spark, bands, ["fp"], 4, _simhash_band_differs)
        .filter(hamming <= 6)
        .select("d1", "d2", hamming.alias("hamming"))
        .orderBy("hamming", "d1", "d2")
    )


@query(
    "l06b_cosine_neardup",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
        ), pairs AS (
            SELECT a.vec_id AS v1, b.vec_id AS v2,
                   round(
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT v1, v2, cosine FROM pairs
        ORDER BY cosine DESC, v1, v2 LIMIT 20
    """,
    doc="L1/L3 embedding-cosine near-dup — exact top-20 most-similar "
    "pairs on a bounded slice: the oracle baseline for semantic dedup. "
    "Rank on the ROUNDED cosine so float drift cannot reorder the cut. "
    "At 100 TB the all-pairs stage is replaced by LSH bucketing "
    "(l03b's BucketedRandomProjectionLSH: candidates per bucket, then "
    "this exact re-score) — never a full cartesian.",
)
def l06b_cosine_neardup(spark, sf_dir):
    from bigdata_lab4_spark.functions.embeddings import dot_col, l2_norm_col

    # Same norm factoring as l03: O(n) norms precomputed per side, the
    # O(n²) pair expression pays only the dot — bit-identical result.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .withColumn("nrm", l2_norm_col("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("v1"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("v2"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("v1") < F.col("v2")).select(
        "v1",
        "v2",
        F.round(dot_col("ea", "eb") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
    )
    return pairs.orderBy(F.desc("cosine"), "v1", "v2").limit(20)
