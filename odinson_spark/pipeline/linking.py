"""Entity linking: MinHash-LSH blocking + candidate-pair scoring — the one
MinHash-LSH implementation (the KG build, ``kg_canonical`` and the dedup
gates all run it).

No reference counterpart (Odinson stops at mentions); required by the
pipeline's north rule. Design:

1. **Signatures** (narrow): per row, k-shingle the normalized string, hash
   each shingle to a 60-bit integer via md5 (stable across Python/SQL/JVM —
   the DuckDB oracle reproduces it bit-for-bit), then n_hashes
   universal-hash permutations ``(a*h + b) mod p`` with p = 2^61-1.
   Arrow-batched pandas stage, no shuffle.
2. **Banding** (one shuffle): split the signature into bands keyed by the
   literal values joined as a string; one window over (band, key) tags each
   row with its bucket size and rank, and a streaming emitter turns each
   bucket into all pairs, or into star pairs (min id, member) above
   ``max_bucket_size``. P(candidate) ≈ 1-(1-s^r)^b.
3. **Scoring** (JVM, two id joins): exact integer Jaccard over the
   distinct char-3-gram sets of each candidate pair, keep pairs ≥ threshold.

Scale notes: the window key is (band, key) — high cardinality, hot only for
degenerate (identical) texts, whose buckets the star fallback bounds to
k−1 rows; no bucket is ever materialized as one row.
"""

from __future__ import annotations

import functools
import hashlib
import logging
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

MERSENNE_P = (1 << 61) - 1
_HASH_BITS_HEX = 15  # 60 bits from md5 hex
SHINGLE_K = 3  # character shingle length of signatures and scoring
HASH_SEED = 42  # seed of the permutation parameters

logger = logging.getLogger(__name__)


def derive_banding(
    n_rows: int, threshold: float = 0.7, n_hashes: int | None = None
) -> Tuple[int, int]:
    """(n_hashes, bands) derived from corpus size and the link threshold —
    the fixed (16, 4) default is only right for small corpora at t≈0.7.

    Permutation count scales with corpus size: false-candidate volume grows
    with the number of pairs, so bigger corpora need a sharper S-curve
    (more rows per band at the same threshold position) to keep the
    candidate set join-sized — 16 hashes under 10^6 rows, 32 under 10^9,
    64 beyond. The band split then minimizes the standard LSH error
    integral at the threshold: fp = ∫₀ᵗ P_cand(s) ds plus
    fn = ∫ₜ¹ (1 − P_cand(s)) ds with P_cand(s) = 1 − (1 − s^r)^b,
    evaluated by deterministic numeric quadrature over the divisor pairs
    of n_hashes. Below 10^6 rows at t=0.7 this lands on (16, 4) — identical
    to the historical default — and shifts toward more selective bandings
    as n grows. Pass ``n_hashes`` to pin the permutation count and derive
    only the band split for it."""
    n = max(int(n_rows), 1)
    if n_hashes is None:
        if n < 1_000_000:
            n_hashes = 16
        elif n < 1_000_000_000:
            n_hashes = 32
        else:
            n_hashes = 64
    s = np.linspace(0.0, 1.0, 1001)
    best, best_err = None, None
    for bands in range(1, n_hashes + 1):
        if n_hashes % bands:
            continue
        r = n_hashes // bands
        p = 1.0 - (1.0 - s**r) ** bands
        fp = np.trapz(np.where(s < threshold, p, 0.0), s)
        fn = np.trapz(np.where(s >= threshold, 1.0 - p, 0.0), s)
        err = fp + fn
        if best_err is None or err < best_err:
            best, best_err = bands, err
    return n_hashes, best


def _hash_params(n_hashes: int, seed: int = HASH_SEED) -> Tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=n_hashes, dtype=np.int64).astype(object)
    b = rng.randint(0, MERSENNE_P, size=n_hashes, dtype=np.int64).astype(object)
    return a, b


def shingles(s: str, k: int = SHINGLE_K) -> List[str]:
    s = " " + s.lower() + " "
    if len(s) <= k:
        return [s]
    return [s[i : i + k] for i in range(len(s) - k + 1)]


_shingle_cache: dict = {}


def shingle_hash(sh: str) -> int:
    # k-shingles over natural text repeat heavily across documents; the
    # md5 memo turns the signature stage from hash-bound to lookup-bound
    h = _shingle_cache.get(sh)
    if h is None:
        h = int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:_HASH_BITS_HEX], 16)
        if len(_shingle_cache) < 2_000_000:
            _shingle_cache[sh] = h
    return h


def minhash_signature(s: str, n_hashes: int, k: int, a, b) -> List[int]:
    hs = np.array(sorted({shingle_hash(x) for x in shingles(s, k)}), dtype=object)
    sig = []
    for i in range(n_hashes):
        sig.append(int(((a[i] * hs + b[i]) % MERSENNE_P).min()))
    return sig


def _mulmod_mersenne61(a_vec: np.ndarray, h_vec: np.ndarray) -> np.ndarray:
    """Exact ``(a ⊗ h) mod (2^61 - 1)`` as an outer product in pure uint64.

    The 122-bit product is decomposed over 30/31-bit halves; 2^61 ≡ 1
    (mod p) folds every partial back under 64 bits, so the result is
    bit-identical to Python-bigint ``(a * h) % p`` (pinned by
    tests/test_ops_and_kg.py::test_mersenne_mulmod_matches_bigint) with no
    object math. Inputs: ``a_vec`` (n_hashes,), ``h_vec`` (n_uniq,), both
    < 2^61; output shape (n_hashes, n_uniq)."""
    P = np.uint64(MERSENNE_P)

    def red(x):
        # one folding step: x < 2^64 → (x & p) + (x >> 61) < 2^61 + 8
        x = (x & P) + (x >> np.uint64(61))
        return np.where(x >= P, x - P, x)

    a64 = a_vec.astype(np.uint64)[:, None]
    h64 = h_vec.astype(np.uint64)[None, :]
    a_hi, a_lo = a64 >> np.uint64(31), a64 & np.uint64(0x7FFFFFFF)  # <2^30, <2^31
    h_hi, h_lo = h64 >> np.uint64(30), h64 & np.uint64(0x3FFFFFFF)  # <2^31, <2^30
    # a*h = a_hi·h_hi·2^61 + a_hi·h_lo·2^31 + a_lo·h_hi·2^30 + a_lo·h_lo
    # and 2^61 ≡ 1 (mod 2^61 − 1), so each 2^61 factor folds to +1
    t0 = red(a_hi * h_hi)  # ·2^61 ≡ ·1; product < 2^61
    t1 = red(a_hi * h_lo)  # < 2^60
    t1 = red((t1 >> np.uint64(30)) + ((t1 & np.uint64(0x3FFFFFFF)) << np.uint64(31)))  # ·2^31
    t2 = red(a_lo * h_hi)  # < 2^62 → red first
    t2 = red((t2 >> np.uint64(31)) + ((t2 & np.uint64(0x7FFFFFFF)) << np.uint64(30)))  # ·2^30
    t3 = red(a_lo * h_lo)  # < 2^61
    return red(red(t0 + t1) + red(t2 + t3))


def batch_signatures(texts, n_hashes: int, k: int, a, b) -> List[List[int]]:
    """Batch-vectorized :func:`minhash_signature` (identical output).

    Shingles repeat heavily across documents, so ``(a*h + b) mod p`` is
    computed ONCE per unique shingle per batch — and entirely in uint64
    via the Mersenne-61 decomposition above (the old path did Python-
    bigint object math per element). The per-document min stays a per-doc
    gather: a batched ``np.minimum.reduceat`` over the concatenated
    indices was A/B'd and LOST ~3× (the 16×Σ|shingles| gather
    materializes ~85 MB per batch on this host's bandwidth)."""
    uniq: dict = {}
    doc_idx: List[np.ndarray] = []
    for s in texts:
        hs = {shingle_hash(x) for x in shingles(s or "", k)}
        idx = np.empty(len(hs), dtype=np.int64)
        for j, h in enumerate(hs):
            i = uniq.get(h)
            if i is None:
                i = len(uniq)
                uniq[h] = i
            idx[j] = i
        doc_idx.append(idx)
    if not uniq:
        return [[0] * n_hashes for _ in texts]
    H = np.fromiter(uniq.keys(), dtype=np.uint64, count=len(uniq))
    a_u = np.fromiter((int(x) for x in a), dtype=np.uint64, count=n_hashes)
    b_u = np.fromiter((int(x) for x in b), dtype=np.uint64, count=n_hashes)
    perm = _mulmod_mersenne61(a_u, H)
    perm += b_u[:, None]
    P = np.uint64(MERSENNE_P)
    perm = (perm & P) + (perm >> np.uint64(61))
    perm = np.where(perm >= P, perm - P, perm)
    return [
        [int(x) for x in perm[:, idx].min(axis=1)] if len(idx) else [0] * n_hashes
        for idx in doc_idx
    ]


def emit_bucket_pairs(
    batches: Iterator[pd.DataFrame], max_bucket_size: int
) -> Iterator[pd.DataFrame]:
    """``(_id, _n, _rn)`` window rows → ``(id_a, id_b)`` pairs, streamed.

    ``_n`` is the row's bucket size and ``_rn`` its row number inside the
    bucket by ``_id``. The walk relies on each bucket's rows arriving
    contiguously, ``_rn`` counting up by one from 1 and ``_id`` ascending
    (what WindowExec's sort gives); it raises ``ValueError`` where that
    order does not hold instead of re-sorting. A bucket of at most
    ``max_bucket_size`` rows buffers its ids and emits all pairs; a larger
    one emits star pairs (min id, member) row by row, buffering nothing.
    A repeated id inside a bucket adds no pair."""
    tri_cache: dict = {}
    bucket: list = []  # ids of the open all-pairs bucket
    first = last = None  # min id and latest id of the open bucket
    last_rn = 0

    def all_pairs(out_a, out_b):
        if len(bucket) > 1:
            arr = np.asarray(bucket)
            c = len(arr)
            tri = tri_cache.get(c)
            if tri is None:
                tri = np.triu_indices(c, k=1)
                # memoize small sizes only (tri arrays are quadratic in c)
                if c <= 256 and len(tri_cache) < 512:
                    tri_cache[c] = tri
            out_a.append(arr[tri[0]])
            out_b.append(arr[tri[1]])

    def frame(out_a, out_b):
        return pd.DataFrame({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})

    for pdf in batches:
        out_a: list = []
        out_b: list = []
        star_a: list = []
        star_b: list = []
        for id_, n_, rn in zip(pdf["_id"], pdf["_n"], pdf["_rn"]):
            if rn == 1:
                all_pairs(out_a, out_b)
                bucket = []
                first = id_
            elif rn != last_rn + 1 or id_ < last:
                raise ValueError(
                    f"LSH bucket rows out of order: _rn {rn} id {id_!r} "
                    f"after _rn {last_rn} id {last!r}"
                )
            repeat = rn > 1 and id_ == last
            last, last_rn = id_, rn
            if repeat:
                continue
            if n_ <= max_bucket_size:
                bucket.append(id_)
            elif rn > 1:
                star_a.append(first)
                star_b.append(id_)
        if star_a:
            out_a.append(np.asarray(star_a))
            out_b.append(np.asarray(star_b))
        if out_a:
            yield frame(out_a, out_b)
    out_a, out_b = [], []
    all_pairs(out_a, out_b)  # the partition's last bucket
    if out_a:
        yield frame(out_a, out_b)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int | None = None,
    bands: int | None = None,
    max_bucket_size: int = 1024,
    threshold: float = 0.7,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, sharing ≥1 LSH
    band bucket.

    ``n_hashes``/``bands`` default to None → derived from the corpus size
    (one ``count()``) and the downstream link ``threshold``
    (:func:`derive_banding`); pass both for reproducibility against a fixed
    oracle (``dedup.minhash_lsh_ctes`` reproduces the pairs exactly while no
    bucket exceeds ``max_bucket_size``)."""
    from .extract import _fan_out

    if n_hashes is None or bands is None:
        n = df.count()
        if bands is None:
            # derive bands FOR the caller's hash count when one was given —
            # deriving both independently can pair a non-divisor (or a band
            # split optimized for the wrong signature length)
            n_hashes, bands = derive_banding(n, threshold, n_hashes=n_hashes)
        else:
            d_hashes, _ = derive_banding(n, threshold)
            n_hashes = d_hashes if d_hashes % bands == 0 else bands * max(
                1, round(d_hashes / bands)
            )
        logger.info(
            "lsh_candidate_pairs: derived n_hashes=%d bands=%d (n_rows=%d, "
            "threshold=%.2f)", n_hashes, bands, n, threshold,
        )
    assert n_hashes % bands == 0
    r = n_hashes // bands
    a, b = _hash_params(n_hashes)
    id_type = df.schema[id_col].dataType
    # the signature stage is CPU-bound; small inputs often arrive as one
    # split and would otherwise run single-task
    docs = _fan_out(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["_id"]].copy()  # the text does not cross Arrow back
            out["_sig"] = batch_signatures(list(pdf["_text"]), n_hashes, SHINGLE_K, a, b)
            yield out

    sig = docs.mapInPandas(
        sign,
        StructType([StructField("_id", id_type), StructField("_sig", ArrayType(LongType()))]),
    )
    # band keys are the literal signature values joined as strings, so the
    # SQL oracle reproduces the buckets exactly
    banded = sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.concat_ws(
                    "-",
                    F.transform(F.slice("_sig", i * r + 1, r), lambda x: x.cast("string")),
                ),
            )
        ).alias("_band", "_key"),
    )
    # ONE window over (band, key) tags every row with its bucket size and
    # row number (one exchange + one sort, no self-join, no per-bucket array
    # row), so a degenerate everything-in-one-bucket corpus streams through
    # the emitter with O(max_bucket_size) memory. _rn == 1 marks a bucket
    # boundary and its minimum id, so only 3 narrow columns cross Arrow.
    w = Window.partitionBy("_band", "_key")
    tagged = (
        banded.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_rn", F.row_number().over(w.orderBy("_id")))
        .filter(F.col("_n") > 1)
        .select("_id", "_n", "_rn")
    )
    return tagged.mapInPandas(
        functools.partial(emit_bucket_pairs, max_bucket_size=max_bucket_size),
        StructType([StructField("id_a", id_type), StructField("id_b", id_type)]),
    ).distinct()


def score_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact char-3-gram Jaccard of candidate pairs, in integers on the JVM.

    Grams are the distinct 3-grams of ``' ' || lower(text) || ' '``; a pair
    is kept when ``ni * 10^6 DIV (na + nb - ni) >= round(threshold * 10^6)``,
    the test the DuckDB oracle of ``kg_canonical`` runs. Returns
    ``(id_a, id_b, score)`` with ``score = ni / (na + nb - ni)``."""
    k = SHINGLE_K
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    grams = F.when(
        F.length(padded) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(padded) - (k - 1)),
                lambda i: padded.substr(i, F.lit(k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col).alias("_id"), grams.alias("_g"))

    def side(s):
        return g.select(
            F.col("_id").alias(f"id_{s}"),
            F.col("_g").alias(f"_g{s}"),
            F.size("_g").alias(f"_n{s}"),
        )

    scored = (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("_ni", F.size(F.array_intersect("_ga", "_gb")))
        # an empty union only arises from two empty gram sets
        .withColumn("_u", F.greatest(F.col("_na") + F.col("_nb") - F.col("_ni"), F.lit(1)))
    )
    cutoff = round(threshold * 1_000_000)
    return scored.filter(
        F.expr(f"CAST(_ni AS BIGINT) * 1000000 DIV _u >= {cutoff}")
    ).select("id_a", "id_b", (F.col("_ni") / F.col("_u")).alias("score"))
