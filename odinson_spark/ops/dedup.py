"""Deduplication operators over a documents table.

Every operator here is defined so a plain-SQL oracle can reproduce it
bit-for-bit (hashes are md5-derived, arithmetic is integer): that is what
the correctness gate checks. Scale notes are per-operator.
"""

from __future__ import annotations

import hashlib
import logging
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from ..pipeline.linking import MERSENNE_P, SHINGLE_K, _hash_params
from ..routes import log_route

logger = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy. One shuffle on the hash; at 100 TB this is the
# cheapest possible dedup (map-side partial aggregation applies).
# ---------------------------------------------------------------------------


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    return (
        documents.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard: word-trigram inverted join. All JVM-side (transform/
# sequence/explode); the shuffle key is the trigram string. Hot trigrams are
# the skew risk at scale → cap posting-list length (common-shingle drop),
# standard practice for shingle joins.
# ---------------------------------------------------------------------------


def _word_ngrams_catalyst(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram) rows via Catalyst transform/slice/explode. Higher-order
    functions are interpreted (never codegen — SCALE.md), so per-gram cost is
    an interpreted slice+concat; fine when scan-dominated."""
    from ..pipeline.extract import _fan_out

    toks = _fan_out(documents).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    gram_array = F.when(
        F.size("toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(gram_array).alias("gram"))


def _word_ngrams_pandas(documents: DataFrame, n: int) -> DataFrame:
    """Same distinct (doc_id, gram) rows via an Arrow-batched mapInPandas
    (the simhash/fingerprint fan-out pattern). A/B'd against the Catalyst
    route at sf0.1 and x10 — see BENCH.md 'gram-builder A/B'."""
    from ..pipeline.extract import _fan_out

    schema = StructType(
        [
            StructField("doc_id", documents.schema["doc_id"].dataType),
            StructField("gram", StringType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            grams: list = []
            for doc, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                if len(toks) < n:
                    continue
                seen = set()
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    if g not in seen:
                        seen.add(g)
                        ids.append(doc)
                        grams.append(g)
            yield pd.DataFrame({"doc_id": ids, "gram": grams})

    return _fan_out(documents.select("doc_id", "text")).mapInPandas(fn, schema)


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_postings: int = 10000,
    gram_impl: str = "pandas",
    max_broadcast_docs: int = 600_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs (integer fixed-point, ≥ threshold).

    Two routes, same output bit-for-bit:

    * **broadcast-postings** (≤ ``max_broadcast_docs`` documents): the
      gram→posting incidence is aggregated once (one small shuffle keyed by
      gram), collected (~8 bytes/incidence), and broadcast; a narrow pass
      over doc ids then intersects posting lists with one ``np.bincount``
      per document and emits only the surviving pairs. Rationale (measured
      at the 50k-doc bench scale): candidate pairs grow quadratically in
      posting length — 127M candidate rows of which 114M are DISTINCT
      pairs, so the pair-level shuffle+groupBy of the join route moves
      ~127M nearly-unique rows to keep a few thousand survivors, while the
      whole incidence structure is ~28k grams / 2.6M postings ≈ 25 MB.
      Decide with small rows, never shuffle the quadratic intermediate
      (optimization guide §8).
    * **postings join** (above the cap): the shuffle-partitionable
      inverted-index self-join — the 100 TB route, where no single
      structure fits one machine and pair counts per gram are bounded by
      ``max_postings``.
    """
    # plain count(), not limit(n+1).count(): a parquet count compiles to a
    # row-group-count scan with no columns materialized, while the limit
    # form reads (part of) a real column; for raw reads this is the cheaper
    # probe and for filtered inputs both scan once
    probe = documents.count()
    route = "broadcast" if probe <= max_broadcast_docs else "join"
    log_route(logger, "ngram_jaccard_pairs", route, probe, max_broadcast_docs, "docs")
    if route == "broadcast":
        return _ngram_jaccard_pairs_broadcast(documents, n, threshold, max_postings)
    grams = (
        _word_ngrams_pandas(documents, n)
        if gram_impl == "pandas"
        else _word_ngrams_catalyst(documents, n)
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # posting-length guard via a window (one exchange on gram, reused by the
    # self-join below); the join generates pairs streaming through the
    # sort-merge join instead of materializing n² structs inside single
    # collect_list rows — same output, no giant-row memory spike, ~25% faster
    from pyspark.sql import Window

    w = Window.partitionBy("gram")
    postings = (
        grams.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter((F.col("_n") > 1) & (F.col("_n") <= max_postings))
        .drop("_n")
    )
    co = (
        postings.alias("x")
        .join(
            postings.alias("y"),
            (F.col("x.gram") == F.col("y.gram"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # jaccard as exact integer fixed-point (×10⁶): float division rounds
    # differently across engines at decimal ties; integer DIV is exact
    thr_e6 = int(threshold * 1_000_000)
    out = (
        co.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_grams", "grams_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_grams", "grams_b"), "doc_b")
        .withColumn(
            "jaccard_e6",
            F.expr(
                "CAST(n_common AS BIGINT) * 1000000 DIV (grams_a + grams_b - n_common)"
            ),
        )
        .filter(F.col("jaccard_e6") >= thr_e6)
        .select("doc_a", "doc_b", "n_common", "jaccard_e6")
    )
    return out


# past this many documents the pass-B counting switches from bincount
# (O(n_docs) alloc per doc) to sort+run-length (O(candidate incidences))
_BINCOUNT_MAX_DOCS = 200_000


def _ngram_jaccard_pairs_broadcast(
    documents: DataFrame, n: int, threshold: float, max_postings: int
) -> DataFrame:
    """Broadcast-postings route for :func:`ngram_jaccard_pairs`.

    One shuffle total (grams → posting lists, keyed by gram — ~|vocab|
    groups), one ~25 MB collect+broadcast of the incidence arrays, then a
    narrow pass over doc ids: per document, concatenate the posting lists
    of its grams and ``np.bincount`` them — the count vector IS the exact
    per-pair intersection size, so the jaccard filter applies before any
    pair row exists. Identical output to the join route (asserted in
    tests/test_dedup_scale_guards.py)."""
    spark = documents.sparkSession
    id_type = documents.schema["doc_id"].dataType
    from pyspark.sql.types import ArrayType

    partial_schema = StructType(
        [StructField("gram", StringType()), StructField("ids", ArrayType(id_type))]
    )

    def partial_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # gram building fused with TASK-LOCAL posting aggregation: the
        # vocabulary (~28k grams) is far smaller than the incidence (~2.6M
        # rows at bench scale), so emitting one (gram, ids) row per task
        # instead of one row per (doc, gram) cuts the shuffle row count
        # ~30× — map-side combine for an ObjectHashAggregate that has none
        # (optimization guide §2.3: aggregate before you shuffle).
        # Grams are CHARACTER SLICES between space offsets — identical
        # strings to " ".join(tokens[i:i+n]) because tokens come from
        # split(" ") on single spaces, and a C-level slice beats n string
        # joins per gram.
        acc: dict = {}
        for pdf in batches:
            for doc, text in zip(pdf["doc_id"], pdf["text"]):
                t = text or ""
                # space offsets: gram i spans (sp[i], sp[i+n]) exclusive
                sp = [-1]
                find = t.find
                j = find(" ")
                while j != -1:
                    sp.append(j)
                    j = find(" ", j + 1)
                sp.append(len(t))
                if len(sp) - 1 < n:  # token count = len(sp) - 1
                    continue
                seen = set()
                for i in range(len(sp) - n):
                    g = t[sp[i] + 1 : sp[i + n]]
                    if g not in seen:
                        seen.add(g)
                        acc.setdefault(g, []).append(doc)
        if acc:
            yield pd.DataFrame({"gram": list(acc.keys()), "ids": list(acc.values())})
        else:
            # typed empty frame: a bare {} infers float64 columns, which
            # Arrow cannot cast to string / list<id>
            yield pd.DataFrame(
                {
                    "gram": pd.Series([], dtype=object),
                    "ids": pd.Series([], dtype=object),
                }
            )

    from ..pipeline.extract import _fan_out

    partials = _fan_out(documents.select("doc_id", "text")).mapInPandas(
        partial_fn, partial_schema
    )
    thr_e6 = int(threshold * 1_000_000)
    out_schema = StructType(
        [
            StructField("doc_a", id_type),
            StructField("doc_b", id_type),
            StructField("n_common", LongType()),
            StructField("jaccard_e6", LongType()),
        ]
    )

    # Arrow-native collect of the per-task partials — NO Spark aggregation:
    # merging ≤ tasks×|vocab| partial rows is a driver-side factorize over
    # the gram strings, which costs less than an extra exchange +
    # ObjectHashAggregate round trip. The list column arrives as ONE flat
    # child array plus offsets (no per-row conversion).
    tbl = partials.toArrow()
    col = tbl.column("ids").combine_chunks()
    offsets = np.asarray(col.offsets)
    flat = col.values
    plens = np.diff(offsets).astype(np.int64)
    import pyarrow as pa

    if pa.types.is_string(flat.type) or pa.types.is_large_string(flat.type):
        inc_ids = np.asarray(flat.to_pandas())  # object dtype, python compares
    else:
        inc_ids = flat.to_numpy(zero_copy_only=False)
    # merge partials: factorize gram strings → gram codes; per-gram posting
    # length = sum of its partial lengths (posting ORDER within a gram is
    # irrelevant — the pass below only counts)
    gram_codes, _ = pd.factorize(np.asarray(tbl.column("gram").combine_chunks()))
    n_grams = int(gram_codes.max()) + 1 if len(gram_codes) else 0
    lens = np.bincount(gram_codes, weights=plens, minlength=n_grams).astype(np.int64)
    # sorted unique ids define both the dense index and the `doc_a < doc_b`
    # order (numeric for numeric ids; UTF-8 code-point order for strings —
    # the same comparator Spark's `<` uses). Dense non-negative integer ids
    # (the common corpus shape) take an O(n) presence-mask path instead of
    # np.unique's sort.
    if (
        len(inc_ids)
        and inc_ids.dtype.kind in "iu"
        and int(inc_ids.min()) >= 0
        and int(inc_ids.max()) < max(10_000_000, 20 * len(inc_ids))
    ):
        mx = int(inc_ids.max())
        present = np.zeros(mx + 1, dtype=bool)
        present[inc_ids] = True
        uniq_ids = np.nonzero(present)[0].astype(inc_ids.dtype)
        rank = np.cumsum(present) - 1
        inc_doc = rank[inc_ids]
    else:
        uniq_ids, inc_doc = np.unique(inc_ids, return_inverse=True)
    n_docs = len(uniq_ids)
    # |grams(doc)| over ALL grams (the join route computes sizes before the
    # posting-length filter)
    sizes = np.bincount(inc_doc, minlength=n_docs).astype(np.int64)
    # posting-length guard (identical to the join route's window filter)
    gram_idx = np.repeat(gram_codes.astype(np.int32), plens)
    keep = (lens > 1) & (lens <= max_postings)
    mask = keep[gram_idx] if len(gram_idx) else np.array([], dtype=bool)
    g_i = gram_idx[mask]
    d_i = inc_doc[mask].astype(np.int32)
    # CSR doc → kept grams (int32 throughout: halves broadcast bytes and
    # per-worker deserialization)
    order_d = np.argsort(d_i, kind="stable")
    doc_grams_flat = g_i[order_d]
    doc_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(d_i, minlength=n_docs), out=doc_off[1:])
    # CSR kept gram → posting doc idxs
    order_g = np.argsort(g_i, kind="stable")
    post_flat = d_i[order_g]
    post_off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(np.bincount(g_i, minlength=len(lens)), out=post_off[1:])

    bc = spark.sparkContext.broadcast(
        (uniq_ids, sizes, doc_grams_flat, doc_off, post_flat, post_off, thr_e6)
    )
    bincount_max = _BINCOUNT_MAX_DOCS  # captured at driver (testable)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        u_ids, szs, dg_flat, d_off, p_flat, p_off, thr = bc.value
        nd = len(u_ids)
        for pdf_b in batches:
            out_a, out_b, out_nc, out_j = [], [], [], []
            batch_ids = pdf_b["doc_id"].to_numpy()
            if nd and len(batch_ids):
                pos = np.searchsorted(u_ids, batch_ids)
                pos = np.clip(pos, 0, nd - 1)
                found = u_ids[pos] == batch_ids
            else:
                pos = np.zeros(len(batch_ids), dtype=np.int64)
                found = np.zeros(len(batch_ids), dtype=bool)
            # counting strategy: bincount allocates+scans an nd-sized vector
            # per document — ideal while nd is small, quadratic-ish overhead
            # as the corpus grows; past the threshold a sort+run-length over
            # the ~|Σ postings| concat is cheaper (work stays proportional
            # to the candidate incidences, not to nd)
            use_bincount = nd <= bincount_max
            for a_idx in pos[found]:
                gs = dg_flat[d_off[a_idx] : d_off[a_idx + 1]]
                if len(gs) == 0:
                    continue
                cat = np.concatenate([p_flat[p_off[g] : p_off[g + 1]] for g in gs])
                if use_bincount:
                    cnt = np.bincount(cat, minlength=nd)
                    nz = np.nonzero(cnt)[0]
                    nz = nz[nz > a_idx]
                    if len(nz) == 0:
                        continue
                    nc = cnt[nz].astype(np.int64)
                else:
                    nz, nc = np.unique(cat, return_counts=True)
                    keep_b = nz > a_idx
                    nz = nz[keep_b]
                    if len(nz) == 0:
                        continue
                    nc = nc[keep_b].astype(np.int64)
                jac = nc * 1_000_000 // (szs[a_idx] + szs[nz] - nc)
                sel = jac >= thr
                if not sel.any():
                    continue
                nz = nz[sel]
                out_a.append(np.full(len(nz), u_ids[a_idx]))
                out_b.append(u_ids[nz])
                out_nc.append(nc[sel])
                out_j.append(jac[sel])
            if out_a:
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate(out_a),
                        "doc_b": np.concatenate(out_b),
                        "n_common": np.concatenate(out_nc),
                        "jaccard_e6": np.concatenate(out_j),
                    }
                )
            else:
                # dtype from the broadcast value — naming driver-local
                # uniq_ids here would pickle the whole id array into the
                # task closure alongside the broadcast
                id_dtype = object if u_ids.dtype == object else u_ids.dtype
                yield pd.DataFrame(
                    {
                        "doc_a": pd.Series([], dtype=id_dtype),
                        "doc_b": pd.Series([], dtype=id_dtype),
                        "n_common": pd.Series([], dtype=np.int64),
                        "jaccard_e6": pd.Series([], dtype=np.int64),
                    }
                )

    from ..pipeline.extract import _fan_out

    return _fan_out(documents.select("doc_id")).mapInPandas(fn, out_schema)


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup candidates: the operator is
# pipeline.linking.lsh_candidate_pairs; here is its DuckDB oracle.
# ---------------------------------------------------------------------------


def minhash_lsh_ctes(
    table: str = "documents", n_hashes: int = 16, bands: int = 2
) -> str:
    """Composable DuckDB CTE chain (no WITH keyword) defining, over
    ``{table}(doc_id, text)``: ``sh`` (distinct k-shingles) and
    ``lsh_pairs(doc_a, doc_b)`` — the identical candidate-pair set
    ``lsh_candidate_pairs`` produces with the same banding. Callers prepend
    their own CTEs and append a final SELECT."""
    a, b = _hash_params(n_hashes)
    k = SHINGLE_K
    r = n_hashes // bands
    values = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(n_hashes))
    return f"""
params(k, a, b) AS (VALUES {values}),
docs AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM {table}),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1})) AS i FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, substr(t, i::INT, {k}) AS s FROM idx
),
hv AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::UBIGINT::HUGEINT AS h FROM sh),
sig AS (
  SELECT doc_id, k, min((a::HUGEINT * h + b) % {MERSENNE_P}) AS mh
  FROM hv, params GROUP BY doc_id, k
),
bandkeys AS (
  SELECT doc_id, k // {r} AS band,
         string_agg(mh::VARCHAR, '-' ORDER BY k) AS band_key
  FROM sig GROUP BY doc_id, k // {r}
),
lsh_pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bandkeys x JOIN bandkeys y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)"""


def minhash_lsh_oracle_sql(
    table: str = "documents", n_hashes: int = 16, bands: int = 2
) -> str:
    """DuckDB SQL computing the identical candidate-pair set."""
    return (
        "WITH "
        + minhash_lsh_ctes(table, n_hashes, bands)
        + "\nSELECT doc_a, doc_b FROM lsh_pairs"
    )


# ---------------------------------------------------------------------------
# SimHash: 60-bit signature; hamming-close signatures ≈ near-dups.
# Narrow stage (pandas UDF), signatures then group/join cheaply.
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60


_token_hash_cache: dict = {}
_BIT_RANGE = np.arange(_SIMHASH_BITS, dtype=np.uint64)


def _token_hash(tok: str) -> int:
    h = _token_hash_cache.get(tok)
    if h is None:
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        if len(_token_hash_cache) < 2_000_000:
            _token_hash_cache[tok] = h
    return h


def _simhash(text: str) -> int:
    toks = text.split()
    if not toks:
        return 0
    uniq, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
    hs = np.fromiter((_token_hash(t) for t in uniq), dtype=np.uint64, count=len(uniq))
    bits = ((hs[:, None] >> _BIT_RANGE[None, :]) & 1).astype(np.int64)
    sums = ((2 * bits - 1) * counts[:, None].astype(np.int64)).sum(axis=0)
    return int(((sums > 0).astype(np.uint64) << _BIT_RANGE).sum())


def simhash_signatures(documents: DataFrame) -> DataFrame:
    schema = StructType(
        [
            StructField("doc_id", documents.schema["doc_id"].dataType),
            StructField("simhash", LongType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["simhash"] = [_simhash(t or "") for t in pdf["text"]]
            yield out

    from ..pipeline.extract import _fan_out

    return _fan_out(documents.select("doc_id", "text")).mapInPandas(fn, schema)


SIMHASH_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::UBIGINT AS hv FROM toks
),
bits AS (
  SELECT doc_id, g.b AS b,
         sum(CASE WHEN (hv >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, LATERAL generate_series(0, {_SIMHASH_BITS - 1}) g(b)
  GROUP BY doc_id, g.b
)
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::UBIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


def simhash_pairs(
    documents: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — the pairing stage that
    turns the fingerprint column into an actual dedup operator.

    LOSSLESS banded join when ``max_hamming < bands``: a pair at hamming ≤ t
    differs in at most t of the ``bands`` signature bands, so at least one
    band is bit-identical (pigeonhole) — the equi-join on (band, band_value)
    surfaces every qualifying pair, and the exact ``bit_count(xor) ≤ t``
    filter removes false candidates. The result therefore equals the full
    quadratic ground truth (which is exactly what the SQL oracle computes).

    Skew guard: candidate buckets larger than ``max_bucket_size`` are
    dropped (a band value shared by that many docs is degenerate
    boilerplate); deterministic, so an oracle could mirror it."""
    assert max_hamming < bands, "banding is only lossless when max_hamming < bands"
    assert _SIMHASH_BITS % bands == 0
    width = _SIMHASH_BITS // bands
    mask = (1 << width) - 1
    sig = simhash_signatures(documents)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", width * b).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "val"),
    )
    counts = banded.groupBy("band", "val").agg(F.count(F.lit(1)).alias("_n"))
    capped = banded.join(counts, ["band", "val"]).filter(
        (F.col("_n") > 1) & (F.col("_n") <= max_bucket_size)
    )
    pairs = (
        capped.alias("x")
        .join(
            capped.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def simhash_pairs_oracle_sql(
    table: str = "documents", max_hamming: int = 3
) -> str:
    """Ground truth: FULL quadratic hamming join over the signature table —
    matching it proves the banded join in :func:`simhash_pairs` is lossless."""
    return f"""
WITH sig AS ({SIMHASH_ORACLE_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs — brute force (the oracle-checkable
# baseline; the scale path is the LSH/IVF variant in ops/similarity.py).
# ---------------------------------------------------------------------------


def round_half_up(x: np.ndarray, scale: int) -> np.ndarray:
    """Spark's ``round(double, scale)``: HALF_UP (ties away from zero) on the
    value's shortest decimal form, and never a negative zero.

    ``np.round`` rounds ties to even on the binary value, so 0.00015 → 0.0001
    where Spark gives 0.0002. Only values within 1e-9 of a tie after scaling
    can differ; those few are re-rounded exactly through ``Decimal(repr)``."""
    out = np.round(x, scale)
    y = np.abs(x) * 10.0**scale
    for i in np.flatnonzero(np.abs(y - np.floor(y) - 0.5) < 1e-9):
        d = Decimal(repr(float(x.flat[i]))).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
        out.flat[i] = float(d)
    return out + 0.0


def _cosine_col(va, vb):
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return dot / (na * nb)


def _cosine_pandas_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.stack([np.asarray(x, dtype=np.float64) for x in va]) if len(va) else np.zeros((0, 1))
        b = np.stack([np.asarray(x, dtype=np.float64) for x in vb]) if len(vb) else np.zeros((0, 1))
        dots = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        return pd.Series(dots / (na * nb))

    return cos


def embedding_cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    n_planes: int | None = None,
    seed: int = 7,
    n_probes: int | None = None,
    max_bucket_size: int = 100_000,
    target_bucket_size: int = 1024,
    n_vectors: int | None = None,
) -> DataFrame:
    """LSH-bucketed cosine pairs — the scale path for
    :func:`embedding_cosine_pairs`: candidates are restricted to vectors
    sharing a (multi-probed) hyperplane bucket, so the cross product becomes
    a shuffle-partitionable equi-join. Approximate: only pairs differing in
    ≤1 hyperplane sign are candidates, so recall is ~complete at NEAR-DUP
    thresholds (cosine ≥ ~0.9, the dedup use case — measured full recall on
    clustered data) but collapses at moderate thresholds (measured ~2% at
    cosine 0.3 on random vectors; P(per-plane sign agreement) =
    1 - arccos(cos)/π). For broad-threshold pair mining use minhash
    blocking on content instead."""
    import warnings

    if threshold < 0.7:
        warnings.warn(
            f"hyperplane-LSH pair recall degrades sharply below cosine ~0.7 "
            f"(threshold={threshold}); most qualifying pairs will be missed "
            f"— use a near-dup threshold or minhash blocking",
            RuntimeWarning,
        )
    from .similarity import _cap_buckets, add_lsh_bucket, derive_n_planes

    if n_planes is None:
        # scale-safe default: plane count derived from corpus size so bucket
        # occupancy stays near target_bucket_size (a fixed count goes empty
        # under the cap at high cardinality); n_vectors skips the count()
        n = n_vectors if n_vectors is not None else embeddings.count()
        n_planes = derive_n_planes(n, target_bucket_size)
    b = add_lsh_bucket(embeddings, dim, n_planes, seed)
    if n_probes is None:
        n_probes = n_planes
    left = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("va"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_probes)],
            )
        ).alias("bucket"),
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
        "bucket",
    )
    right = _cap_buckets(right, max_bucket_size, "embedding_cosine_pairs_lsh")
    cos = F.round(_cosine_col(F.col("va"), F.col("vb")), 4)
    return (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    max_broadcast_rows: int = 2_000_000,
    on_overflow: str = "auto",
) -> DataFrame:
    """Brute-force pairwise cosine ≥ threshold.

    Implementation is a broadcast block-nested-loop done in numpy: the whole
    (id, vector) matrix is broadcast once (O(n) transfer), each task matmuls
    its probe block against it, and only surviving pairs leave the worker.
    A pair-materializing join would move O(n²) vector copies through the
    shuffle/Arrow layer — 100× more bytes than the surviving pairs.

    Above ``max_broadcast_rows`` the exact path can't broadcast.
    ``on_overflow`` decides what happens then:

    * ``"auto"`` (default) — route to :func:`embedding_cosine_pairs_lsh`
      (approximate, same output schema) ONLY when ``threshold >= 0.7``,
      where hyperplane-LSH recall is near-complete; below that the LSH
      substitute would silently return a drastically incomplete pair set
      (~2% recall at 0.35 by this module's own measurement), so the call
      raises instead and the approximate path requires explicit opt-in.
    * ``"lsh"`` — always route (explicit opt-in to approximate results).
    * ``"raise"`` — exact-or-nothing."""
    spark = embeddings.sparkSession
    # overflow probe: limit(max+1).count() ships only a long to the driver
    # (no Arrow transfer), so the over-limit branches — the ones whose whole
    # point is avoiding driver materialization — never pay a GB-scale
    # toPandas() for data they would immediately discard; only the exact
    # path (provably ≤ max rows) materializes
    probe = embeddings.limit(max_broadcast_rows + 1).count()
    if probe > max_broadcast_rows:
        route = on_overflow == "lsh" or (on_overflow == "auto" and threshold >= 0.7)
        if route:
            dim = len(
                embeddings.select("embedding").head(1)[0]["embedding"]
            )
            return embedding_cosine_pairs_lsh(embeddings, threshold, dim=dim)
        if on_overflow == "auto":
            raise ValueError(
                f"more than {max_broadcast_rows} vectors exceeds the "
                f"brute-force broadcast limit and threshold={threshold} < 0.7 "
                f"is too low for the LSH substitute (recall collapses at "
                f"moderate thresholds); pass on_overflow='lsh' to accept "
                f"approximate results, or use minhash blocking on content"
            )
        raise ValueError(
            f"more than {max_broadcast_rows} vectors exceeds brute-force "
            f"broadcast limit; use LSH blocking"
        )
    pdf_all = embeddings.select("vec_id", "embedding").toPandas()
    ids_all = pdf_all["vec_id"].to_numpy()
    mat_all = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_all["embedding"]])
    norms_all = np.sqrt(np.einsum("ij,ij->i", mat_all, mat_all))
    bc = spark.sparkContext.broadcast((ids_all, mat_all, norms_all))

    schema = StructType(
        [
            StructField("vec_a", embeddings.schema["vec_id"].dataType),
            StructField("vec_b", embeddings.schema["vec_id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def fn(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy()
            a_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
            sims = round_half_up(sims, 4)
            ii, jj = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ii],
                    "vec_b": b_ids[jj],
                    "cosine": sims[ii, jj],
                }
            )

    par = spark.sparkContext.defaultParallelism
    return (
        embeddings.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(fn, schema)
    )
