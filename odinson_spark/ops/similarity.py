"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk` — brute-force exact top-k, entirely JVM-side
  (``zip_with``/``aggregate`` + a rank window). The correctness baseline.
* :func:`lsh_ann_topk` — random-hyperplane LSH bucketing with 1-bit-flip
  multi-probe: queries only score against vectors sharing a (probed) hash
  bucket. The scale path: at 10^12 vectors the bucket equi-join replaces the
  cross join — shuffle-partitionable, no corpus broadcast — and recall is
  tunable via n_planes/n_probes.

Reproducibility design: hyperplane weights are seeded INTEGERS and the
per-dimension products are quantized with ``floor(x * w * 65536)`` before
summing — integer addition is order-independent, and scaling by a power of
two is exact in IEEE double, so Spark and DuckDB compute byte-identical
bucket ids. That turns the LSH ANN from a rows-only check into a fully
hash-checked gate (the oracle inlines the plane matrix as SQL literals).
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..routes import log_route
from .dedup import _cosine_col, round_half_up

_QUANT = 65536  # power of two: scaling is exact in IEEE double

logger = logging.getLogger(__name__)


def derive_n_planes(n_vectors: int, target_bucket_size: int = 1024) -> int:
    """Plane count scaled to the corpus: ≈ log2(N / target_bucket_size),
    clamped to [4, 30].

    A fixed plane count is a toy default — 10 planes is 1024 buckets total,
    so at 10^12 vectors EVERY bucket exceeds any per-bucket cap and the ANN
    goes empty. Deriving from N keeps expected bucket occupancy near
    ``target_bucket_size`` at every scale (30 planes ≈ 10^9 buckets covers
    10^12 vectors at ~1k/bucket)."""
    n = max(int(n_vectors), 2)
    return max(4, min(30, math.ceil(math.log2(n / max(target_bucket_size, 1)))))


def _cap_buckets(
    base: DataFrame,
    max_bucket_size: int,
    op_name: str,
    key: str = "bucket",
    knobs: str = "max_bucket_size or n_planes",
):
    """Drop over-cap buckets — but never silently: the dropped bucket ids and
    sizes are logged. One action (collect of the tiny over-cap rows) decides
    everything: zero drops → return ``base`` untouched (the common case pays
    no join and no second scan); otherwise the already-collected ids drive a
    driver-side NOT-IN filter — hot buckets are by definition FEW (each holds
    > max_bucket_size rows), so the literal list stays small."""
    counts = base.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    dropped = counts.filter(F.col("_n") > max_bucket_size).collect()
    if not dropped:
        return base
    total = sum(r["_n"] for r in dropped)
    logger.warning(
        "%s: dropping %d over-cap bucket(s) holding %d vectors "
        "(cap=%d): %s%s — raise %s to keep them",
        op_name,
        len(dropped),
        total,
        max_bucket_size,
        [(r[key], r["_n"]) for r in dropped[:10]],
        "…" if len(dropped) > 10 else "",
        knobs,
    )
    if len(dropped) <= 10_000:
        return base.filter(~F.col(key).isin([r[key] for r in dropped]))
    # degenerate case (cap far too low for the corpus): keep the join form
    return base.join(counts, key).filter(F.col("_n") <= max_bucket_size).drop("_n")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    vec_id: str = "vec_id",
    max_broadcast_queries: int = 8192,
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector (self excluded).
    Ties broken by neighbor id for determinism.

    Query sets up to ``max_broadcast_queries`` take an Arrow-vectorized
    route: the query matrix is broadcast, each corpus task scores its
    batches with one numpy matmul and keeps only its LOCAL top-k per query
    (the union of per-partition top-ks provably contains the global top-k),
    so the window ranks ~tasks×|Q|×k candidate rows instead of |Q|×N
    scored rows. The previous shape — a crossJoin scored by interpreted
    ``aggregate``/``zip_with`` lambdas (never codegen) — paid ~4 s at the
    50k×10 bench scale for what one matmul does in milliseconds
    (optimization guide §4.2). Larger query sets keep the crossJoin."""
    # probe+collect in one job: fetch at most cap+1 query rows; short result
    # IS the broadcast payload, overflow falls through to the crossJoin
    qpdf = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col("embedding").cast("array<double>").alias("va"),
        )
        .limit(max_broadcast_queries + 1)
        .toPandas()
    )
    route = "broadcast" if len(qpdf) <= max_broadcast_queries else "crossJoin"
    log_route(logger, "cosine_topk", route, len(qpdf), max_broadcast_queries, "queries")
    if route == "broadcast":
        return _cosine_topk_broadcast(embeddings, queries, k, query_id, vec_id, qpdf)
    base = embeddings.select(
        F.col(vec_id).alias("nbr_id"), F.col("embedding").cast("array<double>").alias("vb")
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col("embedding").cast("array<double>").alias("va")
    )
    cos = F.round(_cosine_col(F.col("va"), F.col("vb")), 4)
    scored = (
        q.crossJoin(F.broadcast(base) if base else base)
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def _cosine_topk_broadcast(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    query_id: str,
    vec_id: str,
    qpdf,
) -> DataFrame:
    """Arrow-vectorized exact top-k: broadcast query matrix, numpy matmul
    per corpus batch, per-task top-k, global window over the tiny union."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = embeddings.sparkSession
    q_ids = qpdf["query_id"].to_numpy()
    if len(q_ids):
        q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["va"]])
        q_norms = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
    else:
        q_mat = np.zeros((0, 1))
        q_norms = np.zeros(0)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    id_type = embeddings.schema[vec_id].dataType
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[query_id].dataType),
            StructField("nbr_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def fn(batches):
        b_qids, b_qmat, b_qnorms = bc.value
        nq = len(b_qids)
        if nq == 0:
            yield pd.DataFrame({"query_id": [], "nbr_id": [], "cosine": []})
            return
        # accumulate the task's candidates, cut to top-k once at task end
        all_ids: list = []
        all_sims: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_ids = pdf["nbr_id"].to_numpy()
            n_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vb"]])
            n_norms = np.sqrt(np.einsum("ij,ij->i", n_mat, n_mat))
            sims = round_half_up((b_qmat @ n_mat.T) / np.outer(b_qnorms, n_norms), 4)
            all_ids.append(n_ids)
            all_sims.append(sims)
        if not all_ids:
            yield pd.DataFrame({"query_id": [], "nbr_id": [], "cosine": []})
            return
        n_ids = np.concatenate(all_ids)
        sims = np.concatenate(all_sims, axis=1)  # (nq, n_task)
        out_q, out_n, out_c = [], [], []
        for qi in range(nq):
            row = sims[qi]
            ids = n_ids
            mask = ids != b_qids[qi]  # self-exclusion
            row = row[mask]
            ids = ids[mask]
            if len(ids) == 0:
                continue
            # NaN cosines (zero-norm vectors) sort FIRST under Spark's
            # descending order; map them to +inf for the cut/ordering so
            # this route agrees with the crossJoin route on degenerate
            # inputs (the emitted value stays NaN)
            rowk = np.where(np.isnan(row), np.inf, row)
            if len(ids) > k:
                # k-th largest value bounds the exact top-k; ties at the cut
                # stay in `cand` and the lexsort below breaks them by nbr_id
                cut = np.partition(rowk, len(rowk) - k)[len(rowk) - k]
                cand = np.nonzero(rowk >= cut)[0]
            else:
                cand = np.arange(len(ids))
            order = np.lexsort((ids[cand], -rowk[cand]))[:k]
            sel = cand[order]
            out_q.append(np.full(len(sel), b_qids[qi]))
            out_n.append(ids[sel])
            out_c.append(row[sel])
        if out_q:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "nbr_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )
        else:
            yield pd.DataFrame({"query_id": [], "nbr_id": [], "cosine": []})

    scored = (
        embeddings.select(
            F.col(vec_id).alias("nbr_id"),
            F.col("embedding").cast("array<double>").alias("vb"),
        )
        .mapInPandas(fn, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def _hyperplanes_int(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Seeded integer hyperplane weights in [-1000, 1000] — random directions
    (sign test only cares about direction), exactly representable in double,
    and inlineable as SQL literals."""
    rng = np.random.RandomState(seed)
    return rng.randint(-1000, 1001, size=(n_planes, dim)).astype(np.int64)


def _quantized_dots(emb_col, matrix: np.ndarray):
    """array<long> of quantized dot products of ``emb_col`` against every row
    of the integer ``matrix``, inlined as ONE array<array<long>> literal and
    evaluated by a single nested transform/aggregate lambda.

    One small expression tree regardless of row count — building a separate
    zip_with/aggregate tree per matrix row (the previous shape) grows the
    plan linearly and falls out of whole-stage codegen past a few dozen
    rows (~20× slower at nlist≈200, measured)."""
    mat_lit = F.array(
        *[F.array(*[F.lit(int(w)) for w in row]) for row in matrix]
    )
    return F.transform(
        mat_lit,
        lambda row: F.aggregate(
            F.zip_with(
                emb_col,
                row,
                lambda x, y: F.floor(
                    x.cast("double") * y.cast("double") * F.lit(float(_QUANT))
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def _bucket_column(emb_col, planes: np.ndarray):
    """bucket = Σ_p (dot_p > 0) << p, with dot_p computed as a sum of
    floor-quantized per-dimension products. Pure Catalyst expressions —
    stays in whole-stage codegen, no Python worker."""
    dots = _quantized_dots(emb_col, planes)
    # 1 << p as an expression: shiftleft() takes only a literal shift, but
    # 2^p is exact in IEEE double for every plane count we allow (≤ 30)
    bits = F.transform(
        dots,
        lambda d, i: F.when(
            d > 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def add_lsh_bucket(
    embeddings: DataFrame, dim: int, n_planes: int = 12, seed: int = 7
) -> DataFrame:
    planes = _hyperplanes_int(dim, n_planes, seed)
    return embeddings.withColumn("bucket", _bucket_column(F.col("embedding"), planes))


def lsh_ann_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int | None = None,
    seed: int = 7,
    n_probes: int | None = None,
    max_bucket_size: int = 100_000,
    target_bucket_size: int = 1024,
    n_vectors: int | None = None,
    queries: DataFrame | None = None,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k with hyperplane LSH + 1-bit-flip multi-probe.

    ``probe_bits=2`` additionally probes every 2-bit-flip neighbor bucket
    (C(n_probes, 2) extras) — recovers neighbors that crossed two
    hyperplanes, a large recall uplift on clustered data at quadratic probe
    cost (measured in tests/test_ann_recall.py).

    ``queries=None`` (default) answers every corpus vector against the rest
    (the all-pairs/self-join shape); pass a separate ``queries`` DataFrame
    (vec_id, embedding) to search the corpus for just those vectors — the
    corpus side is bucketed once either way.

    Each query probes its own bucket plus ``n_probes`` (default: all
    ``n_planes``) single-bit-flip neighbor buckets, recovering near-misses
    that landed on the other side of exactly one hyperplane. Probe buckets
    are distinct values and every candidate lives in exactly one bucket, so
    no (query, nbr) pair is scored twice — no distinct needed.

    ``n_planes=None`` (default) derives the plane count from the corpus size
    (:func:`derive_n_planes`) so bucket occupancy stays near
    ``target_bucket_size`` at any scale; pass it explicitly for
    reproducibility against a fixed oracle. Pass ``n_vectors`` (the caller
    usually knows the corpus size) to skip the ``count()`` action the
    derivation otherwise pays.

    Skew guard: candidate buckets above ``max_bucket_size`` are dropped
    deterministically and LOGGED with their sizes (never silent)."""
    if n_planes is None:
        n = n_vectors if n_vectors is not None else embeddings.count()
        n_planes = derive_n_planes(n, target_bucket_size)
        logger.info("lsh_ann_topk: derived n_planes=%d", n_planes)
    if n_probes is None:
        n_probes = n_planes
    b = add_lsh_bucket(embeddings, dim, n_planes, seed)
    base = b.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").cast("array<double>").alias("vb"),
        "bucket",
    )
    base = _cap_buckets(base, max_bucket_size, "lsh_ann_topk")
    qb = b if queries is None else add_lsh_bucket(queries, dim, n_planes, seed)
    masks = [0] + [1 << j for j in range(n_probes)]
    if probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_probes)
            for j in range(i + 1, n_probes)
        ]
    probes = qb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("va"),
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
            )
        ).alias("bucket"),
    )
    cos = F.round(_cosine_col(F.col("va"), F.col("vb")), 4)
    scored = (
        probes.join(base, "bucket")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def derive_nlist(
    n_vectors: int, target_cell_size: int = 1024, max_nlist: int = 256
) -> int:
    """Cell count scaled to the corpus: ≈ N / target_cell_size, clamped to
    [2, max_nlist].

    The coarse quantizer is inlined into the plan as literal centroid
    expressions, so nlist must stay modest (plan size grows linearly with
    it).  Past ``max_nlist`` cells the right scale move is hierarchical:
    compose the IVF cell with an LSH bucket prefix
    (``struct(add_lsh_bucket(...).bucket, cell)``) so the join key space is
    the PRODUCT of the two partitioners — 256 cells × 2^30 LSH buckets
    comfortably shards 10^12 vectors at ~4k/key without a single giant
    centroid table."""
    n = max(int(n_vectors), 2)
    return max(2, min(max_nlist, math.ceil(n / max(target_cell_size, 1))))


def _centroids_int(dim: int, nlist: int, seed: int) -> np.ndarray:
    """Seeded integer centroids in [-1000, 1000] — the same reproducibility
    trick as :func:`_hyperplanes_int`: exactly representable in double and
    inlineable as SQL literals, so Spark and DuckDB assign byte-identical
    cells."""
    rng = np.random.RandomState(seed)
    return rng.randint(-1000, 1001, size=(nlist, dim)).astype(np.int64)


def train_centroids_int(
    sample: np.ndarray, nlist: int, seed: int = 11, iters: int = 15
) -> np.ndarray:
    """Deterministic spherical k-means → integer-quantized centroids.

    Random centroids make IVF recall collapse on real (clustered) embedding
    distributions — most Voronoi cells are empty and a few are hot. This
    trains on a driver-side sample instead: seeded kmeans++-style init, a
    fixed number of Lloyd iterations (no data-dependent early exit), unit-
    normalized centroids scaled to integers in [-1000, 1000]. Assignment by
    max quantized dot against equal-norm centroids ≈ max cosine, matching
    the spherical training objective.

    Everything is plain float64 numpy over the SAME sample rows in the SAME
    order, so the Spark query side and the DuckDB oracle generator produce
    bit-identical integer centroids from the same parquet — the trained
    variant stays a fully hash-checked gate."""
    mat = np.asarray(sample, dtype=np.float64)
    if mat.ndim != 2 or len(mat) == 0:
        raise ValueError("training sample must be a non-empty 2-D matrix")
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    unit = mat / np.where(norms > 0, norms, 1.0)[:, None]
    nlist = min(nlist, len(unit))
    rng = np.random.RandomState(seed)
    # kmeans++-style init on the unit sphere: first pick seeded, each next
    # centroid the sample point FARTHEST (min-max, deterministic argmax ties
    # to lowest index) from the chosen set — spreads inits across clusters
    chosen = [int(rng.randint(len(unit)))]
    sims = unit @ unit[chosen[0]]
    for _ in range(1, nlist):
        nxt = int(np.argmin(sims))
        chosen.append(nxt)
        sims = np.maximum(sims, unit @ unit[nxt])
    cents = unit[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(unit @ cents.T, axis=1)
        for c in range(nlist):
            members = unit[assign == c]
            if len(members) == 0:
                continue  # keep previous centroid — deterministic
            m = members.sum(axis=0)
            n = np.sqrt(m @ m)
            if n > 0:
                cents[c] = m / n
    return np.round(cents * 1000.0).astype(np.int64)


def trained_centroids_from_parquet(
    path: str,
    nlist: int,
    seed: int = 11,
    train_sample: int = 16_384,
    iters: int = 15,
) -> np.ndarray:
    """Train centroids from an embeddings parquet file WITHOUT Spark (pyarrow
    driver-side read) — the oracle-SQL generator uses this to inline the same
    centroids the Spark query trains.

    Sampling rule (mirrored bit-for-bit by :func:`_training_sample` on the
    Spark side): rows with ``vec_id < train_sample`` sorted by vec_id — a
    predicate both engines push into the parquet scan. If that id-range
    filter returns fewer than ``train_sample`` rows (sparse ids or a corpus
    smaller than the sample), fall back to the global first-N-by-id (a full
    read, acceptable in exactly that degenerate case)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        path,
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", train_sample)],
    )
    df = tbl.to_pandas().sort_values("vec_id", kind="mergesort").head(train_sample)
    if len(df) < train_sample:
        full = pq.read_table(path, columns=["vec_id", "embedding"])
        df = (
            full.to_pandas()
            .sort_values("vec_id", kind="mergesort")
            .head(train_sample)
        )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    return train_centroids_int(mat, nlist, seed, iters)


def _training_sample(embeddings: DataFrame, train_sample: int) -> np.ndarray:
    """Driver-side training matrix: first ``train_sample`` rows by vec_id,
    fetched through a pushed-down id-range predicate.

    ``orderBy("vec_id").limit(n)`` plans as TakeOrderedAndProject — no sort
    shuffle, but it still scans EVERY row to find the global first-N; at
    10^12 rows that scan is the whole job. With dense 0-based ids (this
    engine's convention for vec_id) the predicate ``vec_id < train_sample``
    reaches the parquet scan as a PushedFilter and reads only the matching
    row groups. Sparse-id / tiny-corpus inputs fall back to the global
    first-N (the old scan), keeping the sample — and therefore the trained
    centroids and the hash-checked oracle parity
    (:func:`trained_centroids_from_parquet` applies the identical two-step
    rule) — unchanged in every case."""
    pdf = (
        embeddings.select("vec_id", "embedding")
        .filter(F.col("vec_id") < F.lit(train_sample))
        .toPandas()
        .sort_values("vec_id", kind="mergesort")
        # duplicate vec_ids could push the id-range filter past
        # train_sample rows; the documented rule is FIRST train_sample
        # rows by vec_id (no-op for dense unique ids)
        .head(train_sample)
    )
    if len(pdf) < train_sample:
        logger.info(
            "_training_sample: id-range filter returned %d < %d rows "
            "(sparse ids or small corpus); falling back to global first-N scan",
            len(pdf),
            train_sample,
        )
        pdf = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(train_sample)
            .toPandas()
            .sort_values("vec_id", kind="mergesort")
        )
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])


def _cell_rank_array(emb_col, centroids: np.ndarray):
    """array<int> of centroid indices sorted by quantized dot DESC, index
    ASC — element 1 is the assignment cell, the first ``nprobe`` elements
    are the probe cells.  Pure Catalyst (transform/aggregate/array_sort) —
    no Python worker, but NOTE Spark evaluates higher-order functions
    interpreted (not codegen), so per-row cost is O(nlist·dim) interpreted
    expr evals: right for modest nlist, use :func:`_cell_rank_pandas` past
    ``_CATALYST_CELL_BUDGET``."""
    dots = _quantized_dots(emb_col, centroids)
    entries = F.transform(
        dots,
        lambda d, i: F.struct((-d).alias("nd"), i.cast("int").alias("idx")),
    )
    return F.transform(F.array_sort(entries), lambda e: e["idx"])


# nlist*dim above which interpreted Catalyst cell assignment loses to the
# Arrow round-trip (measured: nlist=196 × dim=8 = 1568 runs minutes per
# 200k rows interpreted vs seconds vectorized; nlist=8 × dim=64 = 512 — the
# gate shape — is comfortably Catalyst)
_CATALYST_CELL_BUDGET = 512


def _cell_rank_pandas(centroids: np.ndarray):
    """Vectorized (Arrow/numpy) twin of :func:`_cell_rank_array` — BIT-
    IDENTICAL output: floor of IEEE-double products is the same operation in
    numpy and SQL, the quantized per-dimension products are summed as int64
    (order-independent), and the stable argsort of -dots ties by index
    ascending exactly like the (nd, idx) struct sort."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    mat = centroids.astype(np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def cells(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        E = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        dots = np.empty((len(E), len(mat)), dtype=np.int64)
        for c in range(len(mat)):  # per-centroid keeps peak memory O(batch·dim)
            dots[:, c] = (
                np.floor(E * mat[c] * float(_QUANT)).astype(np.int64).sum(axis=1)
            )
        order = np.argsort(-dots, axis=1, kind="stable").astype(np.int32)
        return pd.Series(list(map(list, order)))

    return cells


def ivf_ann_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    nlist: int | None = None,
    nprobe: int = 3,
    seed: int = 11,
    max_cell_size: int = 100_000,
    target_cell_size: int = 1024,
    lsh_prefix_planes: int = 0,
    n_vectors: int | None = None,
    train: bool = False,
    train_sample: int = 16_384,
    centroids: np.ndarray | None = None,
    queries: DataFrame | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Approximate top-k via an IVF-Flat coarse quantizer: every vector is
    assigned to its nearest (max quantized dot) of ``nlist`` seeded
    centroids; each query scores only candidates in its ``nprobe`` nearest
    cells.

    Complements :func:`lsh_ann_topk`: IVF adapts to the data direction
    structure a bit better than random hyperplanes at equal bucket counts
    (cells are Voronoi regions, not axis-ish half-space intersections) and
    ``nprobe`` gives a smooth recall/cost dial without the 2^planes bucket
    explosion.

    Scale shape: assignment is per-row (narrow, zero shuffle); the only
    shuffles are the cell equi-join and the final top-k window, both keyed
    to ≤ ``max_cell_size`` rows per key.  Each candidate lives in exactly
    one cell and probe cells are distinct, so no pair is scored twice.
    Over-cap cells are dropped deterministically and LOGGED (never silent);
    ``nlist=None`` derives the cell count from corpus size
    (:func:`derive_nlist`).

    ``lsh_prefix_planes > 0`` turns on the hierarchical trillion-row shard:
    the join key becomes ``lsh_bucket * nlist + cell``, multiplying the key
    space (2^planes × nlist) without growing the inlined centroid set.
    Candidates must then share the hyperplane bucket too — recall narrows
    to near-duplicates the prefix keeps together, which is exactly the
    regime where 10^12-row ANN is used (the prefix planes are seeded at
    ``seed + 1`` so they are independent of the centroids).

    ``train=True`` replaces the seeded-random centroids with deterministic
    spherical k-means on a driver-side sample (:func:`train_centroids_int` —
    first ``train_sample`` rows ordered by vec_id), the fix for the random-
    centroid recall collapse on clustered data; ``centroids`` overrides both
    (e.g. trained once and reused across queries). ``n_vectors`` skips the
    ``count()`` action the nlist derivation otherwise pays."""
    if nlist is None:
        n = n_vectors if n_vectors is not None else embeddings.count()
        nlist = derive_nlist(n, target_cell_size)
        logger.info("ivf_ann_topk: derived nlist=%d", nlist)
    nprobe = min(nprobe, nlist)
    if centroids is None:
        if train:
            mat = _training_sample(embeddings, train_sample)
            centroids = train_centroids_int(mat, nlist, seed)
        else:
            centroids = _centroids_int(dim, nlist, seed)
    nlist = len(centroids)
    nprobe = min(nprobe, nlist)
    # interpreted-Catalyst cell assignment is O(nlist·dim) per row (higher-
    # order functions never enter codegen): past the budget the vectorized
    # Arrow twin wins by orders of magnitude and is bit-identical
    if impl == "auto":
        impl = "catalyst" if nlist * dim <= _CATALYST_CELL_BUDGET else "pandas"
    if impl == "pandas":
        cells_udf = _cell_rank_pandas(centroids)
        cells_col = lambda: cells_udf(F.col("embedding"))  # noqa: E731
    else:
        cells_col = lambda: _cell_rank_array(F.col("embedding"), centroids)  # noqa: E731

    def with_cells(df):
        out = df.withColumn("_cells", cells_col())
        if lsh_prefix_planes > 0:
            planes = _hyperplanes_int(dim, lsh_prefix_planes, seed + 1)
            prefix = _bucket_column(F.col("embedding"), planes) * F.lit(nlist)
        else:
            prefix = F.lit(0).cast("long")
        return out.withColumn("_prefix", prefix)

    ranked_cells = with_cells(embeddings)
    base = ranked_cells.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").cast("array<double>").alias("vb"),
        (F.col("_prefix") + F.element_at("_cells", 1)).alias("cell"),
    )
    base = _cap_buckets(
        base, max_cell_size, "ivf_ann_topk", key="cell",
        knobs="max_cell_size or nlist",
    )
    q_cells = ranked_cells if queries is None else with_cells(queries)
    probes = q_cells.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("va"),
        F.col("_prefix"),
        F.explode(F.slice("_cells", 1, nprobe)).alias("_probe_cell"),
    ).select(
        "query_id",
        "va",
        (F.col("_prefix") + F.col("_probe_cell")).alias("cell"),
    )
    cos = F.round(_cosine_col(F.col("va"), F.col("vb")), 4)
    scored = (
        probes.join(base, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def ivf_ann_oracle_sql(
    table: str = "embeddings",
    k: int = 5,
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 3,
    seed: int = 11,
    max_cell_size: int = 100_000,
    lsh_prefix_planes: int = 0,
    centroids: np.ndarray | None = None,
) -> str:
    """DuckDB SQL computing the identical IVF result: centroids inlined as
    VALUES, quantized integer dots make cell assignment engine-independent,
    ties broken by centroid index on both sides.  ``lsh_prefix_planes > 0``
    mirrors the hierarchical shard: the key is ``bucket * nlist + cell``
    with the prefix planes seeded at ``seed + 1``, exactly as the Spark
    side.  ``centroids`` overrides the seeded-random set — pass
    :func:`trained_centroids_from_parquet` output to mirror a
    ``train=True`` Spark query."""
    cents = _centroids_int(dim, nlist, seed) if centroids is None else centroids
    nlist = len(cents)
    nprobe = min(nprobe, nlist)
    values = ", ".join(
        f"({c}, {i + 1}, {int(cents[c][i])})" for c in range(nlist) for i in range(dim)
    )
    if lsh_prefix_planes > 0:
        planes = _hyperplanes_int(dim, lsh_prefix_planes, seed + 1)
        pvalues = ", ".join(
            f"({p}, {i + 1}, {int(planes[p][i])})"
            for p in range(lsh_prefix_planes)
            for i in range(dim)
        )
        prefix_ctes = f"""
planes(p, i, w) AS (VALUES {pvalues}),
pdots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.embedding[pl.i]::DOUBLE * pl.w::DOUBLE * {float(_QUANT)}) AS BIGINT)) AS dot
  FROM {table} e, planes pl GROUP BY e.vec_id, pl.p
),
prefixes AS (
  SELECT vec_id,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) * {nlist} AS prefix
  FROM pdots GROUP BY vec_id
),"""
    else:
        prefix_ctes = f"""
prefixes AS (SELECT vec_id, 0::BIGINT AS prefix FROM {table}),"""
    return f"""
WITH cents(c, i, w) AS (VALUES {values}),{prefix_ctes}
dots AS (
  SELECT e.vec_id, ct.c,
         sum(CAST(floor(e.embedding[ct.i]::DOUBLE * ct.w::DOUBLE * {float(_QUANT)}) AS BIGINT)) AS dot
  FROM {table} e, cents ct GROUP BY e.vec_id, ct.c
),
ranked_cells AS (
  SELECT d.vec_id, px.prefix + d.c AS cell,
         row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dot DESC, d.c ASC) AS rn
  FROM dots d JOIN prefixes px ON px.vec_id = d.vec_id
),
base0 AS (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1),
counts AS (SELECT cell, count(*) AS n FROM base0 GROUP BY cell),
base AS (
  SELECT b.vec_id, b.cell FROM base0 b
  JOIN counts c ON b.cell = c.cell WHERE c.n <= {max_cell_size}
),
probes AS (SELECT vec_id AS query_id, cell FROM ranked_cells WHERE rn <= {nprobe}),
cand AS (
  SELECT p.query_id, c.vec_id AS nbr_id
  FROM probes p JOIN base c ON p.cell = c.cell AND p.query_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS cosine
  FROM cand
  JOIN {table} q ON q.vec_id = cand.query_id
  JOIN {table} n ON n.vec_id = cand.nbr_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, nbr_id, cosine, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def lsh_ann_oracle_sql(
    table: str = "embeddings",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 10,
    seed: int = 7,
    n_probes: int | None = None,
    max_bucket_size: int = 100_000,
) -> str:
    """DuckDB SQL computing the identical ANN result: the seeded integer
    plane matrix is inlined as VALUES (the minhash_lsh_oracle_sql trick), the
    quantized dot products make bucket ids engine-independent."""
    if n_probes is None:
        n_probes = n_planes
    planes = _hyperplanes_int(dim, n_planes, seed)
    values = ", ".join(
        f"({p}, {i + 1}, {int(planes[p][i])})"
        for p in range(n_planes)
        for i in range(dim)
    )
    return f"""
WITH planes(p, i, w) AS (VALUES {values}),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.embedding[pl.i]::DOUBLE * pl.w::DOUBLE * {float(_QUANT)}) AS BIGINT)) AS dot
  FROM {table} e, planes pl GROUP BY e.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
),
counts AS (SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket),
base AS (
  SELECT b.vec_id, b.bucket FROM buckets b
  JOIN counts c ON b.bucket = c.bucket WHERE c.n <= {max_bucket_size}
),
probes AS (
  SELECT b.vec_id AS query_id,
         CASE WHEN g.g = -1 THEN b.bucket
              ELSE xor(b.bucket, (1::BIGINT << g.g)) END AS bucket
  FROM buckets b, (SELECT unnest(generate_series(-1, {n_probes - 1})) AS g) g
),
cand AS (
  SELECT p.query_id, c.vec_id AS nbr_id
  FROM probes p JOIN base c ON p.bucket = c.bucket AND p.query_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.nbr_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 4) AS cosine
  FROM cand
  JOIN {table} q ON q.vec_id = cand.query_id
  JOIN {table} n ON n.vec_id = cand.nbr_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, nbr_id, cosine, rank::INT AS rank FROM ranked WHERE rank <= {k}
"""


def embedding_cosine_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    nlist: int | None = None,
    nprobe: int = 3,
    seed: int = 11,
    max_cell_size: int = 100_000,
    target_cell_size: int = 1024,
    n_vectors: int | None = None,
    train: bool = True,
    train_sample: int = 16_384,
    centroids: np.ndarray | None = None,
    impl: str = "auto",
) -> DataFrame:
    """IVF-bucketed cosine pairs — the MODERATE-threshold pair-mining route
    hyperplane LSH can't serve (its pair recall collapses below cosine
    ~0.7, see :func:`odinson_spark.ops.dedup.embedding_cosine_pairs_lsh`).

    Candidates are pairs sharing a (probed) Voronoi cell of the trained
    coarse quantizer: with ``train=True`` (the default — random centroids
    are only useful for fixed-oracle gates) cells track the corpus's actual
    direction clusters, so vectors at cosine ≥ ~0.3 of each other
    overwhelmingly co-occur within ``nprobe`` nearest cells. Symmetric
    probing: pair (a, b) is found when EITHER endpoint's home cell is in
    the other's probe list (LEAST/GREATEST canonicalization + distinct —
    no duplicate pairs, no lost direction).

    Scale shape mirrors :func:`ivf_ann_topk`: assignment is narrow (auto-
    vectorized past ``_CATALYST_CELL_BUDGET``), the only shuffles are the
    cell equi-join (keyed ≤ ``max_cell_size``) and the distinct."""
    if nlist is None:
        n = n_vectors if n_vectors is not None else embeddings.count()
        nlist = derive_nlist(n, target_cell_size)
        logger.info("embedding_cosine_pairs_ivf: derived nlist=%d", nlist)
    nprobe = min(nprobe, nlist)
    if centroids is None:
        if train:
            mat = _training_sample(embeddings, train_sample)
            centroids = train_centroids_int(mat, nlist, seed)
        else:
            centroids = _centroids_int(dim, nlist, seed)
    nlist = len(centroids)
    nprobe = min(nprobe, nlist)
    if impl == "auto":
        impl = "catalyst" if nlist * dim <= _CATALYST_CELL_BUDGET else "pandas"
    if impl == "pandas":
        cells_udf = _cell_rank_pandas(centroids)
        cells_col = cells_udf(F.col("embedding"))
    else:
        cells_col = _cell_rank_array(F.col("embedding"), centroids)
    ranked = embeddings.withColumn("_cells", cells_col)
    base = ranked.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
        F.element_at("_cells", 1).alias("cell"),
    )
    base = _cap_buckets(
        base, max_cell_size, "embedding_cosine_pairs_ivf", key="cell",
        knobs="max_cell_size or nlist",
    )
    probes = ranked.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("va"),
        F.explode(F.slice("_cells", 1, nprobe)).alias("cell"),
    )
    cos = F.round(_cosine_col(F.col("va"), F.col("vb")), 4)
    return (
        probes.join(base, "cell")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            F.least("vec_a", "vec_b").alias("pa"),
            F.greatest("vec_a", "vec_b").alias("pb"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("pa").alias("vec_a"), F.col("pb").alias("vec_b"), "cosine"
        )
        .distinct()
    )


def ivf_pairs_oracle_sql(
    table: str = "embeddings",
    threshold: float = 0.35,
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 3,
    seed: int = 11,
    max_cell_size: int = 100_000,
    centroids: np.ndarray | None = None,
) -> str:
    """DuckDB SQL computing the identical IVF cosine-pair set (the
    :func:`embedding_cosine_pairs_ivf` oracle): centroids inlined as VALUES
    (pass :func:`trained_centroids_from_parquet` output for a train=True
    query), symmetric probe semantics via LEAST/GREATEST + DISTINCT."""
    cents = _centroids_int(dim, nlist, seed) if centroids is None else centroids
    nlist = len(cents)
    nprobe = min(nprobe, nlist)
    values = ", ".join(
        f"({c}, {i + 1}, {int(cents[c][i])})" for c in range(nlist) for i in range(dim)
    )
    return f"""
WITH cents(c, i, w) AS (VALUES {values}),
dots AS (
  SELECT e.vec_id, ct.c,
         sum(CAST(floor(e.embedding[ct.i]::DOUBLE * ct.w::DOUBLE * {float(_QUANT)}) AS BIGINT)) AS dot
  FROM {table} e, cents ct GROUP BY e.vec_id, ct.c
),
ranked_cells AS (
  SELECT vec_id, c AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c ASC) AS rn
  FROM dots
),
base0 AS (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1),
counts AS (SELECT cell, count(*) AS n FROM base0 GROUP BY cell),
base AS (
  SELECT b.vec_id, b.cell FROM base0 b
  JOIN counts c ON b.cell = c.cell WHERE c.n <= {max_cell_size}
),
probes AS (SELECT vec_id, cell FROM ranked_cells WHERE rn <= {nprobe}),
cand AS (
  SELECT DISTINCT least(p.vec_id, b.vec_id) AS vec_a,
                  greatest(p.vec_id, b.vec_id) AS vec_b
  FROM probes p JOIN base b ON p.cell = b.cell AND p.vec_id <> b.vec_id
),
scored AS (
  SELECT cand.vec_a, cand.vec_b,
         round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) AS cosine
  FROM cand
  JOIN {table} x ON x.vec_id = cand.vec_a
  JOIN {table} y ON y.vec_id = cand.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}
"""
