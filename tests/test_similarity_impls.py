"""Equivalence tests for the ANN implementation variants: the vectorized
Arrow cell assignment must be BIT-identical to the interpreted Catalyst
expression (same quantized integer arithmetic), and a queries= subset must
return exactly the self-join's rows for those ids."""

import pytest
from pyspark.sql import functions as F

from odinson_spark.ops import ann_eval as ae
from odinson_spark.ops import dedup as dd
from odinson_spark.ops import similarity as sim


@pytest.fixture(scope="module")
def corpus(spark):
    vecs = ae.clustered_corpus(n=400, dim=16, n_clusters=8, seed=9)
    df = ae.corpus_df(spark, vecs).cache()
    df.count()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivf_catalyst_and_pandas_assignments_identical(corpus):
    a = sim.ivf_ann_topk(corpus, k=5, dim=16, nlist=8, nprobe=3, impl="catalyst")
    b = sim.ivf_ann_topk(corpus, k=5, dim=16, nlist=8, nprobe=3, impl="pandas")
    ra, rb = _rows(a), _rows(b)
    assert ra and ra == rb


def test_ivf_auto_routes_by_budget():
    # the budget boundary: gate shape (8×64=512) stays Catalyst; anything
    # bigger must route to the Arrow path
    assert 8 * 64 <= sim._CATALYST_CELL_BUDGET
    assert 196 * 8 > sim._CATALYST_CELL_BUDGET


def test_lsh_queries_subset_matches_self_join(corpus):
    full = sim.lsh_ann_topk(corpus, k=5, dim=16, n_planes=6)
    qs = corpus.filter(F.col("vec_id") < 20)
    sub = sim.lsh_ann_topk(corpus, k=5, dim=16, n_planes=6, queries=qs)
    assert _rows(sub) == _rows(full.filter(F.col("query_id") < 20))


def test_ivf_queries_subset_matches_self_join(corpus):
    full = sim.ivf_ann_topk(corpus, k=5, dim=16, nlist=8, nprobe=3)
    qs = corpus.filter(F.col("vec_id") < 20)
    sub = sim.ivf_ann_topk(corpus, k=5, dim=16, nlist=8, nprobe=3, queries=qs)
    assert _rows(sub) == _rows(full.filter(F.col("query_id") < 20))


def test_ivf_queries_subset_matches_self_join_with_prefix(corpus):
    full = sim.ivf_ann_topk(
        corpus, k=5, dim=16, nlist=8, nprobe=3, lsh_prefix_planes=4
    )
    qs = corpus.filter(F.col("vec_id") < 20)
    sub = sim.ivf_ann_topk(
        corpus, k=5, dim=16, nlist=8, nprobe=3, lsh_prefix_planes=4, queries=qs
    )
    assert _rows(sub) == _rows(full.filter(F.col("query_id") < 20))


def test_cosine_topk_routes_round_exact_halfway_alike(spark):
    # integer vectors with exact norms: query (1,0,0,0,0) against two
    # vectors of norm 20000 gives cosines 1/20000 = 5e-05 and 3/20000 =
    # 0.00015, both exact ties at 4 decimals. Spark rounds HALF_UP (0.0001,
    # 0.0002); np.round, half-to-even, gives 0.0 and 0.0001.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 19999.0, 199.0, 19.0, 6.0]),
            (2, [3.0, 19999.0, 199.0, 17.0, 10.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    numpy_route = _rows(sim.cosine_topk(emb, q, k=2))
    cross_join = _rows(sim.cosine_topk(emb, q, k=2, max_broadcast_queries=0))
    assert cross_join == [(0, 1, 0.0001, 2), (0, 2, 0.0002, 1)]
    assert numpy_route == cross_join
    # the exact numpy route of embedding_cosine_pairs rounds as Spark does too
    pairs = _rows(dd.embedding_cosine_pairs(emb, threshold=0.0).filter("vec_a = 0"))
    assert pairs == [(0, 1, 0.0001), (0, 2, 0.0002)]
