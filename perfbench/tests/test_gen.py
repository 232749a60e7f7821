"""Seeded generator: the same seed writes byte-identical inputs.

Run: python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.Sizes(repos_files=30, dedup_docs=60, dedup_vectors=40, corpus_docs=80)


def _digests(root, seed):
    out = {}
    for workload, tables in (("kg_build", ["repos"]), ("dedup_ann", ["documents", "embeddings"]),
                             ("index_serve", ["corpus"])):
        for name, path in gen.ensure(str(root), seed, workload, tables, SMALL).items():
            with open(path, "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _digests(tmp_path / "a", 5) == _digests(tmp_path / "b", 5)


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _digests(tmp_path / "a", 5), _digests(tmp_path / "b", 6)
    assert all(a[k] != b[k] for k in a)


def test_text_tables_use_the_gate_column_sets(tmp_path):
    paths = gen.ensure(str(tmp_path), 3, "dedup_ann", ["documents", "embeddings"], SMALL)
    assert pq.read_schema(paths["documents"]).names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert pq.read_schema(paths["embeddings"]).names == ["vec_id", "embedding", "label"]


def test_query_mix_is_seeded_and_covers_every_shape():
    texts = gen.make_corpus(4, 600)["text"].to_pylist()
    mix = workloads.query_mix(4, 40, texts)
    assert mix == workloads.query_mix(4, 40, texts)
    assert {sub for kind, sub, _ in mix if kind == "search"} == set(workloads.SHAPES)
    assert {sub for kind, sub, _ in mix if kind == "write"} == {"add", "delete", "update"}


def test_components_reference_is_min_label():
    df = workloads._components_frame([(3, 1), (1, 4), (5, 6)], 7)
    assert df["canonical_id"].tolist() == [0, 1, 2, 1, 1, 5, 5]


def test_clusters_reference_matches_the_recursive_cte_oracle(tmp_path):
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import __spark_entry__ as em
    from tools.check_correctness import value_hash

    paths = gen.ensure(str(tmp_path), 9, "dedup_ann", ["documents", "embeddings"], SMALL)
    data_dir = os.path.dirname(paths["documents"])
    con = duckdb.connect()
    con.execute("PRAGMA disable_progress_bar")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{paths['documents']}'")
    oracle = con.execute(em.oracle_sql(data_dir)["dedup_clusters"]).df()
    con.close()
    ref = workloads._oracle_hashes(data_dir)["dedup_clusters"]
    assert ref["rows"] == len(oracle) and ref["hash"] == value_hash(oracle)
