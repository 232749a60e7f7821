"""Regressions for the round-1 advisory findings: prefilter soundness on
non-ASCII text, incoming/outgoing prefilter columns, symmetric metadata
normalization, deterministic salting, connected-components convergence."""

import contextlib
import logging
import math

import pytest
from pyspark.sql import functions as F

from odinson_spark.lang.metadata import compile_metadata_query
from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.components import connected_components_star
from odinson_spark.pipeline.extract import apply_prefilter, extract_mentions_df, tokenize_documents
from odinson_spark.pipeline.oneshot import extract_one_shot
from odinson_spark.pipeline.skew import salted_repartition


def _grammar(pattern):
    g = f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
    extractors, _ = RuleReader().compile_rules(g)
    return extractors


# --- text prefilter must never drop a matchable non-ASCII doc ---------------


def test_text_prefilter_unicode_soundness(spark):
    # "Café" normalizes to norm-token "cafe"; lower(text) does NOT contain
    # "cafe", so a bare contains() prefilter would silently drop doc 1.
    docs = spark.createDataFrame(
        [
            (1, "the Café opened", "fr"),
            (2, "plain cafe here", "en"),
            (3, "nothing relevant", "en"),
            (4, "ＦＵＬＬｗｉｄｔｈ café text", "en"),  # NFKC + combining accent
        ],
        "doc_id long, text string, lang string",
    )
    extractors = _grammar("[norm=cafe]")
    with_pf = extract_one_shot(docs, extractors, apply_text_prefilter=True)
    without_pf = extract_one_shot(docs, extractors, apply_text_prefilter=False)
    key = lambda r: (r.doc_id, r.start, r.end)
    got = sorted(map(key, with_pf.collect()))
    want = sorted(map(key, without_pf.collect()))
    assert got == want
    assert {r[0] for r in got} == {"1", "2", "4"}
    # and the prefilter still prunes: pure-ASCII non-matching doc 3 is cut
    # before the matcher (prefilter necessary-condition holds)


def test_text_prefilter_still_prunes_ascii(spark):
    docs = spark.createDataFrame(
        [(1, "fast table", "en"), (2, "nothing here", "en")],
        "doc_id long, text string, lang string",
    )
    extractors = _grammar("fast")
    from odinson_spark.pipeline.oneshot import text_prefilter_column
    from odinson_spark.plans.prefilter import pf_or, prefilter_of

    pf = pf_or([prefilter_of(e.program) for e in extractors])
    kept = docs.filter(text_prefilter_column(pf)).select("doc_id").collect()
    assert [r.doc_id for r in kept] == [1]


# --- [incoming=]/[outgoing=] prefilter renders against *_flat ----------------


def test_inout_token_constraint_prefilter(spark):
    docs = spark.createDataFrame(
        [(1, "fast table now", "en"), (2, "solo", "en")],
        "doc_id long, text string, lang string",
    )
    sents = tokenize_documents(docs)
    extractors = _grammar("[outgoing=next]")
    filtered = apply_prefilter(sents, extractors)  # must not AnalysisException
    rows = filtered.select("doc_id").distinct().collect()
    # doc 2 is a single token: no edges at all -> pruned by the prefilter
    assert [r.doc_id for r in rows] == ["1"]
    m = extract_mentions_df(filtered, extractors).collect()
    # tokens 0 and 1 of doc 1 have an outgoing next edge; token 2 does not
    assert sorted((r.doc_id, r.start) for r in m) == [("1", 0), ("1", 1)]
    # incoming variant as well
    extractors = _grammar("[incoming=next]")
    m = extract_mentions_df(apply_prefilter(sents, extractors), extractors).collect()
    assert sorted((r.doc_id, r.start) for r in m) == [("1", 1), ("1", 2)]


# --- norm synonym union (raw + word variants at the same position) -----------


def test_norm_synonym_union_raw_and_word(spark, tmp_path):
    # reference indexes normalized variants of BOTH raw and word as
    # same-position synonyms (OdinsonIndexWriter.scala:174-182); a corpus
    # where an NLP pipeline corrected word ("schoen") away from raw ("Schön")
    # must match [norm=...] queries against either variant
    import json

    from odinson_spark.sources.document_json import read_document_json

    doc = {
        "id": "d1",
        "sentences": [
            {
                "numTokens": 2,
                "fields": [
                    {
                        "$type": "ai.lum.odinson.TokensField",
                        "name": "raw",
                        "tokens": ["Schön", "tag"],
                    },
                    {
                        "$type": "ai.lum.odinson.TokensField",
                        "name": "word",
                        "tokens": ["schoen", "tag"],
                    },
                ],
            }
        ],
    }
    p = tmp_path / "docs.jsonl"
    p.write_text(json.dumps(doc) + "\n")
    sents = read_document_json(spark, str(p))
    for term, expect in (("schoen", 1), ("schon", 1), ("SCHÖN", 1), ("nope", 0)):
        extractors = _grammar(f"[norm={term}]")
        # through the staged path WITH the prefilter: both the scan filter
        # and the matcher must honor the union
        m = extract_mentions_df(apply_prefilter(sents, extractors), extractors)
        assert m.count() == expect, term


def test_norm_alt_absent_for_deterministic_tokenizers(spark):
    docs = spark.createDataFrame(
        [(1, "plain text here", "en")], "doc_id long, text string, lang string"
    )
    rows = tokenize_documents(docs).select("norm_alt").collect()
    assert all(r.norm_alt is None for r in rows)


# --- metadata string matching normalizes both sides ---------------------------


def test_metadata_eq_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, "Mr Darçy"), (2, "mr darcy"), (3, "MR DARCY"), (4, "someone else")],
        "doc_id long, character string",
    )
    got = df.filter(compile_metadata_query("character == 'mr darcy'"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 3]
    # and the reverse orientation (literal on the left)
    got = df.filter(compile_metadata_query("'MR DARÇY' == character"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 3]


def test_metadata_contains_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, "la Straße grande"), (2, "la strasse grande"), (3, "elsewhere")],
        "doc_id long, venue string",
    )
    got = df.filter(compile_metadata_query("venue contains 'strasse'"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


def test_metadata_nested_folds_column_side(spark):
    df = spark.createDataFrame(
        [(1, [{"name": "José"}]), (2, [{"name": "jose"}]), (3, [{"name": "ana"}])],
        "doc_id long, authors array<struct<name:string>>",
    )
    got = df.filter(compile_metadata_query("authors{ name == 'jose' }"))
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


# --- deterministic salting -----------------------------------------------------


def test_salted_repartition_is_deterministic(spark):
    df = spark.createDataFrame(
        [(f"repo{i % 3}", f"path{i}", f"content {i}") for i in range(100)],
        "repo string, path string, content string",
    )
    a = (
        salted_repartition(df, ["repo"], 8)
        .withColumn("pid", F.spark_partition_id())
        .select("path", "pid")
        .collect()
    )
    b = (
        salted_repartition(df, ["repo"], 8)
        .withColumn("pid", F.spark_partition_id())
        .select("path", "pid")
        .collect()
    )
    assert {r.path: r.pid for r in a} == {r.path: r.pid for r in b}
    # rows actually spread beyond one partition per hot key
    pids_repo0 = {r.pid for r in a if r.path in {f"path{i}" for i in range(0, 100, 3)}}
    assert len(pids_repo0) > 1


# --- connected components: convergence guard + correctness -------------------


def _path_graph(spark, n):
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    return verts, edges


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    """Set spark.sql.autoBroadcastJoinThreshold (the CC route's byte budget;
    -1 forces the star rounds) and restore it afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _cc_routed(spark, caplog, verts, edges, threshold=None):
    """(labels, route record) of one connected_components_star call."""
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="odinson_spark.pipeline.components"):
        if threshold is None:
            labels = connected_components_star(verts, edges).collect()
        else:
            with _broadcast_threshold(spark, threshold):
                labels = connected_components_star(verts, edges).collect()
    recs = [r.route_decision for r in caplog.records if hasattr(r, "route_decision")]
    assert len(recs) == 1
    return {r.id: r.component for r in labels}, recs[0]


def test_cc_propagation_raises_on_nonconvergence(spark):
    # one round cannot collapse a 12-path into a star: the budget guard must
    # raise, never hand back partial labels (a 12-path fits the broadcast
    # budget, so the star rounds are forced)
    verts, edges = _path_graph(spark, 12)
    with _broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components_star(verts, edges, max_iterations=1)


@pytest.mark.slow
def test_cc_star_converges_on_long_path(spark):
    verts, edges = _path_graph(spark, 50)
    with _broadcast_threshold(spark, "-1"):
        out = connected_components_star(verts, edges).collect()
    assert len(out) == 50 and all(r.component == 0 for r in out)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_cc_local_finish_equals_star_rounds(spark, caplog, id_type):
    import random

    rng = random.Random(11)
    n = 80
    key = (lambda i: i) if id_type == "long" else (lambda i: f"n{i}")
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges += [(a, a) for a, _ in edges[:5]]  # self-loops
    edges += edges[5:15] + [(b, a) for a, b in edges[15:30]]  # dups, reversed
    rng.shuffle(edges)
    # ids 60..79 are isolated vertices
    verts = spark.createDataFrame([(key(i),) for i in range(n)], f"id {id_type}")
    edf = spark.createDataFrame(
        [(key(a), key(b)) for a, b in edges], f"id_a {id_type}, id_b {id_type}"
    )
    local, rec = _cc_routed(spark, caplog, verts, edf)
    assert rec["route"] == "local" and rec["star_rounds"] == 0
    star, rec = _cc_routed(spark, caplog, verts, edf, threshold="-1")
    assert rec["route"] == "star" and rec["star_rounds"] >= 1
    assert local == star and len(local) == n
    assert all(local[key(i)] == key(i) for i in range(60, n))


def test_cc_local_finish_on_long_shuffled_path(spark, caplog):
    # 100k-node path whose ids are a bijection of 0..n-1 (i*a+b mod n,
    # gcd(a, n) = 1): one component, min id 0, diameter n-1
    n, a, b = 100_000, 7919, 12345
    verts = spark.range(n)
    perm = lambda c: (c * a + b) % n  # noqa: E731
    edges = spark.range(n - 1).select(
        perm(F.col("id")).alias("id_a"), perm(F.col("id") + 1).alias("id_b")
    )
    labels, rec = _cc_routed(spark, caplog, verts, edges)
    assert rec["route"] == "local" and rec["edge_rows"] == n - 1
    assert len(labels) == n and set(labels.values()) == {0}
    # hooking halves a path per round: ~log2(n) rounds, not ~n
    assert rec["hook_rounds"] <= 2 * math.ceil(math.log2(n))


def test_cc_route_boundary(spark, caplog):
    # a 40-edge long graph is 640 Arrow bytes: above a 300-byte budget it
    # must take the star rounds, and give the labels the local finish gives
    verts = spark.createDataFrame([(i,) for i in range(50)], "id long")
    edf = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(40)], "id_a long, id_b long"
    )
    local, rec = _cc_routed(spark, caplog, verts, edf)
    assert rec["route"] == "local" and rec["estimate"] <= rec["cap"]
    star, rec = _cc_routed(spark, caplog, verts, edf, threshold="300")
    assert rec["route"] == "star" and rec["cap"] == 300 and rec["star_rounds"] >= 1
    assert local == star


def test_cc_local_route_job_pin(spark):
    # the local finish is a checkpoint of the distinct edges plus one
    # bounded collect: no per-round jobs
    sc = spark.sparkContext
    verts, edges = _path_graph(spark, 30)
    connected_components_star(verts, edges)  # warm-up
    sc.setJobGroup("cc_local_pin", "connected_components_star local route")
    try:
        connected_components_star(verts, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("cc_local_pin")) <= 4


def test_cc_star_matches_propagation_on_random_graph(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.id: r.component for r in connected_components_star(verts, edf).collect()}
    # reference: union-find with the min id as each root
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    assert star == {i: find(i) for i in range(n)}
