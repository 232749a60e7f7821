"""The benchmark workloads: ``kg_serve`` (``kg_build`` then ``index_serve``)
and ``dedup_ann``.

Each workload is a closed loop: one client, the next call starts only after
the previous one returned. ``run(ctx)`` runs a fixed schedule of operations,
checks every output, and returns a :class:`Result`. Checks run outside the
timed regions. The schedule depends on ``ctx.seconds`` only (see
:func:`scale`), never on how fast the host is, so every run with the same
``--seconds`` attempts the same operations.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import mean, median

import numpy as np
import pyarrow.parquet as pq

import gen


# --seconds per base schedule: on a 4-core host the operations of one base
# schedule take about 20 s (dedup_ann) and 30-40 s (kg_serve)
BASE_SECONDS = 20


def scale(seconds: float) -> int:
    """How many base schedules a run of ``seconds`` does (at least one)."""
    return max(1, round(seconds / BASE_SECONDS))


@dataclass
class Op:
    kind: str
    wall_s: float
    ok: bool = True
    error: str = ""


@dataclass
class Result:
    ops: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    mismatches: int = 0
    throughput: float = 0.0  # workload items per second of timed work
    op_ms: float = 0.0  # typical wall of the workload's unit operation
    units: int = 0  # builds, rounds or searches: the per-layer denominator

    def add(self, kind: str, wall_s: float, ok: bool = True, error: str = "") -> Op:
        op = Op(kind, wall_s, ok, error)
        self.ops.append(op)
        if not ok and not error:
            self.mismatches += 1
        return op

    def walls(self, kind: str) -> list:
        return [o.wall_s for o in self.ops if o.kind == kind]


def _read_json(path: str):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _short(e: BaseException) -> str:
    """The innermost Python error line (Spark wraps worker tracebacks)."""
    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()]
    inner = [ln for ln in lines if ln.split(":")[0].endswith(("Error", "Exception"))]
    return f"{type(e).__name__}: {(inner[-1] if inner else lines[0] if lines else '')[:200]}"


def _dir_bytes(path: str) -> tuple:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------

# multi-rule code grammar: a quantified surface rule, >arg / <assign and
# >next* traversals, an event rule and a priority-2 rule reading state (@Call)
CODE_GRAMMAR = """
rules:
  - name: call-site
    label: Call
    type: basic
    priority: 1
    pattern: |
      [entity=CALL] [word="("] [tag=/IDENT|NUM|STR/ | word=","]{1,7} [word=")"]
  - name: call-args
    label: CallArg
    type: event
    priority: 1
    pattern: |
      trigger = [entity=CALL]
      subject = <assign [entity=VAR]
      object = >arg [tag=IDENT]
  - name: returns-call
    label: Returns
    type: basic
    priority: 1
    pattern: |
      (?<ret> [word=return]) >next* (?<callee> [entity=CALL])
  - name: assigned-call
    label: Assigned
    type: basic
    priority: 2
    pattern: |
      (?<var> [entity=VAR]) >assign (?<call> @Call)
"""

_LINEAGE_FREE = {"nodes": ("node_id", "canonical_id", "surface", "label", "n_mentions"),
                 "edges": ("src_id", "dst_id", "pred", "rule", "doc_id", "sent_id", "content_sha")}


def _fused_check(ctx, res: Result, repos_path: str, extractors, staged_path: str) -> None:
    """The fused one-shot path over the same repos must give the staged
    build's mentions (the invariant tests/test_plans.py::
    test_fused_equals_staged pins). A crash counts as a failed operation."""
    from odinson_spark.pipeline.oneshot import extract_one_shot

    cols = ["doc_id", "sent_id", "start", "end", "found_by"]
    staged = sorted(tuple(r[c] for c in cols)
                    for r in pq.read_table(staged_path, columns=cols).to_pylist())
    t0 = time.perf_counter()
    with ctx.tracer.span("check.fused"):
        try:
            fused = extract_one_shot(ctx.spark.read.parquet(repos_path), extractors,
                                     mode="code", use_state=True)
            got = sorted(tuple(r) for r in fused.select(*cols).collect())
            res.add("check.fused", time.perf_counter() - t0, got == staged)
        except Exception as e:  # noqa: BLE001 - reported as a failed operation
            res.add("check.fused", time.perf_counter() - t0, False, _short(e))


WARM_BUILDS = 1  # builds after the cold first one, per base schedule


def kg_build(ctx) -> Result:
    from odinson_spark.pipeline.extract import (
        apply_prefilter, extract_mentions_df, tokenize_repos, triples_from_mentions,
    )
    from odinson_spark.pipeline.materialize import build_graph
    from tools.check_correctness import value_hash

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    repos_path = ctx.inputs["repos"]
    n_files = pq.read_metadata(repos_path).num_rows
    extractors = ctx.state["extractors"]
    digest_path = os.path.join(os.path.dirname(repos_path), "kg_value_hashes.json")
    known = _read_json(digest_path)
    builds = []
    out_root = os.path.join(ctx.scratch, "kg")

    # the first build runs cold (JIT, codegen, first Python UDF calls); it
    # is checked and printed, and the throughput is the median of the rest
    for b in range(1 + WARM_BUILDS * scale(ctx.seconds)):
        out = os.path.join(out_root, f"b{b}")
        p = {t: os.path.join(out, t) for t in ("sentences", "mentions", "triples", "nodes", "edges")}
        t0 = time.perf_counter()
        with tr.span("kg.build"):
            repos = spark.read.parquet(repos_path)
            with tr.span("tokenizer"):
                tokenize_repos(repos).write.parquet(p["sentences"])
            with tr.span("match"):
                sents = apply_prefilter(spark.read.parquet(p["sentences"]), extractors)
                extract_mentions_df(sents, extractors, use_state=True).write.parquet(p["mentions"])
            with tr.span("pipeline.extract"):
                triples_from_mentions(spark.read.parquet(p["mentions"])).write.parquet(p["triples"])
            with tr.span("pipeline.graph"):
                nodes, edges = build_graph(spark.read.parquet(p["triples"]))
            with tr.span("pipeline.materialize"):
                nodes.write.parquet(p["nodes"])
                edges.write.parquet(p["edges"])
        wall = time.perf_counter() - t0
        builds.append(wall)
        digests = {t: value_hash(pq.read_table(p[t], columns=list(cols)).to_pandas())
                   for t, cols in _LINEAGE_FREE.items()}
        if known is None:
            known = digests
            _write_json(digest_path, digests)
        res.add("kg.build", wall, digests == known)
        if ctx.trace:
            tr.kg_counts(p, sents)
        if len(builds) == 1:
            _fused_check(ctx, res, repos_path, extractors, p["mentions"])
        shutil.rmtree(out, ignore_errors=True)

    warm = builds[1:]
    res.metrics["kg_files_per_s"] = (median(n_files / w for w in warm), "files/s")
    res.metrics["kg_build_p50_s"] = (median(warm), "s")
    res.metrics["kg_cold_build_s"] = (builds[0], "s")
    res.metrics["kg_builds"] = (len(builds), "count")
    res.throughput = res.metrics["kg_files_per_s"][0]
    res.op_ms = res.metrics["kg_build_p50_s"][0] * 1e3
    res.units = len(builds)
    return res


# ---------------------------------------------------------------------------
# dedup_ann
# ---------------------------------------------------------------------------

DEDUP = ("dedup_minhash_lsh", "dedup_clusters", "dedup_ngram_jaccard", "dedup_simhash_pairs")
ANN = ("ann_topk", "ann_ivf")


def _components_frame(pairs, n_docs: int):
    """Min-label connected components over undirected pairs (union-find)."""
    import pandas as pd

    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": range(n_docs), "canonical_id": [find(i) for i in range(n_docs)]})


def _oracle_hashes(data_dir: str) -> dict:
    """DuckDB oracle results for the six callables, hashed with the repo's
    own value-hash rule (computed once per seed).

    ``dedup_clusters`` is the one exception to running its oracle text: that
    recursive CTE re-evaluates the whole minhash CTE chain on every
    recursion step (5-15 s per seed here). Its reference is the same
    definition — each document's min doc_id over the connected components
    of the ``dedup_minhash_lsh`` oracle pairs — computed by union-find."""
    path = os.path.join(data_dir, "oracle_hashes.json")
    cached = _read_json(path)
    if cached is not None:
        return cached
    import duckdb

    import __spark_entry__ as em
    from tools.check_correctness import value_hash

    con = duckdb.connect()
    con.execute("PRAGMA disable_progress_bar")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracles = em.oracle_sql(data_dir)
    frames = {name: con.execute(oracles[name]).df() for name in DEDUP + ANN if name != "dedup_clusters"}
    con.close()
    pairs = frames["dedup_minhash_lsh"][["doc_a", "doc_b"]].itertuples(index=False)
    n_docs = pq.read_metadata(os.path.join(data_dir, "documents.parquet")).num_rows
    frames["dedup_clusters"] = _components_frame(pairs, n_docs)
    out = {name: {"rows": len(df), "cols": sorted(df.columns), "hash": value_hash(df)}
           for name, df in frames.items()}
    _write_json(path, out)
    return out


def dedup_ann(ctx) -> Result:
    import __spark_entry__ as em
    from odinson_spark.ops import dedup as dd
    from odinson_spark.ops import similarity as sim
    from tools.check_correctness import value_hash

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    data_dir = os.path.dirname(ctx.inputs["documents"])
    n_docs = pq.read_metadata(ctx.inputs["documents"]).num_rows
    n_vecs = pq.read_metadata(ctx.inputs["embeddings"]).num_rows
    ref = _oracle_hashes(data_dir)
    qs = em.queries()
    rounds_dedup, rounds_ann = [], []
    for _ in range(scale(ctx.seconds)):
        walls = {}
        for name in DEDUP + ANN:
            t0 = time.perf_counter()
            with tr.span(f"q.{name}"):
                pdf = qs[name](spark, data_dir).toPandas()
            walls[name] = time.perf_counter() - t0
            r = ref[name]
            ok = (len(pdf) == r["rows"] and sorted(pdf.columns) == r["cols"]
                  and value_hash(pdf) == r["hash"])
            res.add(name, walls[name], ok)
            if ctx.trace:
                tr.count(f"rows.{name}", len(pdf))
        rounds_dedup.append(sum(walls[n] for n in DEDUP))
        rounds_ann.append(sum(walls[n] for n in ANN))
    if ctx.trace:
        sig = inspect.signature
        tr.count("ops.dedup.ngram_route",
                 int(n_docs <= sig(dd.ngram_jaccard_pairs).parameters["max_broadcast_docs"].default))
        tr.count("ops.similarity.topk_route",
                 int(10 <= sig(sim.cosine_topk).parameters["max_broadcast_queries"].default))
    res.metrics["dedup_docs_per_s"] = (median(n_docs / w for w in rounds_dedup), "docs/s")
    res.metrics["ann_vectors_per_s"] = (median(n_vecs / w for w in rounds_ann), "vectors/s")
    res.metrics["dedup_rounds"] = (len(rounds_dedup), "count")
    rounds = [a + b for a, b in zip(rounds_dedup, rounds_ann)]
    # one round processes the document table four times and the vector
    # table twice
    res.throughput = median((4 * n_docs + 2 * n_vecs) / w for w in rounds)
    res.op_ms = median(rounds) * 1e3
    res.units = len(rounds)
    return res


# ---------------------------------------------------------------------------
# index_serve
# ---------------------------------------------------------------------------


SHAPES = ("head", "tail", "regex", "fuzzy", "phrase", "edge", "page2")
WRITE_EVERY = len(SHAPES) + 1  # a rotation: a write, then one search of each shape
WRITES = ("delete", "add", "update")  # the rotations' write batches, in turn
WRITE_DOCS = 10
# Query terms are drawn from document-frequency bands of the seed's corpus,
# so every seed asks equally selective questions: a head term is one of the
# eight most frequent words (scan route), a mid term is in 3-4 % of the
# documents (under the engine's 10 % candidate cap) and a tail term is in
# 2-4 documents (index route).
MID_FRAC = (0.03, 0.04)
TAIL_DF = (2, 4)


def query_mix(seed: int, n: int, texts) -> list:
    """The seeded closed-loop request sequence over a corpus (``texts``):
    rotations of a write batch (delete, add, update, in turn) followed by one
    search of each of the seven shapes; ``n`` requests in all."""
    from collections import Counter

    df = Counter(w for t in texts for w in set(t.split()))
    by_df = sorted(df, key=lambda w: (-df[w], w))
    lo, hi = (int(f * len(texts)) for f in MID_FRAC)
    bands = {
        "head": by_df[:8],
        "mid": [w for w in by_df if lo <= df[w] <= hi],
        "tail": [w for w in by_df if TAIL_DF[0] <= df[w] <= TAIL_DF[1]],
    }
    rng = gen._rng(seed, "queries")

    def pick(band):
        words = bands[band]
        return words[int(rng.integers(0, len(words)))]

    pattern = {
        "head": lambda: pick("head"),
        "tail": lambda: pick("tail"),
        "regex": lambda: f"[norm=/{pick('tail')[:-1]}.*/]",
        "fuzzy": lambda: f"{pick('tail')}~",
        "phrase": lambda: f"{pick('mid')} []{{0,3}} {pick('tail')}",
        "edge": lambda: f"<s> {pick('mid')}",
        "page2": lambda: pick("head"),
    }
    out, n_search, n_write = [], 0, 0
    for i in range(n):
        if i % WRITE_EVERY == 0:
            out.append(("write", WRITES[n_write % 3], int(rng.integers(0, 1 << 30))))
            n_write += 1
        else:
            shape = SHAPES[n_search % len(SHAPES)]
            out.append(("search", shape, pattern[shape]()))
            n_search += 1
    return out


def _page_keys(rows) -> list:
    return [(r.doc_id, r.sent_id, r.start, r.end, r.text) for r in rows]


def _write_batch(spark, corpus_pdf, op: str, wseed: int, next_id: list):
    """Sentences for one write batch (add: new docs; update: changed texts
    of live docs; delete: ids)."""
    from odinson_spark.pipeline.extract import tokenize_documents

    rng = np.random.Generator(np.random.PCG64(wseed))
    if op == "delete":
        return [str(x) for x in rng.choice(len(corpus_pdf), WRITE_DOCS, replace=False).tolist()]
    if op == "add":
        ids = list(range(next_id[0], next_id[0] + WRITE_DOCS))
        next_id[0] += WRITE_DOCS
        src = corpus_pdf.iloc[rng.choice(len(corpus_pdf), WRITE_DOCS, replace=False)]
        texts = [t[::-1] if k % 2 else t for k, t in enumerate(src["text"])]
    else:
        pick = corpus_pdf.iloc[rng.choice(len(corpus_pdf), WRITE_DOCS, replace=False)]
        ids = pick["doc_id"].tolist()
        texts = [" ".join(reversed(t.split(" "))) for t in pick["text"]]
    docs = spark.createDataFrame(
        [(int(i), t, "en") for i, t in zip(ids, texts)], "doc_id long, text string, lang string"
    )
    return tokenize_documents(docs)


def index_serve(ctx, before=None) -> Result:
    """``TermIndex.build``, then one request rotation per base schedule.
    ``before``, when given, runs after the build, before the first request."""
    from odinson_spark.index import TermIndex
    from odinson_spark.pipeline.extract import apply_prefilter, combined_prefilter, tokenize_documents
    from odinson_spark.search import SearchEngine

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    corpus_path = ctx.inputs["corpus"]
    corpus_pdf = pq.read_table(corpus_path, columns=["doc_id", "text"]).to_pandas()
    idx_path = os.path.join(ctx.scratch, "index")
    ref_path = os.path.join(os.path.dirname(corpus_path), "search_refs.json")
    refs = _read_json(ref_path) or {}
    refs_dirty = False

    t0 = time.perf_counter()
    with tr.span("index.build"):
        idx = TermIndex.build(tokenize_documents(spark.read.parquet(corpus_path)), idx_path)
    res.add("index.build", time.perf_counter() - t0)
    eng = idx.engine()
    if ctx.trace:
        files, nbytes = _dir_bytes(idx_path)
        tr.count("index.files", files)
        tr.count("index.bytes", nbytes)
        tr.count("index.bytes_per_input_byte", nbytes / os.path.getsize(corpus_path))

    if before is not None:
        before()

    next_id = [len(corpus_pdf) + 1_000_000]
    # every write is followed by searches on the index it changed
    mix = query_mix(ctx.seed, scale(ctx.seconds) * WRITE_EVERY, corpus_pdf["text"])
    pending = []  # searches since the last write: (request index, shape, pattern, page, wall)
    shape_walls: dict = {}  # shape -> search walls

    def check_pending():
        # scan-path engine over the same live sentences; run between the
        # timed searches and the next write, so cached and fresh references
        # leave the timed searches back to back either way
        nonlocal refs_dirty
        scan = None
        for i, sub, arg, got, wall in pending:
            key = f"{i}|{arg}"
            if key not in refs:
                with tr.span("check"):
                    scan = scan or SearchEngine(idx.live_sentences())
                    ref = scan.search(arg, n=10)
                    if sub == "page2" and ref.next_cursor is not None:
                        ref = scan.search(arg, n=10, after=ref.next_cursor)
                refs[key] = [list(r) for r in _page_keys(ref.rows)]
                refs_dirty = True
            res.add("search", wall, got == refs[key])
            shape_walls.setdefault(sub, []).append(wall)
            if ctx.trace:
                with tr.span("check"):
                    tr.search_counts(idx, eng, arg, len(got), apply_prefilter, combined_prefilter)
        pending.clear()

    for i, (kind, sub, arg) in enumerate(mix):
        if kind == "write":
            check_pending()
            t0 = time.perf_counter()
            with tr.span(f"index.{sub}"):
                batch = _write_batch(spark, corpus_pdf, sub, arg, next_id)
                getattr(idx, f"{sub}_documents")(batch)
                eng = idx.engine()
            res.add("update", time.perf_counter() - t0)
        else:
            t0 = time.perf_counter()
            with tr.span("search"):
                page = eng.search(arg, n=10)
                if sub == "page2" and page.next_cursor is not None:
                    page = eng.search(arg, n=10, after=page.next_cursor)
            wall = time.perf_counter() - t0
            pending.append((i, sub, arg, [list(r) for r in _page_keys(page.rows)], wall))
    check_pending()
    if refs_dirty:
        _write_json(ref_path, refs)
    if ctx.trace:
        # after the closed loop (so the traced end-to-end numbers stay
        # comparable with untraced runs): the write kinds the loop did not
        # reach and one compact(), each checked by a search against the scan
        # path
        done = {sub for kind, sub, _ in mix if kind == "write"}
        extra = [(w, f"write.{w}") for w in WRITES if w not in done] + [("compact", "compact")]
        for k, (op, kind) in enumerate(extra):
            t0 = time.perf_counter()
            with tr.span(f"index.{op}"):
                if op == "compact":
                    idx.compact()
                else:
                    batch = _write_batch(spark, corpus_pdf, op, ctx.seed + k, next_id)
                    getattr(idx, f"{op}_documents")(batch)
                eng = idx.engine()
            res.add(kind, time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tr.span("check"):
                pattern = mix[1 + k % len(SHAPES)][2]
                got = _page_keys(eng.search(pattern, n=10).rows)
                ref = _page_keys(SearchEngine(idx.live_sentences()).search(pattern, n=10).rows)
            res.add(f"check.{op}", time.perf_counter() - t0, got == ref)

    lat = sorted(res.walls("search"))
    res.metrics["index_build_s"] = (res.walls("index.build")[0], "s")
    res.metrics["search_p50_ms"] = (median(lat) * 1e3, "ms")
    if len(lat) >= 100:
        res.metrics["search_p90_ms"] = (float(np.percentile(lat, 90)) * 1e3, "ms")
    res.metrics["searches"] = (len(lat), "count")
    res.metrics["update_p50_ms"] = (median(res.walls("update")) * 1e3, "ms")
    # the mean over the shapes of each shape's median: every run weighs the
    # seven shapes alike
    res.metrics["search_shape_ms"] = (mean(median(w) for w in shape_walls.values()) * 1e3, "ms")
    res.throughput = len(lat) / sum(lat)
    res.op_ms = res.metrics["search_shape_ms"][0]
    res.units = len(lat)
    shutil.rmtree(idx_path, ignore_errors=True)
    return res


def kg_serve(ctx) -> Result:
    """The product path in one closed loop: the index build over a text
    corpus, the KG builds over the repos table, then the search rotations.
    The JSON throughput is the warm builds' files/s and the JSON latency is
    the search latency per shape. The index build goes first because it
    warms the JVM (JIT, parquet, shuffle code) for the KG builds, and those
    warm it for the searches."""
    builds = []
    serve = index_serve(ctx, before=lambda: builds.append(kg_build(ctx)))
    build = builds[0]
    return Result(
        ops=build.ops + serve.ops,
        metrics={**build.metrics, **serve.metrics},
        mismatches=build.mismatches + serve.mismatches,
        throughput=build.throughput,
        op_ms=serve.op_ms,
        units=1,
    )


WORKLOADS = {
    "kg_serve": (kg_serve, ("repos", "corpus")),
    "kg_build": (kg_build, ("repos",)),
    "dedup_ann": (dedup_ann, ("documents", "embeddings")),
    "index_serve": (index_serve, ("corpus",)),
}
