"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet files. Files land under
``<work>/inputs/<workload>-s<seed>/<table>.parquet`` and are reused while the
size and this file are unchanged, so generation is never timed.

* ``repos``      — repos(repo, path, commit, lang, content): multi-line code
  files over a Zipf identifier vocabulary, near-duplicate forks and a
  heavy-tailed file-size distribution (kg_serve's build half).
* ``documents`` / ``embeddings`` — the exact column sets of the repo's
  ``documents``/``embeddings`` tables, with near-duplicate clusters and
  mutation chains (dedup_ann).
* ``corpus``     — documents over a Zipf vocabulary so tail terms are
  selective and head terms are not (kg_serve's search half).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(__file__, "rb") as _f:
    _SOURCE_SHA = hashlib.sha256(_f.read()).hexdigest()[:16]

_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "fi", "go", "hu", "ja", "xe")


@dataclass(frozen=True)
class Sizes:
    repos_files: int = 24
    dedup_docs: int = 500
    dedup_vectors: int = 500
    corpus_docs: int = 600


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table so resizing one leaves the others
    # byte-identical
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def vocabulary(n: int, prefix: str = "") -> list:
    """``n`` distinct pronounceable words (deterministic, seed-free)."""
    out = []
    i = 0
    while len(out) < n:
        w, k = [], i
        while True:
            w.append(_SYL[k % len(_SYL)])
            k //= len(_SYL)
            if k == 0:
                break
        out.append(prefix + "".join(w))
        i += 1
    return out


class Zipf:
    """Ranks in [0, n) with P(rank r) ∝ 1 / (r + 1)^a."""

    def __init__(self, n: int, a: float):
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
        self.cdf = cdf / cdf[-1]

    def sample(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(size)), len(self.cdf) - 1)

    def quantiles(self, rng: np.random.Generator, size: int) -> np.ndarray:
        """``size`` ranks at the distribution's evenly spaced quantiles, in
        seeded order: every seed draws the same multiset of ranks."""
        u = (np.arange(size) + 0.5) / size
        return rng.permutation(np.minimum(np.searchsorted(self.cdf, u), len(self.cdf) - 1))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


# -- repos (kg_build) -----------------------------------------------------------

_WORDS = ("user item order count total index value name path file line node edge row "
          "key cache buffer result data query page token batch frame state config event "
          "handler client server request response stream record table column field "
          "parser writer reader builder schema graph match rule span doc text").split()
_AFFIX = ("get", "set", "load", "make", "parse", "read", "write", "build", "find", "is",
          "to", "from", "new", "old", "max", "min", "num", "tmp")


def identifiers(n: int) -> list:
    """``n`` distinct snake_case identifiers built like real ones (verb or
    qualifier + one or two nouns), so a few differ by one word."""
    out, seen = [], set()
    i = 0
    while len(out) < n:
        a = _AFFIX[i % len(_AFFIX)]
        w1 = _WORDS[(i // len(_AFFIX)) % len(_WORDS)]
        k = i // (len(_AFFIX) * len(_WORDS))
        name = f"{a}_{w1}" if k == 0 else f"{a}_{w1}_{_WORDS[(k * 7 + i) % len(_WORDS)]}"
        if name not in seen:
            seen.add(name)
            out.append(name)
        i += 1
    return out



def _code_file(draws, kinds, idents: list, n_lines: int) -> str:
    """One file of ``n_lines`` lines; ``draws`` yields identifier ranks and
    ``kinds`` line kinds."""

    def ident() -> str:
        return idents[next(draws)]

    lines = [f"import {ident()}"]
    while len(lines) < n_lines:
        kind = next(kinds)
        if kind == 0:
            lines.append(f"def {ident()}({ident()}, {ident()}):")
        elif kind in (1, 2, 3):
            args = ", ".join(ident() for _ in range(kind))
            lines.append(f"    {ident()} = {ident()}({args})")
        elif kind == 4:
            lines.append(f"    return {ident()}({ident()}) + {ident()}")
        elif kind == 5:
            lines.append(f"    if {ident()} > {len(lines) % 100}:")
        elif kind == 6:
            lines.append(f"    for {ident()} in {ident()}({ident()}):")
        else:
            lines.append(f"    {ident()}.{ident()}({ident()}, \"{ident()}\")")
    return "\n".join(lines) + "\n"


FORK_EVERY = 7  # every seventh file is a fork
# identifiers a line of each kind uses (see _code_file)
_IDENTS_PER_KIND = (3, 3, 4, 5, 3, 1, 3, 4)


def make_repos(seed: int, n_files: int) -> pa.Table:
    """Code files whose sizes are the quantiles of a Pareto(1.6) tail
    (6 to 600 lines) in seeded order. The line kinds and identifiers are
    quantile draws too, and forks copy the originals at evenly spaced size
    ranks. So every seed has the same lines, the same multiset of
    identifiers and the same forks (and a KG of nearly the same size); only
    the arrangement differs."""
    rng = _rng(seed, "repos")
    idents = identifiers(3000)
    zipf = Zipf(len(idents), 1.1)
    n_repos = max(4, n_files // 15)
    fork_slots = [i % FORK_EVERY == FORK_EVERY - 1 for i in range(n_files)]
    n_orig = n_files - sum(fork_slots)
    u = (np.arange(n_orig) + 0.5) / n_orig
    sizes = rng.permutation(np.minimum(600, 6 + 12 * ((1 - u) ** (-1 / 1.6) - 1)).astype(int))
    # every line after a file's import has a kind
    kinds = rng.permutation(np.arange(int(sizes.sum()) - n_orig) % 8).tolist()
    n_draws = n_orig + sum(_IDENTS_PER_KIND[k] for k in kinds)
    draws = iter(zipf.quantiles(rng, n_draws).tolist())
    kinds = iter(kinds)
    originals = [_code_file(draws, kinds, idents, int(n)) for n in sizes]
    by_size = np.argsort(sizes, kind="stable")
    n_forks = n_files - n_orig
    forks = []
    for k in range(n_forks):
        # a later repo re-publishes a file with a few edits
        lines = originals[by_size[int((k + 0.5) * n_orig / n_forks)]].split("\n")
        for _ in range(2):
            j = int(rng.integers(1, max(2, len(lines) - 1)))
            lines[j] = lines[j].replace("(", f"({idents[int(rng.integers(0, 50))]}, ", 1)
        forks.append("\n".join(lines))
    files = iter(originals)
    forks = iter(forks)
    rows = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    for i in range(n_files):
        rows["repo"].append(f"org{i % 7}/repo{int(rng.integers(0, n_repos))}")
        rows["path"].append(f"src/mod{i // 50}/file{i}.py")
        rows["commit"].append(hashlib.sha1(f"{seed}:{i}".encode()).hexdigest())
        rows["lang"].append("python")
        rows["content"].append(next(forks) if fork_slots[i] else next(files))
    return pa.table(rows)


# -- documents / embeddings (dedup_ann) ------------------------------------------

DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def _mutate(rng: np.random.Generator, toks: list, words: list, k: int) -> list:
    toks = list(toks)
    for _ in range(k):
        toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
    return toks


# one block of documents: "b" an original, "c" an edited copy of the block's
# first original (a near-duplicate cluster of three), "n" an edit of the
# previous document (a chain of four). The structure is the same for every
# seed, so the dedup graphs have the same shape and only the text changes.
DEDUP_BLOCK = "bccbnnnbbb"


def _documents(rng: np.random.Generator, n_docs: int, words: list, a: float,
               block: str, mean_len: int) -> pa.Table:
    zipf = Zipf(len(words), a)
    texts: list = []
    while len(texts) < n_docs:
        first = len(texts)
        for kind in block:
            if kind == "b":
                n = int(max(4, rng.normal(mean_len, mean_len / 3)))
                texts.append(" ".join(words[j] for j in zipf.sample(rng, n).tolist()))
            else:
                src = texts[first] if kind == "c" else texts[-1]
                toks = src.split(" ")
                texts.append(" ".join(_mutate(rng, toks, words, max(1, len(toks) // 20))))
    texts = texts[:n_docs]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": ["en" if i % 5 else "de" for i in range(n_docs)],
            "source": [f"src{i % 13}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def make_documents(seed: int, n_docs: int) -> pa.Table:
    return _documents(_rng(seed, "documents"), n_docs, vocabulary(800), 1.0,
                      DEDUP_BLOCK, mean_len=30)


def make_embeddings(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n_centers = 16
    centers = rng.normal(size=(n_centers, dim))
    label = rng.integers(0, n_centers, size=n_vecs)
    vec = centers[label] + rng.normal(scale=1.5, size=(n_vecs, dim))
    # near-duplicate vectors: every tenth is a noisy copy of the one before
    dup = np.arange(n_vecs) % 10 == 9
    vec[dup] = vec[np.flatnonzero(dup) - 1] + rng.normal(scale=0.01, size=(int(dup.sum()), dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


# -- corpus (index_serve) ---------------------------------------------------------

CORPUS_VOCAB = 20000


def make_corpus(seed: int, n_docs: int) -> pa.Table:
    return _documents(_rng(seed, "corpus"), n_docs, vocabulary(CORPUS_VOCAB, "w"),
                      1.05, "b", mean_len=24)


TABLES = {
    "repos": (make_repos, "repos_files"),
    "documents": (make_documents, "dedup_docs"),
    "embeddings": (make_embeddings, "dedup_vectors"),
    "corpus": (make_corpus, "corpus_docs"),
}


def ensure(work: str, seed: int, workload: str, names, sizes: Sizes = Sizes()) -> dict:
    """Write the named tables for ``(workload, seed)`` once, into one
    directory (the gate callables read ``<dir>/<table>.parquet``), and
    return their paths."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}")
    os.makedirs(d, exist_ok=True)
    out = {}
    for name in names:
        make, size_field = TABLES[name]
        n = getattr(sizes, size_field)
        path = os.path.join(d, f"{name}.parquet")
        # regenerate when the size or this generator changed
        stamp_path, stamp = os.path.join(d, f"{name}.stamp"), f"{n}:{_SOURCE_SHA}"
        if not os.path.exists(stamp_path) or open(stamp_path).read() != stamp:
            for f in os.listdir(d):
                if f.endswith(".json"):  # references derived from old inputs
                    os.remove(os.path.join(d, f))
            _write(make(seed, n), path)
            with open(stamp_path, "w") as f:
                f.write(stamp)
        out[name] = path
    return out
