"""Fused one-shot extraction: documents → mentions in a single narrow stage.

The staged path (tokenize → sentence table → match) is right when the
annotated corpus is materialized once and queried many times (the
index-then-search shape of the reference). For one-shot jobs it pays the
Arrow round-trip of fat sentence rows (all token layers) twice. This fused
stage runs the staged path's two Python halves back to back inside one
``mapInPandas`` worker: the sentence encoder (``_annotate_frame`` →
``_sentences_frame``) and the shared extraction core
(``mention_extractor``), so only raw text enters Python, only (small)
mention rows leave, and the sentence frame never crosses Arrow.

The rule prefilter is applied at the *text* level before the UDF:
a required term over a text-derived layer implies a substring hit, which
Catalyst pushes into the parquet/Iceberg scan.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lang.rules import Extractor
from ..plans import prefilter as pfmod
from ..schema import MENTIONS_SCHEMA
from .extract import _annotate_frame, _fan_out, mention_extractor

# layers derivable from the raw text by the deterministic annotators — a term
# constraint on these implies a substring occurrence in `text`
_TEXT_DERIVED_FIELDS = ("raw", "word", "norm", "lemma")


def _is_non_ascii_text() -> "F.Column":
    # a string is pure ASCII iff its UTF-8 byte length equals its char length
    # (every ASCII char is 1 byte; every non-ASCII char is >1). Cheap JVM-side
    # check, no regex scan.
    return F.octet_length(F.col("text")) != F.length(F.col("text"))


def text_prefilter_column(pf) -> "F.Column":
    """Render a rule prefilter as a predicate over the raw `text` column.

    Sound (never drops a matchable doc): term constraints on text-derived
    layers become case-insensitive substring tests, but ONLY for pure-ASCII
    documents — on ASCII input every derived layer (raw/word = NFKC,
    lemma = lower, norm = NFKC+casefold+strip-diacritics) degenerates to
    ``lower``, so ``[layer=term]`` implies ``lower(text) contains term``.
    A non-ASCII document can normalize INTO the term without containing it
    ("Café" → norm "cafe"), so non-ASCII docs bypass the prefilter and go
    straight to the matcher. Anything not provably necessary → TRUE."""
    if isinstance(pf, pfmod.PFTrue):
        return F.lit(True)
    if isinstance(pf, pfmod.PFFalse):
        return F.lit(False)
    if isinstance(pf, pfmod.PFTerm):
        if pf.field in _TEXT_DERIVED_FIELDS and pf.value.isascii() and pf.value.isalnum():
            return _is_non_ascii_text() | F.lower(F.col("text")).contains(
                pf.value.lower()
            )
        return F.lit(True)
    if isinstance(pf, pfmod.PFEdge):
        return F.lit(True)
    if isinstance(pf, pfmod.PFMultiTerm):
        # regex/fuzzy: no necessary substring exists in general
        return F.lit(True)
    if isinstance(pf, pfmod.PFPhrase):
        # adjacency over TOKENS has no necessary raw-text substring
        # (tokenization may insert/normalize); term containment is already
        # carried by the sibling PFTerm conjuncts
        return F.lit(True)
    if isinstance(pf, pfmod.PFAnd):
        col = text_prefilter_column(pf.subs[0])
        for s in pf.subs[1:]:
            col = col & text_prefilter_column(s)
        return col
    if isinstance(pf, pfmod.PFOr):
        col = text_prefilter_column(pf.subs[0])
        for s in pf.subs[1:]:
            col = col | text_prefilter_column(s)
        return col
    raise TypeError(f"unknown prefilter {pf!r}")


def extract_one_shot(
    documents: DataFrame,
    extractors: Sequence[Extractor],
    mode: str = "text",
    use_state: bool = False,
    max_tokens: int = 100,
    apply_text_prefilter: bool = True,
    project: Optional[Sequence[str]] = None,
) -> DataFrame:
    """documents(doc_id, text[, …]) or repos(repo, path, commit, lang,
    content) → mentions DataFrame, one fused Python stage.

    ``project`` — optional subset of mention columns to EMIT from the
    Python stage. Column pruning cannot see through mapInPandas, so a
    query that only reads (doc_id, start, end, text) otherwise pays Arrow
    serialization for every column of every mention — at 1.6M mentions the
    unread content_sha strings alone are ~100 MB of boundary traffic
    (optimization guide §4.1: pass only the columns the function needs, in
    both directions). None = the full MENTIONS_SCHEMA."""
    code = mode != "text"
    is_repos = code and "content" in documents.columns

    if apply_text_prefilter and not is_repos:
        pf = pfmod.pf_or([pfmod.prefilter_of(e.program) for e in extractors])
        documents = documents.filter(text_prefilter_column(pf))

    documents = _fan_out(documents)
    bc = documents.sparkSession.sparkContext.broadcast(list(extractors))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = mention_extractor(bc.value, use_state, cols=project)
        frames = (_annotate_frame(pdf, code, max_tokens) for pdf in batches)
        return (run(sents) for sents in frames if len(sents))

    out_schema = MENTIONS_SCHEMA
    if project is not None:
        keep = set(project)
        unknown = keep - {f.name for f in MENTIONS_SCHEMA.fields}
        if unknown:
            raise ValueError(f"unknown mention columns: {sorted(unknown)}")
        from pyspark.sql.types import StructType

        out_schema = StructType([f for f in MENTIONS_SCHEMA.fields if f.name in keep])

    cols = ["doc_id", "text"] if not is_repos else ["repo", "path", "commit", "content"]
    return documents.select(*[c for c in cols if c in documents.columns]).mapInPandas(
        fn, out_schema
    )
