"""Converter from org.clulab *processors* document JSON to the Odinson
document model — parity with the reference's ConvertProcessorsToOdinson app
(extra/src/main/scala/ai/lum/odinson/extra/ConvertProcessorsToOdinson.scala:15-40,
extra/.../utils/ProcessorsUtils.scala:50-97):

* id defaults to a deterministic name when absent (the reference uses a
  random UUID; we hash the content so conversion is reproducible),
* metadata is empty (reference mkMetadata is a TODO returning Seq.empty),
* per sentence: raw + word always; tag/lemma/entity/chunk when present,
* dependency graph preference: ``hybrid`` > ``universal-enhanced`` >
  ``universal-basic`` (ProcessorsUtils.convertSentence graph match).

`read_processors_json` is the distributed ingest: JSON-lines of processors
documents → the same sentences DataFrame every other source produces
(conversion happens inside the existing document-JSON mapInPandas pass, so
nothing per-document touches the driver).
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, List, Optional, Union

from ..document import Document, GraphField, Sentence, TokensField

# GraphMap preference order, most informative first (org.clulab.struct
# GraphMap.HYBRID_DEPENDENCIES / UNIVERSAL_ENHANCED / UNIVERSAL_BASIC)
_GRAPH_PREFERENCE = ("hybrid", "universal-enhanced", "universal-basic")

_TOKEN_FIELDS = (
    ("tags", "tag"),
    ("lemmas", "lemma"),
    ("entities", "entity"),
    ("chunks", "chunk"),
)


def convert_sentence(s: Dict) -> Sentence:
    words = list(s.get("words") or [])
    raw = list(s.get("raw") or words)
    fields: List = [TokensField("raw", raw), TokensField("word", words)]
    for src, dst in _TOKEN_FIELDS:
        vals = s.get(src)
        if vals is not None:
            fields.append(TokensField(dst, list(vals)))
    graphs = s.get("graphs") or {}
    for name in _GRAPH_PREFERENCE:
        g = graphs.get(name)
        if g is not None:
            edges = [
                (int(e["source"]), int(e["destination"]), str(e["relation"]))
                for e in g.get("edges") or []
            ]
            fields.append(
                GraphField("dependencies", edges, [int(r) for r in g.get("roots") or []])
            )
            break
    return Sentence(len(words), fields)


def convert_document(d: Union[str, Dict]) -> Document:
    """processors Document JSON (dict or string) → :class:`Document`."""
    if isinstance(d, str):
        src, d = d, json.loads(d)
    else:
        src = json.dumps(d, sort_keys=True)
    doc_id = d.get("id")
    if not doc_id:
        # deterministic replacement for the reference's random UUID — the
        # same input always converts to the same document
        doc_id = hashlib.sha256(src.encode("utf-8")).hexdigest()[:32]
    sentences = [convert_sentence(s) for s in d.get("sentences") or []]
    return Document(str(doc_id), (), sentences)


def read_processors_json(
    spark,
    path: str,
    max_tokens: int = 100,
    extra_token_fields=(),
):
    """JSON-lines of processors documents → sentences DataFrame (same schema
    as :func:`~odinson_spark.sources.document_json.read_document_json`;
    metadata is empty by reference semantics so no inference pass runs)."""
    from typing import Iterator

    import pandas as pd

    from ..pipeline.extract import _sentences_frame
    from ..schema import sentences_schema
    from .document_json import _fill_layers, doc_to_sentences

    out_schema = sentences_schema(tuple(extra_token_fields))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = []
            for line in pdf["value"]:
                line = (line or "").strip()
                if not line:
                    continue
                doc = convert_document(line)
                sha = hashlib.sha256(line.encode("utf-8")).hexdigest()
                sentences = _fill_layers(
                    doc_to_sentences(doc.to_dict(), max_tokens, tuple(extra_token_fields))
                )
                docs.append((doc.id, sha, None, sentences))
            yield _sentences_frame(docs, tuple(extra_token_fields))

    return spark.read.text(path).mapInPandas(fn, out_schema)
