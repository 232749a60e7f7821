"""Python worker entry for traced benchmark runs.

Spark's Python daemon (the default on Linux) starts it through
``spark.python.worker.module``; the daemon only accepts module names that
start with ``pyspark``. Before the first task it
wraps the engine's public worker-side functions in spans; after every task
it appends that task's spans to ``$PERFBENCH_TRACE_DIR/worker-<pid>.jsonl``.
The engine itself is unchanged: this module only replaces attributes in the
already-imported engine modules of this worker process.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time

from pyspark import worker as _pyspark_worker
from pyspark.taskcontext import TaskContext

# (module, attribute, span name, what to count from the call: see _count)
TARGETS = (
    ("odinson_spark.tokenizer.code_tokenizer", "annotate_code", "tokenizer", "sentences"),
    ("odinson_spark.tokenizer.code_tokenizer", "annotate_text", "tokenizer", "sentences"),
    ("odinson_spark.testing", "sentence_batch_from_docs", "match.batch_build", None),
    ("odinson_spark.pipeline.extract", "batch_from_pandas", "match.batch_build", None),
    ("odinson_spark.match.extractor", "BatchExtractor.extract_no_state", "match", "mentions"),
    ("odinson_spark.match.extractor", "BatchExtractor.extract_mentions", "match", "mentions"),
    ("odinson_spark.pipeline.linking", "batch_signatures", "pipeline.linking.signatures", None),
)


class _Recorder:
    def __init__(self):
        self.spans: list = []
        self.stack: list = []
        self.n = 0
        self.pid = os.getpid()
        self.task: dict = {}

    def open(self, name: str) -> dict:
        self.n += 1
        s = {"id": f"w{self.pid}.{self.n}", "name": name,
             "parent": self.stack[-1]["id"] if self.stack else None, "start": time.time()}
        self.stack.append(s)
        return s

    def close(self, s: dict, **attrs) -> None:
        s["end"] = time.time()
        s.update(attrs)
        self.stack.pop()
        self.spans.append(s)


_REC = _Recorder()
_installed = False


def _count(kind, args, result) -> dict:
    if kind == "sentences":
        return {"sentences": len(result),
                "tokens": sum(len(s.get("raw", ())) for s in result)}
    if kind == "mentions":
        return {"sentences": args[1].n_sentences, "mentions": len(result)}
    return {}


def _wrap(fn, name, kind):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        s = _REC.open(name)
        out = fn(*args, **kwargs)
        _REC.close(s, **_count(kind, args, out))
        return out

    traced.__perfbench_original__ = fn
    return traced


def _install() -> None:
    """Replace each target in every loaded engine module that binds it."""
    global _installed
    _installed = True
    TaskContext._setTaskContext = classmethod(_capture_task_context)
    for mod_name, attr, name, kind in TARGETS:
        mod = importlib.import_module(mod_name)
        owner, _, leaf = attr.rpartition(".")
        holder = getattr(mod, owner) if owner else mod
        orig = getattr(holder, leaf)
        wrapped = _wrap(orig, name, kind)
        setattr(holder, leaf, wrapped)
        if owner:
            continue
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("odinson_spark") and getattr(m, leaf, None) is orig:
                setattr(m, leaf, wrapped)


def _task_info(tc) -> dict:
    return {"task": tc.taskAttemptId(), "stage": tc.stageId(),
            "driver_span": tc.getLocalProperty("perfbench.span")}


_set_task_context = TaskContext._setTaskContext.__func__


def _capture_task_context(cls, task_context):
    # pyspark.worker clears the context at the end of each task; keep the
    # finished task's identity for its spans first
    if task_context is None and cls._taskContext is not None:
        _REC.task = _task_info(cls._taskContext)
    _set_task_context(cls, task_context)


def _flush(task: dict) -> None:
    out_dir = os.environ.get("PERFBENCH_TRACE_DIR")
    if not out_dir:
        return
    with open(os.path.join(out_dir, f"worker-{_REC.pid}.jsonl"), "a") as f:
        for s in _REC.spans:
            s.setdefault("task", task.get("task"))
            f.write(json.dumps(s) + "\n")
    _REC.spans.clear()


def main(infile, outfile):
    if not _installed:
        _install()
    _REC.pid = os.getpid()
    _REC.task = {}
    s = _REC.open("py.task")
    try:
        _pyspark_worker.main(infile, outfile)
    finally:
        task = _REC.task
        _REC.close(s, **task)
        _REC.stack.clear()
        _flush(task)

