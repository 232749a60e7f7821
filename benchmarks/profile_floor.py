"""Single-process matcher floor profiler (no Spark).

Runs the body of the fused one-shot stage (odinson_spark/pipeline/oneshot.py:
the sentence encoder, then the shared extraction core) over the sf documents
table on ONE core, under cProfile, and prints the top cumulative-time
functions.  This is the per-core ceiling that bounds cluster throughput: at
1000 executors the wall clock is (docs / (cores × docs_per_sec_here)) —
optimizing here moves every deployment.

Usage: python benchmarks/profile_floor.py [sf_dir] [top_n]
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    import __spark_entry__ as entrymod
    from odinson_spark.lang.rules import RuleReader
    from odinson_spark.pipeline.extract import _annotate_frame, mention_extractor

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pandas()
    extractors, _ = RuleReader().compile_rules(entrymod.EVENT_GRAMMAR)
    run = mention_extractor(extractors)

    profiling = os.environ.get("PROFILE", "1") != "0"
    repeats = 1 if profiling else int(os.environ.get("REPEATS", "3"))
    prof = cProfile.Profile()
    best = None
    for _ in range(repeats):
        stages = {}
        t0 = time.time()
        if profiling:
            prof.enable()
        sents = _annotate_frame(docs, False, 100)
        if profiling:
            prof.disable()
        stages["annotate"] = time.time() - t0

        t0 = time.time()
        if profiling:
            prof.enable()
        frame = run(sents)
        if profiling:
            prof.disable()
        stages["extract"] = time.time() - t0
        if best is None or sum(stages.values()) < sum(best.values()):
            best = stages

    total = sum(best.values())
    print(f"docs={len(docs)} sentences={len(sents)} mentions={len(frame)}")
    for k, v in best.items():
        print(f"{k:12s} {v:7.3f} s")
    print(f"{'total':12s} {total:7.3f} s  ({len(docs) / total:,.0f} docs/s/core)")

    if profiling:
        buf = io.StringIO()
        pstats.Stats(prof, stream=buf).sort_stats("cumulative").print_stats(top_n)
        print(buf.getvalue())


if __name__ == "__main__":
    main()
