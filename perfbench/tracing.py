"""Traced runs: spans around the benchmark's calls into each layer, joined
with the Spark event log into the per-layer table.

Driver spans come from :meth:`Tracer.span` (the benchmark's own calls) and
from wrappers this module installs around a few public engine functions
that the benchmark reaches through other public calls (``build_graph`` →
linking and components; ``SearchEngine.compile`` → rule compilation).
Every Spark job started inside a span carries the span's name as its job
description and the span id in the ``perfbench.span`` local property.
Worker spans come from ``pyspark_perfbench_worker``. Spans stay in memory
(workers append theirs after each task) and are written to one JSON file
when the run ends.

Per-layer values are per unit of the workload: per run (kg_serve: one KG
build and one search loop) or per round of the six callables (dedup_ann),
except where a name says otherwise (``search.*`` are per search,
``index.add_s`` is per add call, a ``_frac`` is a ratio with the base given
in METRICS.md).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

PER_LAYER = (
    ("session.start_s", "s"), ("session.py_worker_boot_s", "s"),
    ("lang.compile_s", "s"), ("lang.compiles", "count"),
    ("plans.rows_in", "rows"), ("plans.rows_kept", "rows"), ("plans.kept_frac", "ratio"),
    ("plans.useful_frac", "ratio"),
    ("tokenizer.self_s", "s"), ("tokenizer.calls", "count"), ("tokenizer.sentences", "count"),
    ("tokenizer.tokens", "count"),
    ("match.batch_build_s", "s"), ("match.self_s", "s"), ("match.batches", "count"),
    ("match.sentences", "count"), ("match.mentions", "count"),
    ("pipeline.extract.frame_s", "s"), ("pipeline.extract.triples", "rows"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"), ("spark.idle_slot_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.py_bytes_sent", "bytes"), ("spark.py_bytes_received", "bytes"),
    ("spark.py_rows_received", "rows"), ("spark.py_boot_s", "s"), ("spark.py_init_s", "s"),
    ("spark.py_total_s", "s"), ("spark.peak_exec_mem_bytes", "bytes"),
    ("pipeline.linking.s", "s"), ("pipeline.linking.candidates", "pairs"),
    ("pipeline.linking.links", "pairs"), ("pipeline.linking.kept_frac", "ratio"),
    ("pipeline.components.s", "s"), ("pipeline.components.jobs", "count"),
    ("pipeline.materialize.s", "s"), ("pipeline.materialize.nodes", "rows"),
    ("pipeline.materialize.edges", "rows"), ("pipeline.materialize.bytes_written", "bytes"),
    ("ops.dedup.minhash_s", "s"), ("ops.dedup.minhash_pairs", "pairs"),
    ("ops.dedup.clusters_s", "s"), ("ops.dedup.ngram_s", "s"), ("ops.dedup.ngram_pairs", "pairs"),
    ("ops.dedup.ngram_route", "route"), ("ops.dedup.simhash_s", "s"),
    ("ops.dedup.simhash_pairs", "pairs"),
    ("ops.similarity.topk_s", "s"), ("ops.similarity.topk_route", "route"),
    ("ops.similarity.ivf_s", "s"),
    ("index.build_s", "s"), ("index.add_s", "s"), ("index.delete_s", "s"), ("index.update_s", "s"),
    ("index.compact_s", "s"), ("index.files", "count"), ("index.bytes", "bytes"),
    ("index.bytes_per_input_byte", "ratio"), ("index.route_index_frac", "ratio"),
    ("index.est_qerror", "ratio"),
    ("search.compile_s", "s"), ("search.plan_s", "s"), ("search.exec_s", "s"),
    ("search.jobs_per_query", "count"), ("search.rows_per_result", "ratio"),
    ("trace.py_cover_frac", "ratio"),
)

# public engine functions the benchmark reaches only through other public
# calls: (module, attribute, span name, keep the returned DataFrame)
DRIVER_TARGETS = (
    ("odinson_spark.lang.rules", "RuleReader.compile_rules", "lang.compile", False),
    ("odinson_spark.pipeline.linking", "lsh_candidate_pairs", "pipeline.linking", True),
    ("odinson_spark.pipeline.linking", "score_pairs", "pipeline.linking", True),
    ("odinson_spark.pipeline.components", "connected_components_star", "pipeline.components", False),
)

_CHECK = "check"  # spans (and their jobs) that only serve output checks or counts


class _Null:
    """Untraced runs: every hook is a no-op."""

    @contextmanager
    def span(self, name):
        yield

    def spark_conf(self):
        return {}

    def attach(self, spark):
        pass

    def count(self, name, value):
        pass


NULL = _Null()


class Tracer:
    def __init__(self, run_id: str, trace_dir: str):
        self.run_id = run_id
        self.dir = trace_dir
        self.worker_dir = os.path.join(trace_dir, "worker")
        self.eventlog_dir = os.path.join(trace_dir, "eventlog")
        os.makedirs(self.worker_dir, exist_ok=True)
        os.makedirs(self.eventlog_dir, exist_ok=True)
        self.spans: list = []
        self.stack: list = []
        self.counts: dict = defaultdict(float)
        self.kept: dict = defaultdict(list)  # wrapped function name -> DataFrames it returned
        self.searches: list = []
        self.n = 0
        self.t_measure = None
        self._install()

    # -- recording -----------------------------------------------------------

    def spark_conf(self) -> dict:
        # worker spans go to a directory named in the environment the JVM
        # (and so every Python worker) inherits
        os.environ["PERFBENCH_TRACE_DIR"] = self.worker_dir
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.python.worker.module": "pyspark_perfbench_worker",
        }

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _label(self, span):
        sc = self._sc()
        if sc is not None:
            sc.setJobDescription(span["name"] if span else None)
            sc.setLocalProperty("perfbench.span", span["id"] if span else None)

    @contextmanager
    def span(self, name: str):
        self.n += 1
        parent = self.stack[-1] if self.stack else None
        s = {"id": f"d{self.n}", "name": name, "parent": parent["id"] if parent else None,
             "run": self.run_id, "start": time.time()}
        self.stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self.stack.pop()
            self.spans.append(s)
            self._label(self.stack[-1] if self.stack else None)

    def count(self, name: str, value) -> None:
        self.counts[name] += value

    def attach(self, spark) -> None:
        """Mark the start of the timed phase (set-ups are done)."""
        self.t_measure = time.time()

    def _install(self) -> None:
        import importlib

        for mod_name, attr, name, keep in DRIVER_TARGETS:
            mod = importlib.import_module(mod_name)
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = getattr(holder, leaf)
            wrapped = self._wrap(orig, name, keep)
            setattr(holder, leaf, wrapped)
            if owner:
                continue
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("odinson_spark") and getattr(m, leaf, None) is orig:
                    setattr(m, leaf, wrapped)

    def _wrap(self, fn, name, keep):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if keep:
                self.kept[fn.__name__].append(out)
            return out

        return traced

    # -- counts at the layer boundaries (outside the timed spans) -------------

    def kg_counts(self, paths: dict, prefiltered) -> None:
        """Row counts of one KG build's tables and linking pairs."""
        import pyarrow.dataset as ds

        def rows(t):
            return ds.dataset(paths[t], format="parquet").count_rows()

        with self.span(_CHECK):
            self.count("plans.rows_in", rows("sentences"))
            self.count("plans.rows_kept", prefiltered.count())
            m = ds.dataset(paths["mentions"], format="parquet").to_table(columns=["doc_id", "sent_id"])
            self.count("plans.useful_rows", len(set(zip(*(c.to_pylist() for c in m.columns)))))
            self.count("pipeline.extract.triples", rows("triples"))
            self.count("pipeline.materialize.nodes", rows("nodes"))
            self.count("pipeline.materialize.edges", rows("edges"))
            nbytes = sum(os.path.getsize(f) for t in ("nodes", "edges")
                         for f in glob.glob(os.path.join(paths[t], "*.parquet")))
            self.count("pipeline.materialize.bytes_written", nbytes)
            for key, name in (("lsh_candidate_pairs", "pipeline.linking.candidates"),
                              ("score_pairs", "pipeline.linking.links")):
                for df in self.kept.pop(key, []):
                    self.count(name, df.count())

    def search_counts(self, idx, eng, pattern: str, n_results: int,
                      apply_prefilter, combined_prefilter) -> None:
        """Route, estimate, candidates and matching sentences of one search."""
        t0 = time.time()
        with self.span("search.plan"):
            plan = eng.explain(pattern)
        plan_wall = time.time() - t0
        ex = eng.compile(pattern)
        if plan["route"] == "index":
            cand = idx.candidate_keys(combined_prefilter(ex)).count()
        else:
            cand = apply_prefilter(idx.live_sentences(), ex).count()
        matching = eng.mentions(pattern).select("doc_id", "sent_id").distinct().count()
        self.searches.append({
            "pattern": pattern, "route": plan["route"], "est": plan["estimated_candidates"],
            "candidates": cand, "matching": matching, "results": n_results,
            "plan_wall": plan_wall, "rows_in": idx.n_sentences,
        })

    # -- the per-layer table --------------------------------------------------

    def finish(self, units: int, timed_s: float, cores: int) -> dict:
        """Write the span file and return the per-layer metrics."""
        worker = _read_worker_spans(self.worker_dir)
        jobs, tasks = _read_eventlogs(self.eventlog_dir)
        path = os.path.join(self.dir, "spans.json")
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "driver": self.spans, "worker": worker,
                       "counts": dict(self.counts), "searches": self.searches}, f)
        self.span_file = path
        return _layers(self, worker, jobs, tasks, max(units, 1), timed_s, cores)


# -- readers -----------------------------------------------------------------


def _read_worker_spans(d: str) -> list:
    out = []
    for p in sorted(glob.glob(os.path.join(d, "worker-*.jsonl"))):
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of 'number of output rows' on Python nodes."""
    if "Python" in plan.get("nodeName", "") or "Pandas" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _python_row_accumulators(c, out)


def _read_eventlogs(d: str):
    """Jobs (id, app → description, span, times) and tasks with metrics
    from every event log of the run (one per SparkContext)."""
    jobs, tasks = [], []
    for n_app, p in enumerate(sorted(glob.glob(os.path.join(d, "*")))):
        stage_job, by_id, py_rows = {}, {}, set()
        app_tasks = []
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = {"app": n_app, "job": e["Job ID"], "start": e["Submission Time"] / 1e3,
                         "desc": props.get("spark.job.description"),
                         "span": props.get("perfbench.span")}
                    by_id[j["job"]] = j
                    jobs.append(j)
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = j["job"]
                elif ev == "SparkListenerJobEnd":
                    by_id[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_row_accumulators(e.get("sparkPlanInfo") or {}, py_rows)
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    acc = defaultdict(float)
                    for a in info.get("Accumulables", []):
                        try:
                            v = float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        acc[a["Name"]] += v
                        if a.get("ID") in py_rows:
                            acc["py_rows"] += v
                    sr = tm.get("Shuffle Read Metrics") or {}
                    app_tasks.append({
                        "app": n_app,
                        "task_id": info["Task ID"],
                        "stage": e["Stage ID"],
                        "run_s": tm.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "peak_mem": tm.get("Peak Execution Memory", 0),
                        "py_sent": acc["data sent to Python workers"],
                        "py_received": acc["data returned from Python workers"],
                        "py_rows": acc["py_rows"],
                        "py_boot_s": acc["time to start Python workers"] / 1e3,
                        "py_init_s": acc["time to initialize Python workers"] / 1e3,
                        "py_total_s": acc["time to run Python workers"] / 1e3,
                    })
        for t in app_tasks:
            t["job"] = by_id.get(stage_job.get(t["stage"]))
        tasks.extend(app_tasks)
    return jobs, tasks


# -- aggregation ---------------------------------------------------------------


def _self_time(spans: list) -> dict:
    """span id -> duration minus the time its direct children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, last), min(b, s["end"])
            if b > a:
                covered += b - a
                last = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _layers(tr: Tracer, worker, jobs, tasks, units, timed_s, cores) -> dict:
    L = defaultdict(float)
    drv = tr.spans
    by_id = {s["id"]: s for s in drv}

    def ancestors(span_id):
        while span_id:
            s = by_id.get(span_id)
            if s is None:
                return
            yield s
            span_id = s["parent"]

    def under(span_id, name):
        return any(s["name"] == name for s in ancestors(span_id))

    def measured(span_id):
        """Started in the timed phase and not part of an output check."""
        s = by_id.get(span_id)
        return (s is not None and s["start"] >= tr.t_measure
                and not any(a["name"].startswith(_CHECK) for a in ancestors(span_id)))

    def dur(name):
        return sum(s["end"] - s["start"] for s in drv if s["name"] == name and measured(s["id"]))

    # session: the cold SparkSession start and the Python worker boot of
    # the last set-up's first job
    starts = [s for s in drv if s["name"] == "session.start"]
    if starts:
        L["session.start_s"] = starts[0]["end"] - starts[0]["start"]
    warm = [s for s in drv if s["name"] == "session.warm_job"]
    if warm:
        wid = warm[-1]["id"]
        boot = [t["py_boot_s"] for t in tasks if t["job"] and t["job"]["span"] == wid]
        L["session.py_worker_boot_s"] = max(boot, default=0.0)

    # lang: rule compilation in the timed phase, plus the last set-up's
    # (where kg_build compiles its grammar once)
    last_setup = starts[-1]["start"] if starts else tr.t_measure
    comp = [s for s in drv if s["name"] == "lang.compile"
            and (measured(s["id"]) or last_setup <= s["start"] < tr.t_measure)]
    L["lang.compile_s"] = sum(s["end"] - s["start"] for s in comp) / units
    L["lang.compiles"] = len(comp) / units

    # worker spans of measured driver spans
    wself = _self_time(worker)
    wtask = {s["id"]: s for s in worker if s["name"] == "py.task"}
    counted = {sid for sid, s in wtask.items() if measured(s.get("driver_span"))}

    wby_id = {s["id"]: s for s in worker}

    def task_of(s):
        while s.get("parent") in wby_id:
            s = wby_id[s["parent"]]
        return s["id"]

    wmeasured = [s for s in worker if s["name"] != "py.task" and task_of(s) in counted]
    for s in wmeasured:
        d = s["end"] - s["start"]
        if s["name"] == "tokenizer":
            L["tokenizer.self_s"] += wself[s["id"]]
            L["tokenizer.calls"] += 1
            L["tokenizer.sentences"] += s.get("sentences", 0)
            L["tokenizer.tokens"] += s.get("tokens", 0)
        elif s["name"] == "match.batch_build":
            L["match.batch_build_s"] += d
        elif s["name"] == "match":
            L["match.self_s"] += wself[s["id"]]
            L["match.batches"] += 1
            L["match.sentences"] += s.get("sentences", 0)
            L["match.mentions"] += s.get("mentions", 0)
    # frame: the Python time Spark reports for extraction tasks ("time to
    # run Python workers") not covered by tokenizer or match spans
    # task ids restart with every SparkContext: the timed phase is the last
    last_app = max((t["app"] for t in tasks), default=0)
    py_total = {t["task_id"]: t["py_total_s"] for t in tasks if t["app"] == last_app}
    covered = defaultdict(float)
    for s in wmeasured:
        if s["name"] in ("tokenizer", "match.batch_build", "match", "pipeline.linking.signatures") \
                and wby_id[s["parent"]]["name"] == "py.task":
            covered[wby_id[task_of(s)].get("task")] += s["end"] - s["start"]
    extract = {wby_id[task_of(s)].get("task") for s in wmeasured
               if s["name"] in ("tokenizer", "match", "match.batch_build")}
    L["pipeline.extract.frame_s"] = sum(max(0.0, py_total.get(t, 0.0) - covered[t]) for t in extract)
    # join check: Python time the worker spans account for, over the
    # Python time Spark reports for all timed tasks
    all_py = sum(t["py_total_s"] for t in tasks if t["app"] == last_app
                 and t["job"] is not None and measured(t["job"]["span"]))
    L["trace.py_cover_frac"] = ((sum(covered.values()) + L["pipeline.extract.frame_s"]) / all_py
                                if all_py else 0.0)
    for k in ("tokenizer.self_s", "tokenizer.calls", "tokenizer.sentences", "tokenizer.tokens",
              "match.batch_build_s", "match.self_s", "match.batches", "match.sentences",
              "match.mentions", "pipeline.extract.frame_s"):
        L[k] /= units

    # spark: jobs started by measured spans
    mjobs = [j for j in jobs if measured(j["span"])]
    mtasks = [t for t in tasks if t["job"] is not None and measured(t["job"]["span"])]
    L["spark.jobs"] = len(mjobs) / units
    L["spark.tasks"] = len(mtasks) / units
    for key, name in (("run_s", "spark.task_s"), ("cpu_s", "spark.cpu_s"), ("gc_s", "spark.gc_s"),
                      ("shuffle_read", "spark.shuffle_read_bytes"),
                      ("shuffle_write", "spark.shuffle_write_bytes"),
                      ("py_sent", "spark.py_bytes_sent"), ("py_received", "spark.py_bytes_received"),
                      ("py_rows", "spark.py_rows_received"), ("py_boot_s", "spark.py_boot_s"),
                      ("py_init_s", "spark.py_init_s"), ("py_total_s", "spark.py_total_s")):
        L[name] = sum(t[key] for t in mtasks) / units
    L["spark.peak_exec_mem_bytes"] = max((t["peak_mem"] for t in mtasks), default=0)
    L["spark.idle_slot_s"] = (timed_s * cores - sum(t["run_s"] for t in mtasks)) / units

    # plans: the KG build's prefilter when one ran (per build), otherwise
    # the scan-routed searches' (per search)
    c = tr.counts
    scans = [q for q in tr.searches if q["route"] == "scan"]
    if c["plans.rows_in"]:
        rin, kept, useful, n = (c["plans.rows_in"], c["plans.rows_kept"],
                                c["plans.useful_rows"], units)
    else:
        rin = sum(q["rows_in"] or 0 for q in scans)
        kept = sum(q["candidates"] for q in scans)
        useful, n = sum(q["matching"] for q in scans), max(len(scans), 1)
    L["plans.rows_in"] = rin / n
    L["plans.rows_kept"] = kept / n
    L["plans.kept_frac"] = kept / rin if rin else 0.0
    L["plans.useful_frac"] = useful / kept if kept else 0.0

    for name in ("pipeline.extract.triples", "pipeline.materialize.nodes",
                 "pipeline.materialize.edges", "pipeline.materialize.bytes_written",
                 "pipeline.linking.candidates", "pipeline.linking.links"):
        L[name] = c[name] / units
    L["pipeline.linking.kept_frac"] = (c["pipeline.linking.links"] / c["pipeline.linking.candidates"]
                                       if c["pipeline.linking.candidates"] else 0)
    L["pipeline.linking.s"] = dur("pipeline.linking") / units
    L["pipeline.components.s"] = dur("pipeline.components") / units
    L["pipeline.components.jobs"] = sum(1 for j in mjobs if under(j["span"], "pipeline.components")) / units
    L["pipeline.materialize.s"] = dur("pipeline.materialize") / units

    # ops
    for q, name in (("dedup_minhash_lsh", "ops.dedup.minhash_s"), ("dedup_clusters", "ops.dedup.clusters_s"),
                    ("dedup_ngram_jaccard", "ops.dedup.ngram_s"), ("dedup_simhash_pairs", "ops.dedup.simhash_s"),
                    ("ann_topk", "ops.similarity.topk_s"), ("ann_ivf", "ops.similarity.ivf_s")):
        L[name] = dur(f"q.{q}") / units
    for q, name in (("dedup_minhash_lsh", "ops.dedup.minhash_pairs"), ("dedup_ngram_jaccard", "ops.dedup.ngram_pairs"),
                    ("dedup_simhash_pairs", "ops.dedup.simhash_pairs")):
        L[name] = c[f"rows.{q}"] / units
    L["ops.dedup.ngram_route"] = c["ops.dedup.ngram_route"]
    L["ops.similarity.topk_route"] = c["ops.similarity.topk_route"]

    # index + search
    def mean_dur(name):
        ds = [s["end"] - s["start"] for s in drv if s["name"] == name and measured(s["id"])]
        return sum(ds) / len(ds) if ds else 0.0

    for op in ("build", "add", "delete", "update", "compact"):
        L[f"index.{op}_s"] = mean_dur(f"index.{op}")
    for k in ("index.files", "index.bytes", "index.bytes_per_input_byte"):
        L[k] = c[k]
    qs = tr.searches
    searches = [s for s in drv if s["name"] == "search" and measured(s["id"])]
    if qs and searches:
        n = len(searches)
        L["index.route_index_frac"] = sum(q["route"] == "index" for q in qs) / len(qs)
        errs = [max(q["est"] / q["matching"], q["matching"] / q["est"])
                for q in qs if q["est"] and q["matching"]]
        L["index.est_qerror"] = median(errs) if errs else 0.0
        compile_in = sum(s["end"] - s["start"] for s in drv
                         if s["name"] == "lang.compile" and under(s["parent"], "search") and measured(s["id"]))
        compile_plan = sum(s["end"] - s["start"] for s in drv
                           if s["name"] == "lang.compile" and under(s["parent"], "search.plan"))
        L["search.compile_s"] = compile_in / n
        L["search.plan_s"] = (sum(q["plan_wall"] for q in qs) - compile_plan) / len(qs)
        L["search.exec_s"] = max(0.0, mean_dur("search") - L["search.compile_s"] - L["search.plan_s"])
        L["search.jobs_per_query"] = sum(1 for j in mjobs if under(j["span"], "search")) / n
        results = sum(q["results"] for q in qs)
        L["search.rows_per_result"] = sum(q["candidates"] for q in qs) / results if results else 0.0
    return dict(L)


# -- printing ----------------------------------------------------------------


def print_layers(layers: dict, span_file: str) -> None:
    print(f"spans: {span_file}")
    print(f"{'per-layer metric':34s} {'value':>16s}  unit")
    for name, unit in PER_LAYER:
        print(f"{name:34s} {layers.get(name, 0.0):16.4f}  {unit}")


def print_overhead(results_dir: str, record: dict) -> None:
    """Traced minus untraced end-to-end numbers (latest untraced run of the
    same workload, same seed preferred)."""
    runs = []
    for p in glob.glob(os.path.join(results_dir, f"{record['workload']}-*.json")):
        with open(p) as f:
            r = json.load(f)
        if r["trace"] == 0 and r["seconds"] == record["seconds"]:
            runs.append((r["seed"] == record["seed"], os.path.getmtime(p), r))
    if not runs:
        print("tracing overhead: no untraced run of this workload recorded yet")
        return
    base = max(runs, key=lambda x: x[:2])[2]
    print(f"tracing overhead vs untraced run {base['run_id']} (traced - untraced):")
    for name, v in record["e2e"].items():
        u = base["e2e"][name]
        rel = f"{(v - u) / u:+.1%}" if u else "n/a"
        print(f"  {name:22s} {v:14.4f} - {u:14.4f} = {v - u:+12.4f}  ({rel})")
