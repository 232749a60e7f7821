"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_serve|dedup_ann --seed N --seconds S --trace 0|1

(``kg_build`` and ``index_serve``, the two halves of ``kg_serve``, also run
on their own.) See METRICS.md for the workloads and every metric.

Run from a checkout root (or anywhere: paths resolve from this file). The
inputs are generated from ``--seed`` (and reused per seed) under
``.perfbench_work/``; nothing there is timed. The process starts Spark
with the settings ``odinson_spark.session.get_spark`` gives users on
``local[<cores>]``, sets up several times (``setup_s`` is their median),
runs the workload's closed loop over a fixed schedule of operations (its
length scales with ``--seconds``; see ``workloads.scale``), checks every
output and prints a table and, as its last line, one JSON object.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
(driver and Python workers) plus the Spark event log and reports the
per-layer metrics, the span file path and the tracing overhead against the
last untraced run of the same workload.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time
import uuid
from types import SimpleNamespace
from statistics import median

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 3  # the first from process start, then SparkContext restarts

END_TO_END = (("setup_s", "s"), ("throughput_per_s", "items/s"), ("op_ms", "ms"))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# -- memory: peak summed RSS of the JVM and its Python workers --------------


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _tree_rss_bytes(root: int) -> int:
    kids, total, todo = _children(), 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid, self.interval, self.peak = root_pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- set-up ------------------------------------------------------------------


def _warm(batches):
    """First job body: import the engine in every Python worker."""
    import odinson_spark.index  # noqa: F401
    import odinson_spark.ops.dedup  # noqa: F401
    import odinson_spark.ops.similarity  # noqa: F401
    import odinson_spark.pipeline.extract  # noqa: F401
    import odinson_spark.pipeline.linking  # noqa: F401

    for pdf in batches:
        yield pdf


def setup(workload: str, conf: dict, tracer):
    """get_spark + rules compiled + one job that warms every Python worker.
    Returns (spark, state)."""
    from odinson_spark.lang.rules import RuleReader
    from odinson_spark.session import get_spark

    import workloads as wl

    cores = _cores()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    state = {}
    with tracer.span("lang.compile"):
        if workload in ("kg_build", "kg_serve"):
            state["extractors"], _ = RuleReader().compile_rules(wl.CODE_GRAMMAR)
    with tracer.span("session.warm_job"):
        spark.range(cores, numPartitions=cores).mapInPandas(_warm, "id long").collect()
    return spark, state


def _cpu_steal() -> tuple:
    """(steal, total) jiffies from /proc/stat: CPU time the hypervisor gave
    to other guests, an annotation of how noisy the host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {
        "cores": _cores(),
        "ram_mb": mem,
        "spark": spark.version,
        "python": platform.python_version(),
        "jvm": jvm.java.lang.System.getProperty("java.version"),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "host": platform.machine(),
    }


def _stop_jvm() -> None:
    """End the JVM this process started and wait for it: the gateway exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


# -- main --------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "odinson_spark", "session.py")):
        print(f"perfbench: no odinson_spark package next to {HERE}", file=sys.stderr)
        return 2
    # workers import the engine and the benchmark modules from the checkout,
    # whatever the current directory (the JVM passes PYTHONPATH on)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]

    import gen
    import tracing
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_fn, tables = wl.WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{'t' if args.trace else 'u'}-{uuid.uuid4().hex[:8]}"
    scratch = os.path.join(WORK, "runs", run_id)
    os.makedirs(scratch, exist_ok=True)
    inputs = gen.ensure(WORK, args.seed, args.workload, tables)

    tracer = tracing.Tracer(run_id, os.path.join(scratch, "trace")) if args.trace else tracing.NULL
    # the get_spark settings a user gets with SPARK_GRAFT_CPUS = usable cores
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    # keep every temporary file inside the checkout
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            **tracer.spark_conf()}
    setups = []
    spark = None
    try:
        for k in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = T_PROCESS if k == 0 else time.time()
            spark, state = setup(args.workload, conf, tracer)
            setups.append(time.time() - t0)
        tracer.attach(spark)
        ctx = SimpleNamespace(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                              trace=bool(args.trace), inputs=inputs, state=state,
                              scratch=scratch)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t_timed, steal0 = time.time(), _cpu_steal()
        with RssSampler(jvm_pid) as rss:
            res = run_fn(ctx)
        timed_wall = time.time() - t_timed
        steal1 = _cpu_steal()
        host = _versions(spark)
        host["cpu_steal_frac"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()

    attempted = len(res.ops)
    failed = sum(1 for o in res.ops if not o.ok)
    # the first set-up includes the process and JVM start; the later ones
    # restart the SparkContext in the same JVM
    e2e = {
        "setup_s": median(setups),
        "throughput_per_s": res.throughput,
        "op_ms": res.op_ms,
    }
    # printed, not in the JSON: JVM heap growth makes it spread too widely
    res.metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} run={run_id}")
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print(f"set-ups (s): first={setups[0]:.3f} restarts="
          + ",".join(f"{s:.3f}" for s in setups[1:]))
    print(f"{'metric':24s} {'value':>14s}  unit")
    for (name, unit) in END_TO_END:
        print(f"{name:24s} {e2e[name]:14.4f}  {unit}")
    for name, (value, unit) in res.metrics.items():
        print(f"{name:24s} {value:14.4f}  {unit}")
    print(f"{'failed_frac':24s} {failed / attempted:14.4f}  ratio  ({failed}/{attempted})")
    kinds: dict = {}
    for o in res.ops:
        kinds.setdefault(o.kind, []).append(o.wall_s)
    print("operations: " + ", ".join(f"{k} {len(v)}x {sum(v):.2f}s" for k, v in kinds.items())
          + f"; timed phase {timed_wall:.2f}s")
    for o in res.ops:
        if not o.ok:
            print(f"FAILED {o.kind}: {o.error or 'output mismatch'}")

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "setups_s": setups, "timed_wall_s": timed_wall, "e2e": e2e,
              "workload_metrics": {k: v[0] for k, v in res.metrics.items()},
              "operations": kinds,
              "attempted": attempted, "failed": failed}
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f)

    if args.trace:
        timed_s = sum(o.wall_s for o in res.ops if not o.kind.startswith("check"))
        layers = tracer.finish(res.units, timed_s, host["cores"])
        tracing.print_layers(layers, tracer.span_file)
        tracing.print_overhead(results_dir, record)
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit in tracing.PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)
    print(json.dumps({"correct": res.mismatches == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
