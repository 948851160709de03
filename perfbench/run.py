"""Crawl-engine benchmark: one command per workload.

    python3 perfbench/run.py --workload service --seed 1 --seconds 10 --trace 0

Run from the repository root. The command mints its inputs from
``--seed`` (reused across runs), starts one Spark session on
``local[<cpus>]``, warms the workload up, times as many whole passes
of the workload as take about ``--seconds`` seconds at its nominal
pass time, checks every operation's output outside the timed region,
and prints one JSON object as the last line of standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics (see
perfbench/tracing.py). The line before it is a context record (input
and source digests, versions, load average, per-operation times). The
exit code is 0 only if every operation passed its check.

Two workloads (perfbench/workloads.py): ``service`` and
``corpus_ops``. End-to-end metrics, printed for both:

- ``setup_s``: process start to the end of the untimed warm-up (JVM
  and session start, graph registration, the base-store build or the
  warm pass); minting inputs and computing the oracles is excluded.
- ``throughput_per_s``: work per timed second -- requests served and
  checked (service) or operator queries completed and checked
  (corpus_ops) -- over the whole timed region.
- ``latency_s``: seconds per operation of a timed pass -- one request
  batch from submission to its last response row (service) or one
  query (corpus_ops) -- median over passes.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "volltextextraktion_selenium_md_spark"


class Clock:
    """Accumulating timer used as ``with clock:`` around timed work;
    ``on_enter`` / ``on_exit`` run before / after each timed part."""

    def __init__(self, on_enter=None, on_exit=None):
        self.seconds = 0.0
        self.total = 0.0
        self.on_enter = on_enter
        self.on_exit = on_exit

    def __enter__(self):
        if self.on_enter is not None:
            self.on_enter()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t
        self.total += self.seconds
        if self.on_exit is not None:
            self.on_exit()
        return False


def source_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def settle(spark) -> None:
    """Isolate operations: drop cached relations and let the JVM's
    ContextCleaner release blocks of unreachable plans."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def retained(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of their stored blocks) after a settled pass."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    mb = sum(
        (i.memSize() + i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo()
    ) / 2**20
    return n, mb


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hook: drop one result row of the first timed operation
    # before its check, so the run must report a failure
    p.add_argument("--plant-defect", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]

    from volltextextraktion_selenium_md_spark.session import get_spark

    # --- benchmark prep (not part of setup_s): inputs and oracles ------
    t_prep = time.perf_counter()
    data_dir, input_digest = datagen.ensure_inputs(WORK, cls.scale, args.seed)
    workload = cls(data_dir, WORK)
    prep_s = time.perf_counter() - t_prep

    # the program under test runs with default knobs; only the CPU
    # count, scratch directories and worker import path are set
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # JVM scratch files (native libraries, artifacts) inside the
    # checkout; -XX:-UsePerfData keeps the JVMs from writing their
    # perf-counter file under the system /tmp (it turns off only the
    # jstat counters, not JIT or GC behaviour)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    load_start = os.getloadavg()

    tracer = None
    extra_conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        import tracing

        tracer = tracing.Tracer(WORK)
        extra_conf.update(tracer.spark_conf())

    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
    session_s = time.perf_counter() - t_session
    try:
        if tracer:
            tracer.attach(spark)
        t_warm = time.perf_counter()
        if tracer:
            tracer.begin_op("warm", False)
        workload.warm(spark)
        settle(spark)
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_PROCESS - prep_s

        # --- timed region ----------------------------------------------
        ops, retained_trail = [], []
        clock = Clock(*((tracer.before_timed, tracer.after_timed) if tracer else ()))
        per_pass = workload.ops_per_pass
        # a fixed number of whole passes, sized to --seconds at the
        # workload's nominal pass time: stopping on the clock instead
        # would time a third, faster (JIT-warmer) pass only when the
        # host happens to be fast. A traced run times three passes:
        # untraced, traced, untraced.
        n_passes = max(1, round(args.seconds / workload.nominal_pass_s))
        if tracer:
            n_passes = 3
        while len(ops) < n_passes * per_pass:
            traced = tracer is not None and tracer.next_op_traced(len(ops), per_pass)
            if tracer:
                tracer.begin_op(f"op{len(ops)}", traced)
            r = workload.run_op(
                spark, clock, plant_defect=args.plant_defect and not ops
            )
            if tracer:
                tracer.end_op(r, traced)
            ops.append(r)
            if len(ops) % per_pass == 0:
                settle(spark)
                retained_trail.append(retained(spark))
        load_end = os.getloadavg()
        versions = (spark.version,
                    spark.sparkContext._jvm.System.getProperty("java.version"))
    finally:
        if tracer:
            tracer.detach()
        stop(spark)
        workload.cleanup()

    attempted = len(ops)
    failed = sum(not r.ok for r in ops)
    timed_s = clock.total
    work = sum(r.work for r in ops)
    # latency: seconds per operation (a request batch, or a query) of
    # each timed pass, median over passes
    passes = [ops[i:i + workload.ops_per_pass]
              for i in range(0, len(ops), workload.ops_per_pass)]
    latencies = [sum(r.seconds for r in p) / len(p) for p in passes]

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "input_digest": input_digest,
        "source_digest": source_digest(),
        "scale": cls.scale,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "spark": versions[0],
        "java": versions[1],
        "loadavg_start": load_start[0],
        "loadavg_end": load_end[0],
        "prep_s": round(prep_s, 3),
        "session_s": round(session_s, 3),
        "warm_s": round(warm_s, 3),
        "op_s": [round(r.seconds, 3) for r in ops],
        # per-pass totals: a downward trend would mean warm-up was short
        "pass_s": [round(sum(r.seconds for r in p), 3) for p in passes],
        "op_names": [r.name for r in ops],
        # per operation: the service's engine / response split and the
        # fetch decisions each request batch made
        "op_split": [{k: v for k, v in r.detail.items()
                      if k in ("engine_s", "response_s", "decisions",
                               "rounds", "round_walls")}
                     for r in ops if "engine_s" in r.detail],
        "work": work,
        "work_unit": cls.unit,
        "latency_samples": len(latencies),
        # per pass: growth would mean a leak across passes
        "retained_persistent_rdds": [n for n, _ in retained_trail],
    }
    print("context " + json.dumps(context))

    if args.trace:
        metrics = tracer.metrics(
            workload=workload, session_s=session_s, warm_s=warm_s,
            retained_trail=retained_trail,
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_per_s": {"value": work / timed_s, "unit": "1/s"},
            "latency_s": {"value": statistics.median(latencies), "unit": "s"},
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
