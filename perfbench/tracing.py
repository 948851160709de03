"""Traced run: spans around the engine's layers, Spark job groups, and
per-layer metrics read back from the Spark event log.

Nothing here edits program code. The tracer wraps, for the length of a
run, the module attributes the engine and the queries call, plus the
DataFrame actions that materialize their lazy plans, so construct time
(building a plan) and action time (running it) are separate spans:

- politeness: ``robots_split``, ``host_budget_split``, ``schedule_slots``
  as ``plans.frontier`` calls them. ``robots_split`` is the first call
  of every round, so it also opens the round's ``<op>:round<N>`` job
  group.
- fetch: ``simulated_fetch``; the eager checkpoint that follows it is
  the fetch checkpoint.
- seen: ``first_seen`` and ``operators.seen.filter_unseen_parts``; the
  count that follows them materializes children -> unseen -> next
  frontier, and eager checkpoints between them are seen compactions.
- post loop: ``global_ordinal`` opens the ``<op>:post`` job group.
- graph: ``graph.register_graph_views``.
- convert and LLM: ``convert_stage`` and ``plans.llm.llm_postprocess_stage``
  (construct time); their jobs run on the engine's bulk-convert thread
  in the ``bulk`` FAIR pool and are attributed by that pool.
- lakehouse: ``merge_into`` (on the bulk thread), ``SnapshotStore.commit``
  and ``SnapshotStore.read``.
- service: ``streaming.crawl.request_results``.
- queries: every ``plans.queries.q_*`` function (construct time).

Spans live in memory. Job, stage and task counts, task time, GC time,
shuffle and spill bytes and the Arrow bytes crossing the Python worker
boundary come from the event log, parsed after the session stops. Row
counts come from each operation's own output, so the traced run adds no
Spark jobs to the engine's. Times and counts are per traced operation
(one request batch, or one query) unless named per round.

A traced run times three passes: untraced, traced, untraced.
``trace.overhead_ratio`` is the mean traced operation time over the
mean untraced one; with the untraced passes on both sides, a steady
drift (JIT warm-up) cancels. The event log is on for the whole run, so
its cost is in neither side of that ratio.

Which end-to-end metric each layer should move, and where it should
stay flat (layers that do not run on a workload report 0 there):

    layer metrics              moves                       flat on
    session.*                  setup_s (both)              -
    graph.*, frontier.round0   latency_s (service)         corpus_ops
    frontier.*, politeness.*,  throughput_per_s,           corpus_ops
    fetch.*, seen.*            latency_s (service)
    convert.*, llm.*,          latency_s (service)         corpus_ops
    lakehouse.*, service.*
    queries.*                  throughput_per_s,           service
                               latency_s (corpus_ops)
    spark.*, retained.*        context for every row above -
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict

from workloads import CORPUS_QUERIES

PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _union_len(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, work_dir: str):
        self.log_dir = os.path.join(work_dir, f"eventlog-{os.getpid()}")
        shutil.rmtree(self.log_dir, ignore_errors=True)
        os.makedirs(self.log_dir)
        self.active = False
        self.spans: list[dict] = []       # name, op, phase, depth, t0, t1
        self.counts: list[tuple] = []     # (op, phase, value) of count()
        self.round_marks: list[tuple] = []  # (op, round, epoch start)
        self.op_records: list[dict] = []
        self.op_t0: dict[str, float] = {}
        self.op_windows: list[tuple] = [("setup", 0.0)]  # (op, epoch start)
        self.main_thread = threading.current_thread()
        self._patched: list[tuple] = []
        self.op = "setup"
        self.round = -1
        self.phase = "init"
        self.depth = 0

    # --- session wiring ------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
        }

    def attach(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from volltextextraktion_selenium_md_spark import graph
        from volltextextraktion_selenium_md_spark.operators import seen
        from volltextextraktion_selenium_md_spark.plans import frontier, llm, queries
        from volltextextraktion_selenium_md_spark.sources.lakehouse import SnapshotStore
        from volltextextraktion_selenium_md_spark.streaming import crawl

        self.sc = spark.sparkContext
        self._group("setup")
        self._wrap(frontier, "robots_split", "politeness.robots_split",
                   enter=self._new_round)
        self._wrap(frontier, "host_budget_split", "politeness.host_budget_split")
        self._wrap(frontier, "schedule_slots", "politeness.schedule_slots")
        self._wrap(frontier, "simulated_fetch", "fetch.construct", phase="fetch")
        self._wrap(frontier, "first_seen", "seen.first_seen", phase="seen")
        self._wrap(seen, "filter_unseen_parts", "seen.filter_unseen", phase="seen")
        self._wrap(frontier, "global_ordinal", "frontier.global_ordinal",
                   enter=self._post_loop)
        self._wrap(graph, "register_graph_views", "graph.register")
        self._wrap(frontier, "convert_stage", "convert.construct")
        self._wrap(llm, "llm_postprocess_stage", "llm.construct")
        self._wrap(frontier, "merge_into", "lakehouse.merge")
        self._wrap(SnapshotStore, "commit", "lakehouse.commit")
        self._wrap(SnapshotStore, "read", "lakehouse.read")
        self._wrap(crawl, "request_results", "service.request_results")
        for name in dir(queries):
            if name.startswith("q_"):
                self._wrap(queries, name, "queries.construct")
        for action in ("count", "collect", "localCheckpoint"):
            self._wrap(DataFrame, action, f"action.{action}", action=True)

    def detach(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def _wrap(self, owner, name, span, phase=None, enter=None, action=False):
        orig = getattr(owner, name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            if threading.current_thread() is not tracer.main_thread:
                # the engine's bulk-convert thread: a flat span, and no
                # change to the loop thread's round / phase / depth
                rec = {"name": span, "op": tracer.op, "phase": "bulk",
                       "depth": 0, "t0": time.time()}
                try:
                    return orig(*args, **kwargs)
                finally:
                    rec["t1"] = time.time()
                    tracer.spans.append(rec)
            if enter is not None:
                enter()
            if phase is not None and tracer.depth == 0 and tracer.round >= 0:
                tracer.phase = phase
            lazy = action and name == "localCheckpoint" and not kwargs.get(
                "eager", args[1] if len(args) > 1 else True
            )
            label = "action.lazyCheckpoint" if lazy else span
            rec = {"name": label, "op": tracer.op, "phase": tracer.phase,
                   "depth": tracer.depth, "t0": time.time()}
            tracer.depth += 1
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.depth -= 1
                rec["t1"] = time.time()
                tracer.spans.append(rec)
            if action and name == "count" and rec["depth"] == 0:
                tracer.counts.append((tracer.op, tracer.phase, out))
            return out

        setattr(owner, name, wrapper)
        self._patched.append((owner, name, orig))

    def _new_round(self) -> None:
        if self.depth:
            return
        self.round += 1
        self.phase = "politeness"
        self.round_marks.append((self.op, self.round, time.time()))
        self._group(f"{self.op}:round{self.round}")

    def _post_loop(self) -> None:
        if self.depth:
            return
        self.phase = "post"
        self.round_marks.append((self.op, "post", time.time()))
        self._group(f"{self.op}:post")

    # --- per-operation bookkeeping --------------------------------------
    def begin_op(self, op: str, traced: bool) -> None:
        self.op, self.round, self.phase = op, -1, "init"
        self.active = traced
        self._group(op if traced else f"{op}:untraced")
        self.op_t0[op] = time.time()
        self.op_windows.append((op, self.op_t0[op]))

    def before_timed(self) -> None:
        """The operation's timed part starts (after any untimed
        preparation, such as copying the service's base store)."""
        self.op_t0[self.op] = time.time()

    def after_timed(self) -> None:
        """The operation's timed part ended; what follows is checking,
        which is not traced."""
        if self.active:
            self.round_marks.append((self.op, "end", time.time()))
        self.active = False
        self._group(f"{self.op}:check")

    def end_op(self, result, traced: bool) -> None:
        self.op_records.append({"op": self.op, "traced": traced,
                                "name": result.name, "seconds": result.seconds,
                                "detail": result.detail})
        self.active = False

    @staticmethod
    def next_op_traced(n_done: int, ops_per_pass: int) -> bool:
        """Of the three passes, the middle one is traced."""
        return n_done // ops_per_pass == 1

    def _op_at(self, t: float) -> str:
        """The operation running at epoch time ``t``."""
        op = "setup"
        for name, t0 in self.op_windows:
            if t0 <= t:
                op = name
        return op

    def _resolve_group(self, props: dict, t: float) -> str | None:
        """A job's or stage's group: its job group, or for the engine's
        bulk-convert thread (no job group, ``bulk`` pool) the group
        ``<op>:bulk`` of the operation running when it was submitted."""
        group = props.get("spark.jobGroup.id")
        if not group and props.get("spark.scheduler.pool") == "bulk":
            group = f"{self._op_at(t)}:bulk"
        return group

    # --- event log -------------------------------------------------------
    def _read_events(self):
        jobs, stages, tasks = {}, {}, defaultdict(list)
        # Spark 4 writes a rolling event log: a directory of numbered
        # event files, read in order
        paths = sorted(
            glob.glob(os.path.join(self.log_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        t0 = ev["Submission Time"] / 1000.0
                        jobs[ev["Job ID"]] = {
                            "group": self._resolve_group(props, t0),
                            "t0": t0,
                            "t1": None,
                        }
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageSubmitted":
                        props = ev.get("Properties") or {}
                        info = ev["Stage Info"]
                        t0 = (info.get("Submission Time") or 0) / 1000.0
                        stages.setdefault(info["Stage ID"], {})["group"] = (
                            self._resolve_group(props, t0))
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        st = stages.setdefault(info["Stage ID"], {})
                        st["tasks"] = info.get("Number of Tasks", 0)
                        acc = defaultdict(float)
                        for a in info.get("Accumulables", []):
                            if a.get("Name") in PYTHON_BYTES:
                                try:
                                    acc[a["Name"]] += float(a["Value"])
                                except (TypeError, ValueError):
                                    pass
                        st["acc"] = acc
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        tasks[ev["Stage ID"]].append((
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("JVM GC Time", 0) / 1000.0,
                            (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        ))
        return jobs, stages, tasks

    # --- metrics -----------------------------------------------------------
    def metrics(self, *, workload, session_s, warm_s, retained_trail) -> dict:
        jobs, stages, tasks = self._read_events()
        shutil.rmtree(self.log_dir, ignore_errors=True)
        traced = [r for r in self.op_records if r["traced"]]
        traced_ops = {r["op"] for r in traced}
        n_traced = max(1, len(traced))
        out: dict[str, tuple[float, str]] = {}

        def put(name, value, unit):
            out[name] = (float(value), unit)

        def span_s(*names, phase=None, top=True):
            """Seconds in the named spans per traced operation."""
            return sum(s["t1"] - s["t0"] for s in self.spans
                       if s["name"] in names and s["op"] in traced_ops
                       and (phase is None or s["phase"] == phase)
                       and (not top or s["depth"] == 0)) / n_traced

        def span_n(name, phase):
            return sum(1 for s in self.spans
                       if s["name"] == name and phase in (None, s["phase"])
                       and s["op"] in traced_ops and s["depth"] == 0) / n_traced

        put("session.start_s", session_s, "s")
        put("session.warm_s", warm_s, "s")
        put("graph.register_s", span_s("graph.register", top=False), "s")

        # every job must fall in exactly one group
        put("trace.jobs", len(jobs), "count")
        put("trace.jobs_ungrouped", sum(1 for j in jobs.values() if not j["group"]), "count")
        jobs_by_group = defaultdict(list)
        for j in jobs.values():
            jobs_by_group[j["group"]].append(j)
        stages_by_group = defaultdict(list)
        for sid, st in stages.items():
            if "tasks" in st:
                stages_by_group[st.get("group")].append(sid)

        # --- rounds (plans.frontier) ---------------------------------------
        walls, round0, post, gaps, r_jobs, r_stages, r_tasks = ([] for _ in range(7))
        for op in sorted(traced_ops):
            seq = [(r, t) for o, r, t in self.round_marks if o == op]
            rounds = [(r, t) for r, t in seq if isinstance(r, int)]
            marks = dict((r, t) for r, t in seq if not isinstance(r, int))
            if not rounds:
                continue
            round0.append(rounds[0][1] - self.op_t0[op])
            if "post" in marks and "end" in marks:
                post.append(marks["end"] - marks["post"])
            ends = [t for _, t in rounds[1:]] + [marks.get("post", marks.get("end"))]
            for (rnd, t0), t1 in zip(rounds, ends):
                group = f"{op}:round{rnd}"
                gj, gs = jobs_by_group[group], stages_by_group[group]
                walls.append(t1 - t0)
                r_jobs.append(len(gj))
                r_stages.append(len(gs))
                r_tasks.append(sum(stages[s]["tasks"] for s in gs))
                covered = _union_len([(j["t0"], j["t1"] or t1) for j in gj], t0, t1)
                gaps.append(t1 - t0 - covered)
        put("frontier.rounds", len(walls) / n_traced, "count")
        put("frontier.round0_s", _median(round0), "s")
        put("frontier.round_p50_s", _median(walls), "s")
        put("frontier.round_max_s", max(walls, default=0.0), "s")
        put("frontier.post_loop_s", _median(post), "s")
        put("frontier.jobs_per_round", _median(r_jobs), "count")
        put("frontier.stages_per_round", _median(r_stages), "count")
        put("frontier.tasks_per_round", _median(r_tasks), "count")
        put("frontier.driver_gap_s", _median(gaps), "s")

        # --- construct / action spans per layer ---------------------------
        put("politeness.construct_s", span_s(
            "politeness.robots_split", "politeness.host_budget_split",
            "politeness.schedule_slots"), "s")
        put("fetch.construct_s", span_s("fetch.construct"), "s")
        put("fetch.ckpt_s", span_s("action.localCheckpoint", phase="fetch"), "s")
        put("seen.construct_s", span_s("seen.first_seen", "seen.filter_unseen",
                                       phase="seen"), "s")
        put("seen.count_s", span_s("action.count", phase="seen"), "s")
        put("seen.compactions", span_n("action.localCheckpoint", "seen"), "count")

        # --- row counts from the operations' own outputs -----------------
        for name, value in workload.layer_counts(traced, self.counts).items():
            put(name, value, "ratio" if name.endswith(("ratio", "skew")) else "count")

        # --- convert / LLM: the bulk-pool jobs -----------------------------
        bulk = [s for g in jobs_by_group if g and g.endswith(":bulk")
                and g.split(":")[0] in traced_ops for s in stages_by_group[g]]
        put("convert.task_s", sum(t[0] for s in bulk for t in tasks.get(s, []))
            / n_traced, "s")
        put("convert.python_mb", sum(stages[s]["acc"].get(k, 0.0) for s in bulk
                                     for k in PYTHON_BYTES) / n_traced / 2**20, "MB")

        # --- lakehouse and service -----------------------------------------
        def detail(key):
            return [r["detail"][key] for r in traced if key in r["detail"]]

        decisions = sum(r["detail"]["decisions"] for r in traced
                        if "decisions" in r["detail"])
        written = sum(detail("written_bytes"))
        put("lakehouse.commits", span_n("lakehouse.commit", None), "count")
        put("lakehouse.commit_s", span_s("lakehouse.commit", top=False), "s")
        put("lakehouse.merge_s", span_s("lakehouse.merge", top=False), "s")
        put("lakehouse.read_s", span_s("lakehouse.read", top=False), "s")
        put("lakehouse.written_mb", written / n_traced / 2**20, "MB")
        put("lakehouse.bytes_per_decision", written / max(1, decisions), "B")
        put("lakehouse.store_mb", _median(detail("store_bytes")) / 2**20, "MB")
        put("service.engine_s", _median(detail("engine_s")), "s")
        put("service.response_s", _median(detail("response_s")), "s")

        # --- queries --------------------------------------------------------
        qtimes = defaultdict(list)
        for r in traced:
            qtimes[r["name"]].append(r["seconds"])
        for name in CORPUS_QUERIES:
            put(f"queries.{name}_s", _median(qtimes[name]), "s")
        n_q = sum(len(qtimes[name]) for name in CORPUS_QUERIES)
        construct = span_s("queries.construct") * n_traced
        executed = sum(sum(qtimes[name]) for name in CORPUS_QUERIES)
        put("queries.construct_s", construct / max(1, n_q), "s")
        put("queries.execute_s", (executed - construct) / max(1, n_q), "s")

        # --- Spark-wide, per traced operation ------------------------------
        groups = [g for g in jobs_by_group
                  if g and g.split(":")[0] in traced_ops and not g.endswith(":check")]
        op_stages = [s for g in groups for s in stages_by_group[g]]
        t_run = [t for s in op_stages for t in tasks.get(s, [])]
        put("spark.jobs", sum(len(jobs_by_group[g]) for g in groups) / n_traced, "count")
        put("spark.stages", len(op_stages) / n_traced, "count")
        put("spark.tasks", len(t_run) / n_traced, "count")
        put("spark.task_s", sum(t[0] for t in t_run) / n_traced, "s")
        put("spark.gc_s", sum(t[1] for t in t_run) / n_traced, "s")
        put("spark.shuffle_write_mb", sum(t[2] for t in t_run) / n_traced / 2**20, "MB")
        put("spark.spill_mb", sum(t[3] for t in t_run) / n_traced / 2**20, "MB")
        py_bytes = sum(stages[s]["acc"].get(k, 0.0) for s in op_stages for k in PYTHON_BYTES)
        put("spark.python_mb", py_bytes / n_traced / 2**20, "MB")

        put("retained.persistent_rdds", max(n for n, _ in retained_trail), "count")
        put("retained.rdd_growth", retained_trail[-1][0] - retained_trail[0][0], "count")
        put("retained.storage_mb", max(mb for _, mb in retained_trail), "MB")

        plain = [r["seconds"] for r in self.op_records if not r["traced"]]
        put("trace.overhead_ratio",
            statistics.fmean(r["seconds"] for r in traced) / statistics.fmean(plain), "ratio")
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
