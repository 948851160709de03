"""The benchmark's workloads.

Each workload is one set of inputs plus the operation the benchmark
repeats on them:

- ``service``: one CrawlRequest batch served the way
  ``streaming/crawl.py``'s ``foreachBatch`` handler serves it --
  ``CrawlEngine(checkpoint_dir=store, new_seeds=batch, with_convert=True,
  with_llm=True)`` against a copy of a store built in set-up -- then
  every request's response read back through ``request_results``. Its
  work is the requests of the batch.
- ``corpus_ops``: operator queries over the minted corpus, one query
  per operation, cycling through a fixed list.

A workload prepares its correctness oracle before Spark starts (golden
replay, DuckDB), runs operations on the live session, and checks each
operation's output outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field, replace

import duckdb

# corpus_ops query list: one query per operator family of bench.py's
# sixteen-query suite -- a Python-kernel scalar query (preflight mint +
# extract), dedup (MinHash LSH), similarity search (cosine LSH) and
# images (decode + phash + banded Hamming join). The whole suite's cold
# first pass alone takes ~75 s at sf0.1 on 4 cores, more than a run
# can spend.
CORPUS_QUERIES = [
    "preflight_features",
    "minhash_lsh_pairs",
    "cosine_topk_lsh",
    "phash_near_dup",
]

# row counts of the crawl and service layers, reported by every traced
# run (0 where the layer does not run)
CRAWL_COUNTS = (
    "politeness.blocked", "politeness.deferred", "politeness.admit_ratio",
    "fetch.rows", "fetch.retry", "fetch.failed", "fetch.partition_skew",
    "seen.children", "seen.unseen", "seen.new_ratio", "seen.size",
    "convert.rows", "llm.rows",
)

# the ordered decision-log columns compared against the golden replay
CRAWL_KEY = ("ordinal", "round", "url", "depth", "lineage", "mode",
             "attempt", "outcome", "js_escalated")


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value hash of a result, with the same
    normalization as ``scripts/check_oracles.py``: columns sorted by
    name, floats to 6 significant digits, NULL as the empty string.
    Kept here rather than imported because that script loads the
    ``__spark_entry__`` module and its hard-coded data paths on import."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append(str(v).lower())
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif v is None:
                vals.append("")
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    return hashlib.sha256("\x1e".join(norm).encode()).hexdigest()[:16]


def _duckdb(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the minted base tables as views."""
    from volltextextraktion_selenium_md_spark.graph import BASE_TABLES

    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _tree_bytes(root: str, since: float = 0.0) -> int:
    """Bytes of the files under ``root`` last modified at or after
    ``since`` (all files with the default)."""
    total = 0
    for dirpath, _, filenames in os.walk(root):
        for fn in filenames:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime >= since:
                total += st.st_size
    return total


@dataclass
class OpResult:
    """One timed operation: its wall time, its units of work, and
    whether its output passed the check."""

    name: str
    seconds: float
    work: int
    ok: bool
    detail: dict = field(default_factory=dict)


class Service:
    """The graph's seed list split in two: the first half is crawled
    into the base store in set-up, to depth BASE_DEPTH; every operation
    copies that store and serves one request batch against the copy,
    under the golden-replay config (``CrawlConfig()``) with a budget of
    REQUEST_ROUNDS rounds. The batch is the second half's
    requests plus re-POSTs of every REPOST_EVERY-th first-half request
    (already extracted: the engine's anti-join drops them, and their
    responses come from the base crawl). The round budget is there
    because a request is round-latency-bound (4-9 s per round on 4
    cores, whether it fetches 5 pages or 40), and on these graphs a
    batch's own crawl ends after 2 to 4 rounds depending on the seed:
    an unbounded batch's latency would follow the seed rather than the
    engine. The base holds the first half's seed pages only (depth 0,
    one round), which keeps set-up short.
    The timed request is the first after the base build and still on
    the JIT warm-up curve (three requests in a row took 22.2, 17.6 and
    16.3 s); an untimed request in set-up would move it to the flatter
    part, but costs ~20 s of set-up that a run cannot spend."""

    scale = "service"
    unit = "requests"
    ops_per_pass = 1
    nominal_pass_s = 15.0   # one request batch on 4 cores
    REPOST_EVERY = 5
    REQUEST_ROUNDS = 2
    BASE_DEPTH = 0

    def __init__(self, data_dir: str, work_dir: str):
        from volltextextraktion_selenium_md_spark.config import CrawlConfig
        from volltextextraktion_selenium_md_spark.replay import (
            _load_graph,
            replay_crawl,
        )

        self.data_dir = data_dir
        self.cfg = CrawlConfig()
        self.base_cfg = replace(self.cfg, max_depth=self.BASE_DEPTH)
        self.req_cfg = replace(self.cfg, max_rounds=self.REQUEST_ROUNDS)
        self.base_dir = os.path.join(work_dir, f"service-base-{os.getpid()}")
        self.pass_dir = os.path.join(work_dir, f"service-pass-{os.getpid()}")
        seeds = _load_graph(data_dir)[2]          # in seed_idx order
        self.half = len(seeds) // 2
        base = seeds[:self.half]
        batch = seeds[self.half:] + base[::self.REPOST_EVERY]
        self.batch_idx = [s["seed_idx"] for s in batch]

        # the replay twin: the base crawl, then the batch against its
        # seen set, with the rounds numbered on from the base's
        g_base = replay_crawl(data_dir, self.base_cfg, seeds=base)
        g_req = replay_crawl(data_dir, self.req_cfg, seeds=batch,
                             initial_seen=g_base.seen,
                             start_round=g_base.rounds)
        gold = [dict(g) for g in g_base.crawl_order + g_req.crawl_order]
        for i, g in enumerate(gold, start=1):
            g["ordinal"] = i
        self.start_round = g_base.rounds
        self.gold_order = [tuple(g[k] for k in CRAWL_KEY) for g in gold]
        self.gold_seen = g_req.seen
        self.gold_blocked = sorted(g_base.blocked + g_req.blocked)
        self.gold_decisions = len(g_req.crawl_order)
        self.gold_converted = sorted(
            g["url"] for g in g_req.crawl_order if g["outcome"] == "fetched"
        )
        # each request's response: its lineage subtree in crawl order
        self.gold_response = {}
        for idx in self.batch_idx:
            prefix = f"{idx:06d}"
            self.gold_response[idx] = [
                (g["url"], g["lineage"], g["outcome"]) for g in gold
                if g["lineage"] == prefix or g["lineage"].startswith(prefix + ".")
            ]

    def _engine(self, spark, cfg, store: str, seeds):
        from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine

        return CrawlEngine(
            spark, self.data_dir, cfg=cfg, checkpoint_dir=store,
            new_seeds=seeds, with_convert=True, with_llm=True,
        )

    def warm(self, spark) -> None:
        """Set-up: the base store, built by the same request call from
        the first half of the seed list. It runs every code path of a
        request once except the resume read."""
        from volltextextraktion_selenium_md_spark import graph

        graph.register_graph_views(spark, self.data_dir)
        seeds = graph.seeds(spark)
        rows = seeds.orderBy("seed_idx").collect()
        self.schema = seeds.schema
        self.batch_rows = rows[self.half:] + rows[:self.half:self.REPOST_EVERY]
        shutil.rmtree(self.base_dir, ignore_errors=True)
        self._engine(
            spark, self.base_cfg, self.base_dir,
            spark.createDataFrame(rows[:self.half], self.schema),
        ).run()

    def run_op(self, spark, clock, plant_defect: bool = False) -> OpResult:
        """One request batch against a fresh copy of the base store.
        ``clock`` brackets submitting the batch through reading every
        row of every response."""
        from volltextextraktion_selenium_md_spark.sources.lakehouse import SnapshotStore
        from volltextextraktion_selenium_md_spark.streaming import crawl as service

        store = self.pass_dir
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(self.base_dir, store)
        batch = spark.createDataFrame(self.batch_rows, self.schema)
        t_start = time.time()
        with clock:
            res = self._engine(spark, self.req_cfg, store, batch).run()
            t_engine = time.perf_counter()
            responses = {
                idx: service.request_results(spark, store, idx).collect()
                for idx in self.batch_idx
            }
        response_s = time.perf_counter() - t_engine
        written = _tree_bytes(store, since=t_start)
        store_bytes = _tree_bytes(store)

        # the engine's log in ordinal order, and the store's cumulative
        # log (no ordinal column there) in crawl order
        log = res.fetch_log.select(
            *CRAWL_KEY, "partition_id", "page_id", "content_type"
        ).collect()
        order = sorted(
            (tuple(r[k] for k in CRAWL_KEY) for r in log if r["outcome"] != "blocked"),
            key=lambda t: t[0],
        )
        snap = SnapshotStore(store)
        stored = snap.read(spark, "fetch_log").select(*CRAWL_KEY[1:]).collect()
        stored_order = sorted(
            (tuple(r) for r in stored if r["outcome"] != "blocked"),
            key=lambda t: (t[0], t[2], t[3]),     # round, depth, lineage
        )
        seen = {r["url"] for r in snap.read(spark, "seen").collect()}
        conv = res.conversions.select("url", "llm").collect()
        if plant_defect:
            order = order[:-1]
        blocked = sorted(r["url"] for r in stored if r["outcome"] == "blocked")
        got_response = {
            idx: [(r["url"], r["lineage"], r["outcome"])
                  for r in rows if r["outcome"] != "blocked"]
            for idx, rows in responses.items()
        }
        decisions = sum(1 for t in order if t[1] >= self.start_round)
        ok = (
            order == self.gold_order
            and stored_order == [t[1:] for t in self.gold_order]
            and seen == self.gold_seen
            and blocked == self.gold_blocked
            and decisions == self.gold_decisions
            and got_response == self.gold_response
            and sorted(r["url"] for r in conv) == self.gold_converted
        )
        shutil.rmtree(store, ignore_errors=True)
        return OpResult("request", clock.seconds, len(self.batch_idx), ok, {
            "log": [r for r in log if r["round"] >= self.start_round],
            "seen": len(seen),
            "decisions": decisions,
            "rounds": res.rounds - self.start_round,
            "round_walls": res.round_walls,
            "engine_s": clock.seconds - response_s,
            "response_s": response_s,
            "converted": len(conv),
            "llm": sum(r["llm"] is not None for r in conv),
            "written_bytes": written,
            "store_bytes": store_bytes,
        })

    def layer_counts(self, op_records: list[dict], counts: list[tuple]) -> dict:
        """Row counts of the politeness, fetch, seen, convert and LLM
        layers per traced request, derived from each request's decision
        log, the frontier sizes its own counts returned (the request's
        first round's from the initial count, round k+1's from round
        k's closing count), and the graph's link table: no extra Spark
        jobs."""
        links = self._link_counts()
        sizes = defaultdict(list)
        for op, phase, n in counts:
            if phase == "init":
                sizes[op] = [n]          # the last init count is the first round's
            elif phase == "seen":
                sizes[op].append(n)      # each round's next-frontier count
        tot = defaultdict(float)
        skews, n_ops = [], max(1, len(op_records))
        for rec in op_records:
            n = sizes[rec["op"]]
            by_round = defaultdict(list)
            for r in rec["detail"]["log"]:
                by_round[r["round"] - self.start_round].append(r)
            for k, rows in sorted(by_round.items()):
                done = [r for r in rows if r["outcome"] != "blocked"]
                blocked = len(rows) - len(done)
                retry = sum(r["outcome"] == "retry" for r in done)
                deferred = n[k] - len(done) - blocked
                children = sum(
                    links.get(r["page_id"], 0) for r in done
                    if r["outcome"] == "fetched" and r["depth"] < self.cfg.max_depth
                    and (r["content_type"] or "").startswith("text/html")
                )
                tot["frontier"] += n[k]
                tot["admitted"] += len(done)
                tot["blocked"] += blocked
                tot["deferred"] += deferred
                tot["retry"] += retry
                tot["failed"] += sum(r["outcome"] == "failed" for r in done)
                tot["children"] += children
                tot["unseen"] += n[k + 1] - deferred - retry
                parts = defaultdict(int)
                for r in done:
                    parts[r["partition_id"]] += 1
                if parts:
                    skews.append(max(parts.values()) / (len(done) / len(parts)))
            tot["seen"] += rec["detail"]["seen"]
            tot["converted"] += rec["detail"]["converted"]
            tot["llm"] += rec["detail"]["llm"]
        return {
            "politeness.blocked": tot["blocked"] / n_ops,
            "politeness.deferred": tot["deferred"] / n_ops,
            "politeness.admit_ratio": tot["admitted"] / max(1.0, tot["frontier"]),
            "fetch.rows": tot["admitted"] / n_ops,
            "fetch.retry": tot["retry"] / n_ops,
            "fetch.failed": tot["failed"] / n_ops,
            "fetch.partition_skew": statistics.median(skews) if skews else 0.0,
            "seen.children": tot["children"] / n_ops,
            "seen.unseen": tot["unseen"] / n_ops,
            "seen.new_ratio": tot["unseen"] / max(1.0, tot["children"]),
            "seen.size": tot["seen"] / n_ops,
            "convert.rows": tot["converted"] / n_ops,
            "llm.rows": tot["llm"] / n_ops,
        }

    def _link_counts(self) -> dict[int, int]:
        from volltextextraktion_selenium_md_spark.graph import GRAPH_VIEWS

        with _duckdb(self.data_dir) as con:
            for name, body in GRAPH_VIEWS.items():
                con.execute(f"CREATE VIEW {name} AS {body}")
            return dict(con.execute(
                "SELECT src_page_id, count(*) FROM g_links GROUP BY 1"
            ).fetchall())

    def cleanup(self) -> None:
        shutil.rmtree(self.base_dir, ignore_errors=True)
        shutil.rmtree(self.pass_dir, ignore_errors=True)


class CorpusOps:
    scale = "sf0.1"
    unit = "queries"

    def __init__(self, data_dir: str, work_dir: str):
        from volltextextraktion_selenium_md_spark import oracles

        self.data_dir = data_dir
        # the DuckDB oracles' hashes, kept next to the inputs for later
        # runs; the key covers the inputs, the oracle SQL and the hashing
        with open(os.path.join(data_dir, "DIGEST")) as f:
            key = f.read().strip()
        for src in (oracles.__file__, __file__):
            with open(src, "rb") as f:
                key += hashlib.sha256(f.read()).hexdigest()[:8]
        cache = os.path.join(data_dir, f"oracles-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                hashes = json.load(f)
        else:
            sqls = oracles.build_oracles()
            hashes = {}
            with _duckdb(data_dir) as con:
                for name in CORPUS_QUERIES:
                    if name in sqls:
                        cur = con.execute(sqls[name])
                        cols = [c[0] for c in cur.description]
                        hashes[name] = value_hash(cur.fetchall(), cols)
            with open(cache + f".tmp{os.getpid()}", "w") as f:
                json.dump(hashes, f)
            os.replace(cache + f".tmp{os.getpid()}", cache)
        # queries without an oracle take the warm-up's result as theirs
        self.expected: dict[str, str | None] = dict.fromkeys(CORPUS_QUERIES)
        self.expected.update(hashes)
        self.n_ops = 0

    ops_per_pass = len(CORPUS_QUERIES)
    nominal_pass_s = 10.0   # the four queries on 4 cores

    def warm(self, spark) -> None:
        """Untimed warm-up: one pass over the query list. Queries
        without an oracle take their reference result from it."""
        from volltextextraktion_selenium_md_spark.plans import queries as Q

        for name in CORPUS_QUERIES:
            df = getattr(Q, f"q_{name}")(spark, self.data_dir)
            rows = df.collect()
            if self.expected[name] is None and rows:
                self.expected[name] = value_hash([tuple(r) for r in rows], df.columns)

    def run_op(self, spark, clock, plant_defect: bool = False) -> OpResult:
        from volltextextraktion_selenium_md_spark.plans import queries as Q

        name = CORPUS_QUERIES[self.n_ops % len(CORPUS_QUERIES)]
        with clock:
            df = getattr(Q, f"q_{name}")(spark, self.data_dir)
            rows = df.collect()
        cols = df.columns
        if plant_defect and rows:
            rows = rows[:-1]
        got = value_hash([tuple(r) for r in rows], cols)
        # queries without an oracle must reproduce the warm-up's
        # non-empty result; a missing reference fails the check
        ok = got == self.expected[name]
        self.n_ops += 1
        return OpResult(name, clock.seconds, 1, ok, {"rows": len(rows)})

    def layer_counts(self, op_records: list[dict], counts: list[tuple]) -> dict:
        """No crawl runs here: the crawl layers' row counts are 0."""
        return dict.fromkeys(CRAWL_COUNTS, 0.0)

    def cleanup(self) -> None:
        pass


WORKLOADS = {"service": Service, "corpus_ops": CorpusOps}
