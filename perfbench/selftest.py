"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py            # all tests
    python3 perfbench/selftest.py defect     # one test by name

Each test but ``mint`` runs ``perfbench/run.py`` in a subprocess
exactly as a measured run does and inspects its exit code and result
line:

- ``smoke_<workload>``: one set-up and one pass on the measured path
  (``--trace 0``); every end-to-end metric is printed and positive.
- ``defect``: a request batch with one decision dropped before its
  check must fail the run.
- ``groups`` / ``traced_corpus_ops``: a traced run prints every
  declared per-layer metric and every Spark job falls in exactly one
  job group; in a request the per-round groups carry the engine's jobs
  and the bulk-convert thread's jobs are attributed by their pool.
- ``bare``: in a directory holding only BENCHMARK.json and perfbench/,
  the command exits non-zero without printing a result.
- ``mint``: minting is byte-identical for a seed and differs across
  seeds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT, timeout: int = 300):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return proc.returncode, result, proc


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _check_metrics(res: dict, kind: str) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == _declared(kind), (kind, got)


def smoke(workload: str) -> None:
    rc, res, proc = bench("--workload", workload, "--seed", "1",
                          "--seconds", "0", "--trace", "0")
    assert rc == 0, proc.stderr[-2000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    _check_metrics(res, "end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values()), res


def defect() -> None:
    rc, res, proc = bench("--workload", "service", "--seed", "1",
                          "--seconds", "0", "--trace", "0", "--plant-defect")
    assert rc != 0, "a dropped decision went unnoticed"
    assert res is not None and not res["correct"] and res["failed"] >= 1, res


def traced(workload: str) -> dict[str, float]:
    """A traced run prints every declared per-layer metric, and every
    Spark job of the run falls in exactly one job group."""
    rc, res, proc = bench("--workload", workload, "--seed", "1",
                          "--seconds", "0", "--trace", "1")
    assert rc == 0, proc.stderr[-2000:]
    assert res["correct"], res
    _check_metrics(res, "per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.jobs"] > 0 and m["trace.jobs_ungrouped"] == 0, m
    return m


def groups() -> None:
    m = traced("service")
    # the per-round groups carry the engine's jobs; the convert, LLM and
    # lakehouse layers ran and were measured
    assert m["frontier.rounds"] >= 1 and m["frontier.jobs_per_round"] >= 1, m
    assert m["convert.rows"] > 0 and m["convert.task_s"] > 0, m
    assert m["lakehouse.commits"] >= 1 and m["service.response_s"] > 0, m


def bare() -> None:
    tmp = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        rc, res, proc = bench("--workload", "service", "--seed", "1",
                              "--seconds", "1", "--trace", "0", cwd=tmp,
                              timeout=180)
        assert rc != 0 and res is None, (rc, proc.stdout[-500:])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def mint() -> None:
    sys.path.insert(0, HERE)
    import datagen

    tmp = os.path.join(HERE, ".work", "mint-test")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        digests = []
        for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
            for scale in datagen.SCALES:
                _, digest = datagen.ensure_inputs(os.path.join(tmp, sub), scale, seed)
                digests.append((sub, scale, digest))
        by = {(sub, scale): d for sub, scale, d in digests}
        for scale in datagen.SCALES:
            assert by[("a", scale)] == by[("b", scale)], scale
            assert by[("a", scale)] != by[("c", scale)], scale
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


TESTS = {
    "mint": mint,
    "smoke_service": lambda: smoke("service"),
    "smoke_corpus_ops": lambda: smoke("corpus_ops"),
    "defect": defect,
    "groups": groups,
    "traced_corpus_ops": lambda: traced("corpus_ops"),
    "bare": bare,
}


def main(names: list[str]) -> int:
    failures = 0
    for name in names or list(TESTS):
        try:
            TESTS[name]()
            print(f"ok    {name}", flush=True)
        except AssertionError as exc:
            failures += 1
            print(f"FAIL  {name}: {str(exc)[:2000]}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
