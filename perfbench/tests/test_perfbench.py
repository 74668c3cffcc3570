"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

They cover the seeded generators, every correctness checker against a
deliberately corrupted result, the printed metric names and units
against BENCHMARK.json, a tiny-size smoke run of every workload, the
ending of every process a run started, and the refusal to run without
the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)


# ------------------------------------------------------------ generators

@pytest.mark.parametrize("make", [
    lambda s: gen.versioned_cells(s, 50),
    lambda s: gen.wave_cells(s, 1, 50, 20, 5, 3, ts0=5000, seq0=1000),
    lambda s: gen.request_mix(s, 50, 200, ts0=100),
    lambda s: gen.corpus_docs(s, 40),
    lambda s: gen.embeddings(s, 20),
])
def test_generators_deterministic_per_seed_and_differ_across_seeds(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_generated_inputs_hold_their_stated_properties():
    cells = gen.versioned_cells(3, 400)
    types = {c[4] for c in cells}
    assert types == {gen.PUT, gen.DELETE, gen.DELETE_COLUMN, gen.DELETE_FAMILY}
    reqs = gen.request_mix(3, 400, 1000, ts0=100)
    kinds = [r[0] for r in reqs]
    assert kinds.count("get") == 800 and kinds.count("put") == 100
    ts = [r[-1] for r in reqs if r[0] != "get"]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    docs, planted = gen.corpus_docs(3, 100)
    assert len(docs) == 100 and len({d[0] for d in docs}) == 100
    assert planted and all(a < b for a, b in planted)


# -------------------------------------------------------------- checkers

def test_visible_model_applies_each_tombstone_type():
    r = "r0000001"
    cells = [
        (r, "a", "q0", 100, gen.PUT, 1, "old"),
        (r, "a", "q0", 200, gen.PUT, 2, "new"),
        (r, "a", "q0", 200, gen.DELETE, 3, None),          # exact version
        (r, "a", "q1", 100, gen.PUT, 4, "x"),
        (r, "a", "q1", 150, gen.DELETE_COLUMN, 5, None),   # all <= 150
        (r, "b", "q0", 100, gen.PUT, 6, "y"),
        (r, "b", None, 100, gen.DELETE_FAMILY, 7, None),   # family b <= 100
        (r, "b", "q1", 300, gen.PUT, 8, "z"),
    ]
    assert gen.visible_model(cells) == {(r, "a", "q0"): "old", (r, "b", "q1"): "z"}


def _write_cells(tmp_path, cells) -> list[str]:
    return [workloads.write_cells(str(tmp_path / "cells.parquet"), cells)]


def test_oracle_and_model_agree_and_a_dropped_tombstone_is_caught(tmp_path):
    cells = gen.versioned_cells(5, 60)
    model = gen.visible_model(cells)
    rows = check.oracle_rows(_write_cells(tmp_path, cells), max_versions=1,
                             family_max_versions=workloads.CAPS)
    assert check.model_mismatches(model, rows) == []
    tomb = next(c for c in cells if c[4] != gen.PUT)
    dropped = [c for c in cells if c is not tomb]
    rows = check.oracle_rows(_write_cells(tmp_path, dropped), max_versions=1,
                             family_max_versions=workloads.CAPS)
    assert check.model_mismatches(model, rows)


def test_model_check_catches_a_lost_put():
    model = {("r1", "a", "q0"): "v1", ("r2", "a", "q0"): "v2"}
    cells = [("r1", "a", "q0", 10, "v1")]
    assert check.model_mismatches(model, cells)
    assert check.model_mismatches(model, cells + [("r2", "a", "q0", 11, "v2")]) == []


def test_get_response_check():
    row = {("a", "q0"): "v"}
    body = json.dumps({"cells": [{"row": "r", "family": "a", "qualifier": "q0",
                                  "ts": 1, "value": "v"}]}).encode()
    assert check.get_response_ok(row, 200, body) is None
    assert check.get_response_ok({}, 404, b"{}") is None
    assert check.get_response_ok(row, 404, b"{}")                 # lost put
    assert check.get_response_ok({}, 200, body)                   # lost delete
    assert check.get_response_ok({("a", "q0"): "w"}, 200, body)   # stale value


def test_digest_is_order_insensitive_and_sees_a_dropped_row():
    rows = [("r1", "a", "q0", 1, "x"), ("r2", "a", "q0", 2, "y")]
    assert check.digest(rows) == check.digest(rows[::-1])
    assert check.digest(rows) != check.digest(rows[:1])


def test_pairs_and_topk_checks_reject_corruption():
    planted = {(1, 5), (1, 9), (5, 9)}
    assert check.pairs_ok([(5, 1), (9, 1)], planted) is None
    assert check.pairs_ok([(1, 5), (2, 3)], planted)      # unplanted pair
    assert check.pairs_ok([], planted)                    # recall collapsed
    vecs, qs = gen.embeddings(1, 30, dim=4, n_queries=2)
    want = check.topk_expected(vecs, qs, 3)
    assert len(want) == 6
    assert want != check.topk_expected(vecs[1:], qs, 3)


# -------------------------------------------- metric names against contract

class _FakeRun:
    loop_wall_s = 1.0
    session_s = warmup_s = 1.0
    setup_samples = [1.0]
    items, items_time_s = 1, 1.0

    def latencies_ms(self, *kinds):
        return [1.0]


def test_printed_metrics_match_benchmark_json(tmp_path):
    from perfbench import run
    from perfbench.trace import Tracer

    e2e = run._end_to_end(_FakeRun(), 1.0)
    layer = Tracer().per_layer(_FakeRun(), str(tmp_path), 0.1)
    for got, listed in ((e2e, CONTRACT["end_to_end"]),
                        (layer, CONTRACT["per_layer"])):
        selected = run._select(got, listed)
        assert [m["name"] for m in listed] == list(selected)
        for m in listed:
            assert selected[m["name"]][1] == m["unit"], m["name"]


# ------------------------------------------------------------ smoke runs

def _run(args, cwd, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_tracer_records_only_the_loop_outside_untimed_checks(tmp_path):
    from perfbench.eventlog import EventLog
    from perfbench.harness import Run
    from perfbench.trace import Tracer

    tracer = Tracer()
    f = tracer.wrap(lambda x: x + 1, "f", "table")
    run = Run("w", 1, 1.0, str(tmp_path), tracer)
    assert f(1) == 2 and tracer.spans == []        # setup: not recorded
    t0 = run.loop_start()
    f(1)
    with run.untimed():
        f(1)                                       # a check: not recorded
    f(1)
    run.loop_end(t0)
    f(1)                                           # after the loop
    assert len(tracer.spans) == 2 and len(tracer.windows) == 2
    ev = EventLog()
    (a0, a1), (b0, b1) = tracer.windows
    ev.tasks = [dict(launch=a0, finish=a1, run_ms=1, retry=0),
                dict(launch=(a1 + b0) / 2, finish=b0, run_ms=100, retry=0),
                dict(launch=b1 + 1000, finish=b1 + 2000, run_ms=1000, retry=0)]
    for t in ev.tasks:
        t.update({k: 0 for k in ("cpu_ns", "gc_ms", "input_bytes", "input_records",
                                 "output_bytes", "shuffle_write_bytes",
                                 "shuffle_read_bytes", "fetch_wait_ms",
                                 "spill_bytes")})
    assert ev.task_totals(tracer.windows)["run_ms"] == 1


_ORPHAN = """
import json, os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import harness
harness.adopt_orphans()
# a child that starts a long-lived grandchild and exits, orphaning it
subprocess.run([sys.executable, "-c", "import subprocess, sys; subprocess.Popen("
                "[sys.executable, '-c', 'import time; time.sleep(600)'])"])
left = harness._descendants(os.getpid())
harness.end_processes(None, grace_s=0.5)
print(json.dumps([left, harness._descendants(os.getpid())]))
"""


def test_end_processes_ends_an_orphaned_grandchild():
    p = subprocess.run([sys.executable, "-c", _ORPHAN, ROOT], capture_output=True,
                       text=True, timeout=120)
    assert p.returncode == 0, p.stderr[-3000:]
    adopted, left = json.loads(p.stdout)
    assert len(adopted) == 1 and left == []
    assert not os.path.exists(f"/proc/{adopted[0]}")


def test_contract_lists_every_workload():
    assert sorted(w["name"] for w in CONTRACT["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", trace, "--size", "tiny"], ROOT)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    listed = CONTRACT["per_layer" if trace == "1" else "end_to_end"]
    assert list(last["metrics"]) == [m["name"] for m in listed]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "interactive_mixed", "--seed", "1", "--seconds", "1",
              "--trace", "0"], str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
