"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start one benchmark process per case and take a few
minutes in total.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

from checks import canon_rows, value_hash  # noqa: E402
from stats import tail  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402


def test_tail_rule_none_below_eleven_samples():
    assert tail(list(range(10))) is None


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 250])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    p, v = tail(xs)
    assert sum(x > v for x in xs) >= 10
    # one percentile higher leaves fewer than ten samples beyond
    assert p == 100 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_examples():
    assert tail(range(20)) == (50, 9)
    assert tail(range(100)) == (90, 89)
    assert tail(range(11)) == (9, 0)


def test_self_time_is_span_minus_children():
    spans = [
        Span(1, None, "pass", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 3.0),
        Span(3, 1, "b", 2.0, 5.0),  # overlaps a: covered 1..5
        Span(4, 1, "c", 7.0, 8.0),
        Span(5, 4, "d", 7.5, 9.0),  # clipped to its parent c
        Span(6, 1, "e", 9.5, 11.0),  # clipped to the pass
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    assert st[2] == pytest.approx(2.0)


def test_tracer_nests_spans_per_thread():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert self_times(tr.spans)[outer.id] <= outer.duration - inner.duration + 1e-9


def test_value_hash_is_order_insensitive_and_catches_corruption():
    cols = ["b", "a"]
    rows = [(1, 0.1 + 0.2), (2, "x"), (3, None)]
    assert value_hash(cols, rows) == value_hash(list(reversed(cols)), [tuple(reversed(r)) for r in rows[::-1]])
    assert value_hash(cols, rows) == value_hash(cols, [(1, 0.3), (2, "x"), (3, None)])
    corrupted = [(1, 0.31), (2, "x"), (3, None)]
    assert value_hash(cols, rows) != value_hash(cols, corrupted)
    assert canon_rows(cols, rows) != canon_rows(cols, corrupted)


@pytest.fixture(scope="module")
def toy_run(tmp_path_factory):
    """A Run on a small session with one registered toy query whose build
    runs one eager job and whose collect runs another."""
    import run as bench
    from tracing import Processes

    from wfc3_cte_monitor_spark.session import get_spark

    os.environ["PYTHONPATH"] = ROOT
    spark = get_spark("perfbench-test", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})

    def toy(spark, _data):
        n = spark.range(1000).where("id % 7 = 0").count()  # a build-time job
        return spark.range(100).selectExpr(f"id * {n} % 10 AS k").groupBy("k").count()

    args = SimpleNamespace(workload="toy", seed=0, seconds=0, trace=1)
    r = bench.Run(args, str(tmp_path_factory.mktemp("w")), log=SimpleNamespace(errors=0), expected=None)
    r.spark, r.sc, r.procs = spark, spark.sparkContext, Processes()
    r.specs = {"toy": SimpleNamespace(fn=toy)}
    yield r
    spark.stop()


def test_jobs_are_attributed_to_build_and_exec_by_group(toy_run):
    r = toy_run
    r.expected = None
    tracker = r.sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rec = r.run_query("toy", "", traced=True)
    assert rec["ok"]
    assert rec["build"]["jobs"] >= 1 and rec["exec"]["jobs"] >= 1
    assert rec["exec"]["tasks"] >= 1 and rec["exec"]["task_run_s"] >= 0
    # every job the query ran carries one of its two groups
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert 0 <= rec["build_driver_only_s"] <= rec["build_s"]


def test_corrupted_output_fails_the_operation(toy_run):
    r = toy_run
    r.expected = None
    good = r.run_query("toy", "", traced=False)["hash"]
    r.expected = {"toy/toy": good}
    assert r.run_query("toy", "", traced=False)["ok"]
    failed = r.failed
    r.expected = {"toy/toy": good.replace(good[-1], "0" if good[-1] != "0" else "1")}
    assert not r.run_query("toy", "", traced=False)["ok"]
    assert r.failed == failed + 1


def _bench(workload: str, trace: int) -> tuple[int, dict, dict]:
    """Exit code, result line and facts line of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    *_, facts, result = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(result), json.loads(facts)["facts"]


@pytest.mark.parametrize("workload,trace", [
    ("cte-pipeline", 0), ("results-ingest", 0),
    ("cte-pipeline", 1), ("llm-corpus", 1), ("clone-corpus", 1), ("results-ingest", 1),
])
def test_smoke_every_metric_with_its_unit(workload, trace):
    import run as bench

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    code, out, facts = _bench(workload, trace)
    assert code == 0, out
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    units = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if trace and workload in ("llm-corpus", "clone-corpus"):
        # the clone corpus takes the collapsed plan, the distinct one declines it
        assert m["dedup.collapsed_frac"] == (workload == "clone-corpus")
        assert (m["bpe_batch.train_s"] > 0) == (workload == "llm-corpus")
    if trace and workload != "results-ingest":
        # build and collect account for the traced pass, less the tracing's
        # own work and the output checks (a fraction of a second)
        rest = facts["traced_pass_s"] - m["plans.build_s"] - m["exec.s"]
        assert m["trace.overhead_s"] <= rest <= m["trace.overhead_s"] + 0.5
