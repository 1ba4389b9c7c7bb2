"""Self-tests of the benchmark's own tooling, on a tiny corpus.

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout; they start a local Spark session.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench import scenario  # noqa: E402
from perfbench.spans import SparkJobs, Tracer, totals  # noqa: E402

TINY = {
    "CORPUS_DOCS": 256,
    "INSERT_ROWS": 16,
    "INSERT_BATCHES": 8,
    "DELETE_SEALED": 4,
    "DELETE_INSERTED": 4,
    "MIN_DRIVER_QUERIES": 40,
    "WARM_QUERIES": 5,
    "BATCH": 4,
}


@pytest.fixture(scope="module")
def tiny_run():
    """A whole set-up on a tiny corpus, with Spark job counting on."""
    mp = pytest.MonkeyPatch()
    for name, value in TINY.items():
        mp.setattr(scenario, name, value)
    bench.pin_environment()
    from bm25spark.session import get_spark

    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    run = scenario.Run(spark, os.path.join(bench.WORK, "data"), "hot", 5, 2)
    run.jobs = SparkJobs(spark)
    run.generate()
    run.derive(windows=2)
    run.build()
    run.open_index()
    run.warm_up()
    yield run
    spark.stop()
    mp.undo()
    shutil.rmtree(bench.WORK, ignore_errors=True)


def _counts(run, kind: str) -> dict:
    sink: list = []
    fn = run.plan_round()[kind]
    with run.jobs.count(sink):
        fn()
    t = totals(sink[0]["jobs"])
    return {k: t[k] for k in ("jobs", "stages", "tasks")}


def test_job_counts_repeat_exactly(tiny_run):
    """The same call on the same index launches the same jobs, stages
    and tasks each time it runs warm."""
    for kind in ("dist", "batch"):
        first, second = _counts(tiny_run, kind), _counts(tiny_run, kind)
        assert first == second
        assert first["jobs"] > 0


def test_spans_cover_each_call(tiny_run):
    """Named-layer spans cover at least 90% of the traced window and of
    every timed call in it."""
    run = tiny_run
    run.tracer = Tracer(True)
    mark = run.tracer.mark()
    counts = dict.fromkeys(
        ("keys_requested", "keys_read", "bytes_read", "blocks_decoded", "postings_scored"), 0
    )
    with run.driver_layers(counts):
        w = run.window(0.1, run.plans[0])
    run.tracer.enabled = False
    assert run.tracer.root_time(mark) >= 0.9 * w["wall"]
    kind_of = {span: kind for kind, span in scenario.SPAN_OF.items()}
    seen = {kind: iter(lat) for kind, lat in w["lat"].items()}
    roots = [s for s in run.tracer.spans[mark:] if s[3] < 0]
    assert len(roots) == sum(len(v) for v in w["lat"].values())
    for name, t0, t1, _, _ in roots:
        assert t1 - t0 >= 0.9 * next(seen[kind_of[name]]), name
    assert counts["keys_requested"] > 0 and counts["postings_scored"] > 0
    assert set(run.tracer.self_times(mark)) <= {
        "analyze", "index", "artifacts", "wand", "distributed", "maintain"
    }


def test_wrong_result_counts_as_failed(tiny_run):
    """A result that differs from what the checks expect is counted."""
    run = tiny_run
    w = run.window(0.1, run.plans[1])
    run.failed = 0
    run.check(w)
    assert run.failed == 0
    q, rows = w["results"]["dist"][0]
    wrong = [r.asDict() for r in rows]
    wrong[0]["score"] += 1.0
    w["results"]["dist"][0] = (q, wrong)
    run.check(w)
    assert run.failed == 1
    q, got = next((q, got) for q, got in w["results"]["driver"] if got)
    run.expected[q] = run.expected[q][1:]
    run.check(w)
    assert run.failed == 3


def test_same_ranking_allows_only_tied_swaps():
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert scenario.same_ranking([(1, 3.0), (3, 2.0)], want, k=2)
    assert not scenario.same_ranking([(1, 3.0), (4, 1.0)], want, k=2)
    assert not scenario.same_ranking([(1, 3.0)], want, k=2)
