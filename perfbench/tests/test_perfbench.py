"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import serve  # noqa: E402
import write  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    attribute_executions,
    attribute_jobs,
    collected_rows,
    operator_totals,
    parse_event_log,
    self_times,
    stage_totals,
    union_length,
)


class _Ctx:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs: dict = {}

    def path(self, rel: str) -> str:
        return os.path.join(self.work, rel)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", [serve, write])
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    workload.generate(_Ctx(7, a))
    workload.generate(_Ctx(7, b))
    workload.generate(_Ctx(8, c))
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert da and da == db
    assert set(dc) == set(da) and dc != da


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0.0


def test_self_time_on_nested_spans():
    spans = [
        Span("root", "request", "request", 0.0, 10.0),
        Span("a", "router.route", "router", 1.0, 3.0, parent="root"),
        Span("b", "retrieval.topk", "retrieval", 2.5, 6.0, parent="root"),
        Span("b1", "inner", "retrieval", 3.0, 4.0, parent="b"),
        Span("c", "answer.generate", "answer", 8.0, 9.0, parent="root"),
    ]
    st = self_times(spans)
    # root: 10 s minus children covering [1, 6] and [8, 9]
    assert st["root"] == pytest.approx(4.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(2.5)
    assert st["b1"] == pytest.approx(1.0)
    assert st["c"] == pytest.approx(1.0)


def test_eval_score_weights_hit_and_top1():
    assert checks.eval_score(["a", "b"], "a") == pytest.approx(1.0)
    assert checks.eval_score(["b", "a"], "a") == pytest.approx(0.7)
    assert checks.eval_score(["b", "c"], "a") == 0.0


def test_components_and_recall():
    comp = checks.components(["a", "b", "c", "d"], {("b", "a"), ("c", "b")})
    assert comp["a"] == comp["b"] == comp["c"] != comp["d"]
    assert checks.pair_recall({("a", "b")}, [("b", "a"), ("c", "d")]) == 0.5


def test_tracer_nests_spans_and_keeps_request_id():
    tr = Tracer()
    with tr.span("request", "request", request="r1") as outer:
        with tr.span("router.route", "router") as inner:
            pass
    assert inner.parent == outer.sid
    assert inner.request == "r1"
    assert outer.start <= inner.start <= inner.end <= outer.end


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    """A traced session running a two-stage groupBy and one Arrow map."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    ev = str(tmp_path_factory.mktemp("events"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", ev)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tr = Tracer(spark)
    try:
        with tr.span("groupby", "test"):
            n = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        assert len(n) == 7

        def ident(batches):
            yield from batches

        with tr.span("kernel", "test"):
            assert spark.range(100).mapInPandas(ident, "id long").count() == 100
    finally:
        spark.stop()
    return parse_event_log(ev), tr.spans


def test_event_log_counts_exchange_and_jobs(event_log):
    log, spans = event_log
    job_span, n_time = attribute_jobs(log, spans)
    assert n_time == 0
    sid = next(s.sid for s in spans if s.name == "groupby")
    jobs = [log.jobs[j] for j, s in job_span.items() if s == sid]
    st = stage_totals(log, jobs)
    # AQE runs the map side and the reduce side as two jobs; one exchange
    assert st["jobs"] == 2
    assert st["exchanges"] == 1
    assert st["shuffle_records"] > 0


def test_event_log_counts_rows_collected_to_driver(event_log):
    log, spans = event_log
    exec_span = attribute_executions(log, spans)
    rows = {}
    for e, sid in exec_span.items():
        name = next(s.name for s in spans if s.sid == sid)
        rows[name] = rows.get(name, 0.0) + collected_rows(log, e)
    # the groupBy's collect returns its 7 groups; a count returns no rows
    assert rows == {"groupby": 7.0, "kernel": 0.0}


def test_event_log_counts_kernel_passes(event_log):
    log, spans = event_log
    job_span, _ = attribute_jobs(log, spans)
    sid = next(s.sid for s in spans if s.name == "kernel")
    execs = {log.jobs[j].execution for j, s in job_span.items() if s == sid}
    ops = operator_totals(log, execs)
    assert ops["passes"] == 1
    assert ops["bytes_sent"] > 0 and ops["bytes_returned"] > 0
