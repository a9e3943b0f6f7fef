"""Tests of the benchmark's own arithmetic: the percentile rule, failure
counting, the event-log reduction (on a small canned log) and the
seeded generators.  Run from the repository root:

    python3 -m pytest repobench/tests -q
"""

import os
import time

import numpy as np
import pytest

from repobench import gen, layers, measure, trace

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_needs_ten_samples_beyond_it():
    assert measure.supports_percentile(100, 90)
    assert not measure.supports_percentile(99, 90)
    assert measure.supports_percentile(20, 50)
    assert not measure.supports_percentile(19, 50)
    assert measure.supports_percentile(1000, 99)
    assert not measure.supports_percentile(999, 99)


def test_oplog_counts_failures_against_attempts():
    log = measure.OpLog()
    a = log.record(0, "ingest", 2.0)
    log.record(0, "resume", 1.0, ok=False, error="boom")
    log.record(1, "ingest", 2.5)
    assert (log.attempted, log.failed) == (3, 1)
    log.fail(a, "bad output")  # a check outside the timer fails it later
    assert (log.attempted, log.failed) == (3, 2)
    # failed ops keep their latency samples
    assert log.seconds() == [2.0, 1.0, 2.5]
    assert log.seconds("ingest") == [2.0, 2.5]
    assert log.errors() == ["pass 0 ingest: bad output", "pass 0 resume: boom"]


def test_oplog_fail_keeps_the_first_error():
    log = measure.OpLog()
    e = log.record(0, "op", 1.0, ok=False, error="raised")
    log.fail(e, "check")
    assert log.errors() == ["pass 0 op: raised"]


def test_tree_cpu_counts_a_reaped_child():
    before, _ = measure.tree_cpu_s()
    pid = os.fork()
    if pid == 0:  # burn ~0.3 s of CPU in the child, then leave
        t = time.process_time()
        while time.process_time() - t < 0.3:
            pass
        os._exit(0)
    os.waitpid(pid, 0)
    after, jit = measure.tree_cpu_s()
    assert 0.25 <= after - before < 1.0
    assert jit == 0.0  # no JVM below this process


@pytest.fixture(scope="module")
def reduced():
    """The canned log: one timed pass (3) of ``ingest``, an untimed pass,
    a probe and an unlabelled job; a task failure; an adaptive plan
    update; SQL metrics from tasks and from the driver."""
    events = trace.read_eventlog(os.path.join(HERE, "eventlog"))
    return trace.reduce_eventlog(events, layers.op_key({3}))


def test_eventlog_attributes_jobs_and_tasks_to_ops(reduced):
    ops = reduced["ops"]
    # pass 1 is not timed, the job without a description is dropped
    assert set(ops) == {"pass:ingest", "probe:minhash"}
    ing = ops["pass:ingest"]
    assert (ing.jobs, ing.tasks, ing.task_failures) == (1, 3, 1)
    assert ing.run_ms == 480
    assert ing.cpu_ns == 401_000_000
    assert ing.gc_ms == 20
    assert (ing.shuffle_write, ing.shuffle_read, ing.fetch_wait_ms) == (4096, 2000, 5)
    assert ing.cached_rdds == {21}
    assert dict(ing.stage_tasks) == {0: [400], 1: [100, 300]}
    assert ops["probe:minhash"].tasks == 1


def test_eventlog_python_figures_skip_worker_init(reduced):
    py = reduced["ops"]["pass:ingest"].py
    assert dict(py) == {"py_start_ms": 12, "py_run_ms": 300,
                        "py_bytes_to": 2048, "py_bytes_from": 1024}


def test_eventlog_keeps_the_final_adaptive_plan(reduced):
    ex = reduced["executions"][0]
    assert ex["key"] == "pass:ingest"
    assert (ex["start"], ex["end"]) == (2000, 3500)
    assert trace.census(ex["plan"]) == {"exchange": 1, "broadcast_exchange": 1, "bnlj": 0,
                                        "arrow_eval_python": 1, "generate": 0}
    assert trace.plan_nodes(ex["plan"]) == 7


def test_eventlog_output_rows_sum_task_and_driver_updates(reduced):
    ex, acc = reduced["executions"][0], reduced["accum"]
    assert trace.output_rows(ex, acc, ("BroadcastHashJoin",)) == 60
    assert trace.output_rows(ex, acc, ("ArrowEvalPython",)) == 160
    assert trace.output_rows(ex, acc, ("BroadcastExchange",)) == 12


def test_op_key():
    key = layers.op_key({2, 3})
    assert key("rb:3:knn") == "pass:knn"
    assert key("rb:4:knn") is None
    assert key("rb:-1:minhash") == "probe:minhash"
    assert key(None) is None
    assert key("collect at x.py:1") is None


def test_tracer_records_nesting_only_when_enabled():
    tr = trace.Tracer("run-1", enabled=True)
    with tr.span("pass", p=0):
        with tr.span("op", op="x"):
            pass
    assert [(s["name"], s["parent"], s["run"]) for s in tr.spans] == [
        ("pass", None, "run-1"), ("op", 0, "run-1")]
    off = trace.Tracer("run-2", enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_meshcode_matches_a_known_node():
    # 54401005: lat digits (54, 1, 0), lon digits (40, 0, 5)
    assert gen.meshcode(54 * 80 + 10, 40 * 80 + 5) == 54401005


def test_generators_are_seeded():
    def make(seed):
        rng = np.random.default_rng([seed, 3])
        lat = gen.regional_lattice()
        return gen.par_text(rng, lat), gen.points(rng, lat, 500), gen.polygons(rng, lat)

    a, b, c = make(1), make(1), make(2)
    assert a[0] == b[0] and a[2] == b[2]
    assert np.array_equal(a[1]["lat"], b[1]["lat"])
    assert a[0] != c[0]


def test_page_classes_follow_the_lattice():
    rng = np.random.default_rng(5)
    lat = gen.Lattice(35.0, 36.0, 139.0, 140.0)
    lat.present[3, 4] = False
    pg = gen.pages(rng, lat, 400, seed=5)
    i = np.floor((120 * pg["lat"] - lat.a0) / gen.STEP).astype(int)
    j = np.floor((80 * (pg["lon"] - 100) - lat.b0) / gen.STEP).astype(int)
    ok = pg["cls"] == gen.OK
    assert lat.cell_complete(i[ok], j[ok]).all()
    assert (pg["lat"][pg["cls"] == gen.OUT_OF_BOUNDS] < 0).all()


def test_crossing_inside_square_and_notch():
    square = [(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0)]
    la = np.array([1.0, 3.0, 1.0])
    lo = np.array([1.0, 1.0, -1.0])
    assert gen.crossing_inside(la, lo, square).tolist() == [True, False, False]
    # concave "L": the notch (1.5, 1.5) is outside
    ell = [(0.0, 0.0), (0.0, 2.0), (1.0, 2.0), (1.0, 1.0), (2.0, 1.0), (2.0, 0.0)]
    assert gen.crossing_inside(np.array([1.5, 0.5]), np.array([1.5, 1.5]), ell).tolist() == [
        False, True]
