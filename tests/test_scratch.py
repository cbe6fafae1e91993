"""Driver-side session helpers: the scratch-persist lifecycle
(round-7 verdict item 6 + regression audit: thread-keyed release, the
size gate, the entry-hook release discipline), the session memo and
run_concurrently's contract."""

from __future__ import annotations

import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.plans import queries as Q
from tests.conftest import SF_CORRECTNESS_DIR


def test_release_scratch_only_touches_own_thread(spark):
    """A harness running catalog queries on concurrent threads must
    not have one thread's query-entry release evict another thread's
    in-flight scratch. Build a scratch frame on a worker thread, then
    run a full wrapped catalog query on the main thread (whose entry
    hook calls release_scratch): the worker's frame must still be
    cached afterwards."""
    worker_frame = {}

    def build():
        worker_frame["df"] = Q.scratch_persist(
            spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("y"))
        )

    t = threading.Thread(target=build)
    t.start()
    t.join()
    df = worker_frame["df"]
    assert df.storageLevel.useMemory
    # main-thread wrapped query -> entry hook releases MAIN scratch only
    Q.QUERIES["pricing_summary"](spark, SF_CORRECTNESS_DIR).collect()
    assert df.storageLevel.useMemory, (
        "cross-thread release evicted an in-flight query's scratch"
    )
    df.unpersist()


def test_release_scratch_frees_same_thread_scratch(spark):
    """Per-thread sequential contract: the next wrapped query on the
    SAME thread releases the previous query's scratch (the bounded-
    session property bench.py and the driver rely on)."""
    df = Q.scratch_persist(spark.range(10).toDF("x"))
    assert df.storageLevel.useMemory
    Q.QUERIES["pricing_summary"](spark, SF_CORRECTNESS_DIR).collect()
    assert not df.storageLevel.useMemory


def test_scratch_persist_if_large_skips_small_frames(spark):
    """The size-gated persist must leave a small-estimate frame
    unpersisted (at bench SF the materialization pins an AQE-frozen
    cached plan that costs more than the rescan it saves — the round-7
    events_max_concurrent_sessions regression) and persist once the
    estimate clears the threshold."""
    small = spark.range(100).select(F.col("id"), (F.col("id") + 1).alias("y"))
    out = Q.scratch_persist_if_large(small)
    assert not out.storageLevel.useMemory
    forced = Q.scratch_persist_if_large(small, min_bytes=1)
    assert forced.storageLevel.useMemory
    Q.release_scratch()
    assert not forced.storageLevel.useMemory


class _StubContext:
    """Stands in for a SparkContext: session_memo reads only `_jsc`,
    which SparkContext.stop() sets to None."""

    _jsc = "live"


@pytest.fixture
def stub_session():
    spark = SimpleNamespace(sparkContext=_StubContext())
    yield spark
    Q._MEMO.pop(spark.sparkContext, None)


def _build(value, calls):
    return lambda: calls.append(value) or value


def test_session_memo_builds_once_per_key(stub_session):
    calls = []
    assert Q.session_memo(stub_session, ("a", 1), _build("x", calls)) == "x"
    assert Q.session_memo(stub_session, ("a", 1), _build("y", calls)) == "x"
    assert Q.session_memo(stub_session, ("a", 2), _build("z", calls)) == "z"
    assert calls == ["x", "z"]


def test_session_memo_size_grows_only_on_build(stub_session):
    assert Q.memo_size(stub_session) == 0
    Q.session_memo(stub_session, ("k",), lambda: 1)
    assert Q.memo_size(stub_session) == 1
    Q.session_memo(stub_session, ("k",), lambda: 2)
    assert Q.memo_size(stub_session) == 1
    # another session sees none of this one's entries
    assert Q.memo_size(SimpleNamespace(sparkContext=_StubContext())) == 0


def test_session_memo_drops_stopped_context(stub_session):
    Q.session_memo(stub_session, ("k",), lambda: 1)
    stopped = stub_session.sparkContext
    stopped._jsc = None  # what SparkContext.stop() does
    assert stopped in Q._MEMO
    other = SimpleNamespace(sparkContext=_StubContext())
    try:
        Q.session_memo(other, ("k",), lambda: 2)
        assert stopped not in Q._MEMO
    finally:
        Q._MEMO.pop(other.sparkContext, None)


def test_session_memo_concurrent_builds_keep_every_entry(stub_session):
    """Builds under distinct keys on many threads (more than cores),
    interleaved with contexts stopping and being purged, lose no
    entry and build each key once."""
    import sys

    calls = []
    n_threads, per_thread = 16, 50

    def worker(t):
        def run():
            for i in range(per_thread):
                Q.session_memo(stub_session, (t, i), _build((t, i), calls))
                dead = SimpleNamespace(sparkContext=_StubContext())
                Q.session_memo(dead, ("x",), lambda: None)
                dead.sparkContext._jsc = None

        return run

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        Q.run_concurrently(*[worker(t) for t in range(n_threads)])
    finally:
        sys.setswitchinterval(old)
    assert Q.memo_size(stub_session) == n_threads * per_thread
    assert sorted(calls) == sorted((t, i) for t in range(n_threads) for i in range(per_thread))
    Q.session_memo(stub_session, ("purge",), lambda: None)
    assert not [sc for sc in Q._MEMO if sc._jsc is None]


def _sleep_then(seconds, value):
    def thunk():
        time.sleep(seconds)
        if isinstance(value, BaseException):
            raise value
        return value

    return thunk


def test_run_concurrently_returns_in_argument_order():
    # finish order is the reverse of argument order
    out = Q.run_concurrently(
        _sleep_then(0.3, "a"), _sleep_then(0.15, "b"), _sleep_then(0.0, "c")
    )
    assert out == ["a", "b", "c"]


def test_run_concurrently_runs_every_thunk_despite_a_failure():
    ran = []

    def slow():
        time.sleep(0.3)
        ran.append("slow")

    with pytest.raises(ValueError):
        Q.run_concurrently(_sleep_then(0.0, ValueError("boom")), slow)
    assert ran == ["slow"]


def test_run_concurrently_raises_earliest_argument_failure_with_notes():
    with pytest.raises(ValueError, match="first") as info:
        Q.run_concurrently(
            _sleep_then(0.3, ValueError("first")),
            _sleep_then(0.0, KeyError("second")),
            _sleep_then(0.0, "fine"),
            _sleep_then(0.1, RuntimeError("fourth")),
        )
    notes = info.value.__notes__
    assert len(notes) == 2
    assert "thunk #1 also failed: KeyError" in notes[0]
    assert "thunk #3 also failed: RuntimeError: fourth" in notes[1]


def test_run_concurrently_bounds_workers():
    """max_workers=2: six thunks never run more than two at once."""
    lock = threading.Lock()
    running, peak = [0], [0]

    def thunk():
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        time.sleep(0.1)
        with lock:
            running[0] -= 1

    Q.run_concurrently(*[thunk] * 6, max_workers=2)
    assert peak[0] == 2


def test_run_concurrently_rehomes_worker_scratch_to_caller(spark):
    """A scratch_persist made on a worker thread moves to the CALLING
    thread's registry, so the caller's next release frees it."""
    Q.release_scratch()
    (df,) = Q.run_concurrently(
        lambda: Q.scratch_persist(spark.range(10).toDF("x"))
    )
    (held,) = Q._SCRATCH[threading.get_ident()]
    assert held is df
    assert df.storageLevel.useMemory
    Q.release_scratch()
    assert not df.storageLevel.useMemory
