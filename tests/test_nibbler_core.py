"""Ports of the reference test suite (/root/reference/nibbler_test.go) to
the Python embedded API, plus deterministic fake-clock goldens and
property tests for the re-batcher invariants (SURVEY §5.1/§5.2)."""

from __future__ import annotations

import threading
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nibbler_spark.config import Config, Trigger
from nibbler_spark.core import Nibbler, start
from nibbler_spark.errors import (
    BatchPanicError,
    NibblerStoppedError,
    NibblerValidationError,
    Panic,
)
from nibbler_spark.streaming.rebatcher import FakeClock, ReBatcher

# ---------------------------------------------------------------------------
# Golden batching — deterministic fake-clock version of TestNibbler
# (nibbler_test.go:15-83): 18 items, size 6, 1 s ticker, pauses before
# items 0, 7, 14 ⇒ batches [6,1,6,1,4].
# ---------------------------------------------------------------------------

GOLDEN_EXPECTED = [
    (["i:0", "i:1", "i:2", "i:3", "i:4", "i:5"], Trigger.BATCH_FULL),
    (["i:6"], Trigger.TICKER),
    (["i:7", "i:8", "i:9", "i:10", "i:11", "i:12"], Trigger.BATCH_FULL),
    (["i:13"], Trigger.TICKER),
    (["i:14", "i:15", "i:16", "i:17"], Trigger.TICKER),
]


def run_golden_rebatcher():
    """The reference scenario on a fake clock — fully deterministic."""
    got: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, trig, batch: got.append((list(batch), trig)),
            size=6,
            ticker_s=1.0,
            processing_timeout_s=0.001,
        ),
        clock=clock.monotonic,
    )
    for i in range(18):
        if i % 7 == 0:  # nibbler_test.go:56-59 — sleep(batchFreq + 100ms)
            clock.advance(1.1)
            rb.poll()
        rb.push(f"i:{i}")
    clock.advance(1.1)
    rb.poll()
    return got


def test_golden_batching_deterministic():
    assert run_golden_rebatcher() == GOLDEN_EXPECTED


def test_golden_batching_threaded_real_clock():
    """The same scenario end-to-end through the threaded embedded API with
    a real 1 s ticker — the faithful port of TestNibbler."""
    got: list[list] = []
    done = threading.Event()

    def processor(_dl, _trig, batch):
        got.append(list(batch))
        if batch[-1] == "i:17":
            done.set()

    nib = start(
        Config(processor=processor, size=6, ticker_s=1.0,
               processing_timeout_s=0.001)
    )
    receiver = nib.receiver()
    for i in range(18):
        if i % 7 == 0:
            time.sleep(1.1)
        receiver.send(f"i:{i}")
    assert done.wait(timeout=5.0)
    assert got == [exp for exp, _ in GOLDEN_EXPECTED]
    nib.close()


# ---------------------------------------------------------------------------
# Error machinery — TestProcessorErr (nibbler_test.go:85-213)
# ---------------------------------------------------------------------------


class _ErrScenario:
    def __init__(self, raiser, resume: bool):
        self.received_err = threading.Event()
        self.failed_batch = None
        self.err = None
        self.raiser = raiser
        self.config = Config(
            processor=self._processor,
            ticker_s=1.0,
            resume_after_err=resume,
            processor_err=self._processor_err,
        )

    def _processor(self, _dl, _trig, batch):
        self.raiser()

    def _processor_err(self, failed_batch, err):
        self.failed_batch = list(failed_batch)
        self.err = err
        self.received_err.set()


def _drive(scenario: _ErrScenario) -> Nibbler:
    nib = start(scenario.config)
    nib.receiver().send("hello")
    assert scenario.received_err.wait(timeout=5.0)
    assert scenario.failed_batch == ["hello"]
    return nib


def test_err_processor_without_resume():
    """Error ⇒ processor_err(failed_batch, err); subsequent send raises
    (reference: send on closed channel panics, nibbler_test.go:89-117)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(boom), resume=False)
    nib = _drive(sc)
    assert sc.err is boom
    # the listener thread exits after the fatal flush; wait for the flag
    for _ in range(100):
        if nib.fatal_error is not None:
            break
        time.sleep(0.05)
    with pytest.raises(NibblerStoppedError):
        nib.receiver().send("again")


def test_err_processor_with_resume():
    """With resume: failed batch dropped, next send succeeds and fails
    independently (nibbler_test.go:119-148)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(boom), resume=True)
    nib = _drive(sc)
    assert sc.err is boom
    sc.received_err.clear()
    nib.receiver().send("again")  # must NOT raise
    assert sc.received_err.wait(timeout=5.0)
    assert sc.failed_batch == ["again"]
    nib.close(flush=False)


def test_panic_recovery_without_resume():
    """panic(error) ⇒ converted to that error, callback fires, fatal stop
    (nibbler_test.go:150-179)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(Panic(boom)), resume=False)
    nib = _drive(sc)
    assert sc.err is boom
    for _ in range(100):
        if nib.fatal_error is not None:
            break
        time.sleep(0.05)
    with pytest.raises(NibblerStoppedError):
        nib.receiver().send("again")


def test_panic_recovery_with_resume_non_error_value():
    """panic(non-error) wrapped (reference: fmt.Errorf("%+v"), nibbler.go:90-93);
    resume keeps the stream alive (nibbler_test.go:181-212)."""
    sc = _ErrScenario(
        lambda: (_ for _ in ()).throw(Panic("processor panic")), resume=True
    )
    nib = _drive(sc)
    assert isinstance(sc.err, BatchPanicError)
    assert "processor panic" in str(sc.err)
    sc.received_err.clear()
    nib.receiver().send("again")  # must NOT raise
    assert sc.received_err.wait(timeout=5.0)
    assert sc.failed_batch == ["again"]
    nib.close(flush=False)


# ---------------------------------------------------------------------------
# Config sanitize/validate — TestSanitizeValidate (nibbler_test.go:215-267)
# ---------------------------------------------------------------------------


def test_sanitize_all_valid_untouched():
    cfg = Config(
        processor=lambda *_: None,
        size=10,
        ticker_s=1.0,
        processing_timeout_s=60.0,
        resume_after_err=False,
        processor_err=lambda *_: None,
    )
    Nibbler(cfg)
    assert cfg.processing_timeout_s == 60.0
    assert cfg.ticker_s == 1.0
    assert cfg.size == 10
    assert cfg.resume_after_err is False


def test_sanitize_defaults():
    """Defaults: timeout 1 s, ticker 60 s (code wins over the stale doc
    comment — nibbler.go:54 vs :30), size 100."""
    cfg = Config(
        processor=lambda *_: None,
        size=0,
        ticker_s=1e-9,
        processing_timeout_s=1e-9,
    )
    Nibbler(cfg)
    assert cfg.processing_timeout_s == 1.0
    assert cfg.ticker_s == 60.0
    assert cfg.size == 100
    assert cfg.processor_err is None


def test_validate_missing_processor():
    with pytest.raises(NibblerValidationError):
        start(Config(processor=None))


# ---------------------------------------------------------------------------
# Property tests — re-batcher invariants under random arrival/timing
# (SURVEY §5.2.6)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    size=st.integers(min_value=1, max_value=10),
    steps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=15),  # push N items
            st.floats(min_value=0.1, max_value=5.0),  # advance clock
        ),
        max_size=30,
    ),
)
def test_rebatcher_invariants(size, steps):
    flushed: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, t, b: flushed.append((list(b), t)),
            size=size,
            ticker_s=1.0,
        ),
        clock=clock.monotonic,
    )
    pushed = []
    counter = 0
    for step in steps:
        if isinstance(step, int):
            for _ in range(step):
                item = counter
                counter += 1
                pushed.append(item)
                rb.push(item)
        else:
            clock.advance(step)
            rb.poll()
    # Invariants (R1/R16/R17/§2.2.3):
    for batch, trig in flushed:
        assert 0 < len(batch) <= size  # no empty flushes; bounded
        if trig is Trigger.BATCH_FULL:
            assert len(batch) == size  # full flushes are exactly size
    flat = [x for batch, _ in flushed for x in batch]
    assert flat == pushed[: len(flat)]  # FIFO order, no loss before tail


@settings(max_examples=1000, deadline=None)
@given(
    size=st.integers(min_value=1, max_value=12),
    ticker_q=st.integers(min_value=1, max_value=16),  # ticker = q * 0.25 s
    steps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=20),  # push N items
            st.integers(min_value=-20, max_value=-1),  # advance clock N*0.25s
        ),
        max_size=40,
    ),
)
def test_rebatcher_random_schedules_exhaustive(size, ticker_q, steps):
    """SURVEY §5.2.6 hardened (VERDICT r1 item 8): ≥1000 random
    arrival/timing schedules asserting, after a final drain —
    (1) every flush non-empty and ≤ size, BATCH_FULL flushes exactly
        size (a full batch flushes inline on the arriving item);
    (2) concatenation of all flushed batches == the full input sequence
        (nothing lost, nothing duplicated, FIFO preserved);
    (3) the ticker phase is FIXED at construction: the next-tick time
        always sits on construction_phase + k·ticker, regardless of how
        many BATCH_FULL flushes intervened (the reference never resets
        its ticker, nibbler.go:127 + §2.1 R17)."""
    ticker_s = ticker_q * 0.25
    flushed: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, t, b: flushed.append((list(b), t)),
            size=size,
            ticker_s=ticker_s,
        ),
        clock=clock.monotonic,
    )
    phase0 = rb._next_tick
    pushed = []
    counter = 0
    for step in steps:
        if step > 0:
            for _ in range(step):
                pushed.append(counter)
                rb.push(counter)
                counter += 1
        else:
            clock.advance(-step * 0.25)
            rb.poll()
        # (3) fixed phase after every step
        k = round((rb._next_tick - phase0) / ticker_s)
        assert abs(rb._next_tick - (phase0 + k * ticker_s)) < 1e-9
    if rb.buffered:
        rb.flush()  # drain the tail
    for batch, trig in flushed:
        assert 0 < len(batch) <= size
        if trig is Trigger.BATCH_FULL:
            assert len(batch) == size
    flat = [x for batch, _ in flushed for x in batch]
    assert flat == pushed  # (2) exact concatenation after drain


def test_at_most_once_under_task_retry():
    """R8 at-most-once delivery survives Spark TASK retries (r4 verdict
    #2): with master local[4,2] every executor task gets two attempts,
    and an injected UDF fails every FIRST attempt
    (TaskContext.attemptNumber() == 0).  Task retries happen below the
    foreachBatch collect() boundary, so the driver-side re-batcher must
    see each micro-batch exactly once — the processor side-effect log
    equals the no-failure golden with zero duplicated or partial
    batches.  Runs in a subprocess because local-mode task-retry count
    is baked into the master string (the shared test session is
    local[4] = single attempt).  The marker census proves the failures
    and retries genuinely happened."""
    import json
    import os
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker_dir = tempfile.mkdtemp(prefix="nibbler-retry-markers-")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tests", "retry_golden_harness.py"),
            marker_dir,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    line = next(
        (
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT:")
        ),
        None,
    )
    assert line is not None, (
        f"harness produced no RESULT line\nstdout:\n{proc.stdout[-2000:]}"
        f"\nstderr:\n{proc.stderr[-2000:]}"
    )
    res = json.loads(line[len("RESULT:"):])
    # exactly-once at the re-batcher layer: the no-failure golden
    assert res["batches"] == [
        ["x:0", "x:1", "x:2", "x:3"],
        ["x:4", "x:5", "x:6", "x:7"],
        ["x:8", "x:9"],
    ]
    # and the retries were real: first attempts failed, seconds ran
    assert res["attempt0_markers"] >= 1
    assert res["attempt1_markers"] >= 1


# ---------------------------------------------------------------------------
# Graceful close (extension): the listener drains the queue up to the close
# sentinel and flushes the partial buffer when it reaches it.
# ---------------------------------------------------------------------------


def test_close_with_full_queue_delivers_everything_once_in_order():
    """A slow processor holds the listener while the queue fills; close()
    then waits behind the queued items. Every item is delivered exactly
    once in FIFO order and the last flush is the partial buffer."""
    got: list[tuple[list, Trigger]] = []
    entered, release = threading.Event(), threading.Event()

    def processor(_dl, trig, batch):
        got.append((list(batch), trig))
        entered.set()
        release.wait(5.0)

    clock = FakeClock()
    nib = start(Config(processor=processor, size=4, ticker_s=1.0),
                clock=clock.monotonic)
    recv = nib.receiver()
    recv.send(0)
    deadline = time.monotonic() + 5.0
    while nib._rb.buffered < 1 and time.monotonic() < deadline:
        time.sleep(0.001)
    clock.advance(1.0)
    recv.send(1)  # its poll fires the ticker: the slow flush of [0, 1]
    assert entered.wait(5.0)
    recv.send_many([2, 3, 4, 5])
    assert nib._queue.full()
    clock.advance(1.0)  # the slow batch outlasts a ticker period
    threading.Timer(0.2, release.set).start()
    nib.close(timeout=5.0)
    assert got == [
        ([0, 1], Trigger.TICKER),
        ([2], Trigger.TICKER),  # the tick missed while the processor ran
        ([3, 4, 5], Trigger.TICKER),  # the partial buffer, flushed by close
    ]
    assert nib.fatal_error is None
    assert not nib._thread.is_alive()


def test_close_without_flush_drops_the_partial_buffer():
    got: list[list] = []
    nib = start(Config(processor=lambda _dl, _t, b: got.append(list(b)),
                       size=4, ticker_s=60.0))
    nib.receiver().send_many(range(6))
    nib.close(flush=False)
    assert got == [[0, 1, 2, 3]]
    assert not nib._thread.is_alive()


def test_close_after_fatal_stop_does_not_flush_and_is_bounded():
    """After a fatal stop close() flushes nothing (the failed batch stays
    undelivered) and returns within its timeout although the queue is
    full and no listener drains it."""
    boom = RuntimeError("boom")
    calls: list[list] = []
    release = threading.Event()

    def processor(_dl, _t, batch):
        calls.append(list(batch))
        release.wait(5.0)
        raise boom

    nib = start(Config(processor=processor, size=2, ticker_s=60.0))
    recv = nib.receiver()
    recv.send_many([0, 1])  # the failing flush holds the listener
    recv.send_many([2, 3])  # fills the queue
    release.set()
    deadline = time.monotonic() + 5.0
    while nib._thread.is_alive() and time.monotonic() < deadline:
        time.sleep(0.01)
    assert nib.fatal_error is boom
    t0 = time.monotonic()
    nib.close(timeout=1.0)
    assert time.monotonic() - t0 < 1.0
    assert calls == [[0, 1]]


def test_close_after_concurrent_producers_delivers_each_item_once():
    """Stress: more producer threads than cores, a short switch interval
    and a fast ticker; once the producers return, close() delivers every
    item exactly once, in each producer's FIFO order."""
    import sys

    producers, per = 8, 100
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(10):
            got: list[int] = []
            nib = start(Config(processor=lambda _dl, _t, b: got.extend(b),
                               size=7, ticker_s=0.01))
            recv = nib.receiver()
            threads = [
                threading.Thread(target=recv.send_many,
                                 args=(range(k * per, (k + 1) * per),))
                for k in range(producers)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(10.0)
                assert not t.is_alive()
            nib.close(timeout=10.0)
            assert not nib._thread.is_alive()
            assert sorted(got) == list(range(producers * per))
            for k in range(producers):
                mine = [x for x in got if k * per <= x < (k + 1) * per]
                assert mine == list(range(k * per, (k + 1) * per))
    finally:
        sys.setswitchinterval(old)
