"""Embedded micro-batcher — the reference's library-feeling API in Python.

Maps the reference surface 1:1 (/root/reference/nibbler.go):

- ``Nibbler(config)``  ≡ ``New``   (nibbler.go:175-186, R13)
- ``start(config)``    ≡ ``Start`` (nibbler.go:188-197, R14): construct +
  background listen; returns immediately.
- ``nib.receiver()``   ≡ ``Receiver()`` (nibbler.go:120-122, R15): a push
  endpoint whose ``send`` blocks when ``size`` items are queued (bounded
  queue backpressure, nibbler.go:184, R3) and raises
  :class:`NibblerStoppedError` after a fatal stop (the reference closes
  the channel so sends panic — nibbler_test.go:96-97).
- ``nib.listen()``     ≡ ``Listen`` (nibbler.go:125-150, R17): a single
  consumer thread selecting over ticker vs queue; batches are strictly
  sequential and FIFO order is preserved.
- ``nib.close()`` (extension): queues a close sentinel behind the pending
  items; the listener drains the queue up to it, flushes the partial
  buffer when it reaches it, and exits.

The size-OR-time flush semantics and the stop state live in
:class:`~nibbler_spark.streaming.rebatcher.ReBatcher`; this module adds
the channel, the listener thread, and lifecycle. For the distributed
path, see ``nibbler_spark.streaming.transport`` (Structured Streaming).
"""

from __future__ import annotations

import queue as _queue
import threading
import time
from collections.abc import Callable

from nibbler_spark.config import Config
from nibbler_spark.errors import NibblerFatalError, NibblerStoppedError
from nibbler_spark.streaming.rebatcher import ReBatcher

# Sentinels close() queues behind the pending items; the listener stops
# on reaching one, flushing the partial buffer first for _FLUSH_CLOSE
# (extension: the reference has no stop API — its goroutine runs for the
# process life).
_CLOSE = object()
_FLUSH_CLOSE = object()


class Receiver:
    """Write-only push endpoint (reference: ``chan<- T``)."""

    def __init__(self, nib: "Nibbler"):
        self._nib = nib

    def send(self, item, timeout: float | None = None) -> None:
        self._nib._send(item, timeout=timeout)

    def send_many(self, items, timeout: float | None = None) -> None:
        for item in items:
            self._nib._send(item, timeout=timeout)


class Nibbler:
    """In-application micro-batch processor (reference: Nibbler[T])."""

    def __init__(self, config: Config, clock: Callable[[], float] = time.monotonic):
        # sanitize+validate happen in ReBatcher construction (≡ New,
        # nibbler.go:176-179 — errors surface before any thread starts).
        self._rb = ReBatcher(config, clock=clock)
        # Bounded ingestion queue: producers block when `size` items are
        # queued and the listener is busy (nibbler.go:184, R3).
        self._queue: _queue.Queue = _queue.Queue(maxsize=self._rb.cfg.size)
        self._thread: threading.Thread | None = None

    # -- producer side -------------------------------------------------------

    def receiver(self) -> Receiver:
        return Receiver(self)

    def _send(self, item, timeout: float | None = None) -> None:
        if self._rb.stopped:
            raise NibblerStoppedError(
                f"send after fatal stop: {self._rb.fatal_error!r}"
            )
        self._queue.put(item, timeout=timeout)

    # -- consumer side -------------------------------------------------------

    def listen(self, background: bool = True) -> None:
        """Start the single consumer loop (≡ ``go bat.Listen()``)."""
        if self._thread is not None:
            return
        self._thread = threading.Thread(
            target=self._listen_loop, name="nibbler-listener", daemon=True
        )
        self._thread.start()
        if not background:
            self._thread.join()

    def _listen_loop(self) -> None:
        rb = self._rb
        while True:
            # select { ticker | receive } — wait for an item at most until
            # the next ticker deadline (nibbler.go:152-166).
            wait = min(rb.seconds_until_tick(), 1.0)
            try:
                item = self._queue.get(timeout=wait if wait > 0 else 0.001)
            except _queue.Empty:
                item = None
            try:
                if item is _FLUSH_CLOSE:
                    rb.flush()
                if item is _CLOSE or item is _FLUSH_CLOSE:
                    return
                if item is not None:
                    rb.push(item)
                rb.poll()
            except (NibblerFatalError, NibblerStoppedError):
                # ≡ break + deferred close(queue) (nibbler.go:131-135,
                # 142-144): the re-batcher is stopped, so sends raise.
                return

    # -- lifecycle (extension) ------------------------------------------------

    @property
    def fatal_error(self) -> BaseException | None:
        return self._rb.fatal_error

    def close(self, flush: bool = True, timeout: float = 10.0) -> None:
        """Graceful stop (extension — the reference never stops). Queues
        the close sentinel behind the pending items; the listener drains
        up to it, flushes the partial buffer if ``flush``, and exits. One
        ``timeout`` bounds the put and the join; nothing is queued after a
        fatal stop."""
        if self._thread is None:
            return
        deadline = time.monotonic() + timeout
        if not self._rb.stopped:
            try:
                self._queue.put(_FLUSH_CLOSE if flush else _CLOSE, timeout=timeout)
            except _queue.Full:
                pass
        self._thread.join(timeout=max(0.0, deadline - time.monotonic()))


def start(config: Config, clock: Callable[[], float] = time.monotonic) -> Nibbler:
    """≡ reference ``Start``: construct + background listen (nibbler.go:188-197)."""
    nib = Nibbler(config, clock=clock)
    nib.listen(background=True)
    return nib
