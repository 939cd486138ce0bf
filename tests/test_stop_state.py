"""R9 stop ordering: after a processor error without resume, a send fails
from the moment ``processor_err`` runs — the re-batcher marks itself
stopped before the callback, and every send path reads that one state."""

from __future__ import annotations

import threading

import pytest

from nibbler_spark.config import Config
from nibbler_spark.core import start
from nibbler_spark.errors import NibblerStoppedError
from nibbler_spark.streaming.transport import start_file_stream


def _failing_config(send, size: int, ticker_s: float):
    """A processor that always raises, and a ``processor_err`` that sends
    once through ``send`` and records what the send did."""
    outcome: dict = {}
    done = threading.Event()

    def processor(_dl, _trig, _batch):
        raise RuntimeError("boom")

    def processor_err(_batch, _err):
        try:
            send()
            outcome["raised"] = None
        except NibblerStoppedError as exc:
            outcome["raised"] = exc
        finally:
            done.set()

    cfg = Config(processor=processor, size=size, ticker_s=ticker_s,
                 processor_err=processor_err)
    return cfg, outcome, done


def test_send_inside_processor_err_raises_embedded():
    box: list = []
    cfg, outcome, done = _failing_config(
        lambda: box[0].receiver().send("again"), size=1, ticker_s=60.0
    )
    nib = start(cfg)
    box.append(nib)
    nib.receiver().send("hello")
    assert done.wait(5.0)
    assert isinstance(outcome["raised"], NibblerStoppedError)
    assert isinstance(nib.fatal_error, RuntimeError)
    nib.close(timeout=1.0)


def test_send_inside_processor_err_raises_file_drop(spark, tmp_path):
    box: list = []
    cfg, outcome, done = _failing_config(
        lambda: box[0].send("again"), size=1, ticker_s=60.0
    )
    stream, receiver = start_file_stream(
        spark, cfg, str(tmp_path / "drop")
    )
    box.append(receiver)
    try:
        receiver.send("hello")
        assert done.wait(60.0)
        assert isinstance(outcome["raised"], NibblerStoppedError)
        assert isinstance(stream.fatal_error, RuntimeError)
        with pytest.raises(NibblerStoppedError):
            receiver.send("later")
    finally:
        stream.stop(flush=False)
