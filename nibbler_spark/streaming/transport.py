"""Structured Streaming transport for the micro-batcher core.

The distributed equivalent of the reference's channel + listener
goroutine (SURVEY §3.2): a streaming source (file-drop dir, Kafka, rate)
feeds micro-batches through ``foreachBatch`` into the driver-side
:class:`~nibbler_spark.streaming.rebatcher.ReBatcher`, which enforces the
size-OR-time flush contract (the part Spark's time-only triggers can't
express). Admission control (``maxFilesPerTrigger`` /
``maxOffsetsPerTrigger``) plays the bounded queue's backpressure role
(reference: nibbler.go:184; Spark is pull-based so "producer blocks"
becomes "source admits ≤ size per trigger" — documented divergence R3).

Driver-side collection inside ``foreachBatch`` is bounded by ``size`` by
construction, so this is safe at any cluster scale — the heavy lifting
(reading/filtering 100 TB) stays on executors; only the admitted rows of
each micro-batch cross to the driver, exactly like the reference's
in-memory batch.

At-most-once fidelity (SURVEY §2.2.1): the reference drops failed batches
and never retries. We therefore run WITHOUT checkpoint-replay semantics
by default: with no ``checkpoint_dir`` the query runs on Spark's
temporary checkpoint, which Spark deletes when the query stops cleanly.
Checkpoint-based recovery is the explicit extension knob
(``checkpoint_dir=``).

The stop state (R9) lives only in the re-batcher, which is marked stopped
before ``processor_err`` runs.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from nibbler_spark.config import Config
from nibbler_spark.errors import NibblerFatalError, NibblerStoppedError
from nibbler_spark.streaming.rebatcher import ReBatcher


class FileDropReceiver:
    """Push endpoint backed by a watched directory (R15/A11).

    ``send`` spools items as JSON-lines files written atomically
    (tmp + rename) into the directory a streaming query watches. The
    production equivalent is a Kafka topic; this adapter exists so the
    embedded-library workflow (and tests) can push items with no broker.
    """

    def __init__(self, directory: str, stream: "NibblerStream | None" = None):
        self.directory = directory
        os.makedirs(directory, exist_ok=True)
        self._stream = stream
        self._seq = 0
        # Spark's file source admits files oldest-modification-time first,
        # at millisecond resolution — rapid sends collide and arrive out of
        # order. Stamp strictly increasing mtimes to keep admission FIFO.
        self._mtime_ns = time.time_ns()

    def send(self, item) -> None:
        self.send_many([item])

    def send_many(self, items) -> None:
        if self._stream is not None and self._stream.rebatcher.stopped:
            raise NibblerStoppedError(
                f"send after fatal stop: {self._stream.fatal_error!r}"
            )
        lines = []
        for it in items:
            self._seq += 1
            record = dict(it) if isinstance(it, dict) else {"value": it}
            # Global sequence number: restores FIFO within a micro-batch
            # (Spark's sort is the cross-row order authority; file mtime
            # only orders admission across micro-batches).
            record["__seq"] = self._seq
            lines.append(json.dumps(record))
        name = f"{time.time_ns():020d}-{self._seq:09d}-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.directory, f".{name}.tmp")
        dst = os.path.join(self.directory, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        self._mtime_ns = max(self._mtime_ns + 1_000_000, time.time_ns())
        os.utime(tmp, ns=(self._mtime_ns, self._mtime_ns))
        os.rename(tmp, dst)  # atomic: the source never sees partial files


class NibblerStream:
    """Micro-batcher running on a Structured Streaming source (R14).

    ``source`` is any streaming DataFrame (``spark.readStream...``); rows
    arrive at the re-batcher in micro-batch order. ``start()`` returns
    immediately with the running query (≡ ``go bat.Listen()``).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        source: DataFrame,
        *,
        checkpoint_dir: str | None = None,
        poll_interval_s: float | None = None,
        order_column: str | None = None,
    ):
        self.spark = spark
        self.rebatcher = ReBatcher(config)
        self.cfg = self.rebatcher.cfg
        self._source = source
        self._checkpoint = checkpoint_dir
        # Trigger/poll cadence: a fraction of the ticker so TICKER flushes
        # land close to their deadline (SURVEY §4.3 step 1).
        self._cadence = poll_interval_s or max(
            0.1, min(1.0, self.cfg.ticker_s / 10)
        )
        # When set, each micro-batch is sorted on this column and the
        # column is stripped before rows reach the processor (the file
        # receiver's __seq). Sources with inherent order (Kafka per
        # partition) leave it None.
        self._order_column = order_column
        self.query = None
        self._poller: threading.Thread | None = None
        self._stop_poller = threading.Event()

    @property
    def fatal_error(self) -> BaseException | None:
        return self.rebatcher.fatal_error

    def _stop_query(self) -> None:
        # Fail the query like the reference closes the queue (R9): stop
        # consuming; await_termination() then re-raises the error.
        try:
            if self.query is not None:
                self.query.stop()
        except Exception:
            pass

    def _foreach_batch(self, df: DataFrame, epoch_id: int) -> None:
        if self.rebatcher.stopped:
            raise NibblerFatalError(self.rebatcher.fatal_error)
        # Bounded by source admission control ≈ size rows per trigger, so
        # a driver-side collect here mirrors the reference's in-memory
        # batch (SURVEY §2.3 design rule exception).
        if self._order_column is not None and self._order_column in df.columns:
            rows = df.orderBy(self._order_column).drop(self._order_column).collect()
        else:
            rows = df.collect()
        try:
            self.rebatcher.push_many(rows)
        except NibblerFatalError:
            self._stop_query()
            raise

    def _poll_loop(self) -> None:
        while not self._stop_poller.wait(self._cadence):
            try:
                self.rebatcher.poll()
            except NibblerFatalError:
                self._stop_query()
                return
            except NibblerStoppedError:
                return

    def start(self) -> "NibblerStream":
        writer = self._source.writeStream.foreachBatch(self._foreach_batch).trigger(
            processingTime=f"{int(self._cadence * 1000)} milliseconds"
        )
        if self._checkpoint is not None:
            writer = writer.option("checkpointLocation", self._checkpoint)
        self.query = writer.start()
        self._poller = threading.Thread(
            target=self._poll_loop, name="nibbler-ticker", daemon=True
        )
        self._poller.start()
        return self

    def stop(self, flush: bool = True) -> None:
        self._stop_poller.set()
        if self.query is not None:
            # Let in-flight micro-batches land before stopping.
            try:
                while self.query.isActive and self.query.status[
                    "isTriggerActive"
                ]:
                    time.sleep(0.05)
            except Exception:
                pass
            self.query.stop()
        if self._poller is not None:
            self._poller.join(timeout=5)
        if flush and not self.rebatcher.stopped:
            try:
                self.rebatcher.flush()
            except (NibblerFatalError, NibblerStoppedError):
                pass  # the re-batcher holds the error (fatal_error)

    def await_termination(self, timeout: float | None = None) -> None:
        """Block until the query ends; re-raise a fatal processor error
        (≡ awaitTermination surfacing StreamingQueryException, R9)."""
        if self.query is not None:
            self.query.awaitTermination(timeout)
        if self.rebatcher.fatal_error is not None:
            raise NibblerFatalError(self.rebatcher.fatal_error)


def start_file_stream(
    spark: SparkSession,
    config: Config,
    directory: str,
    value_schema: str = "value string",
    max_files_per_trigger: int = 1,
) -> tuple[NibblerStream, FileDropReceiver]:
    """Convenience: NibblerStream over a JSON file-drop dir + its receiver.

    ``max_files_per_trigger`` is the admission-control knob (R3): each
    spooled file is one producer send, so one file per trigger keeps
    arrival order deterministic in tests.
    """
    os.makedirs(directory, exist_ok=True)
    source = (
        spark.readStream.schema(f"__seq long, {value_schema}")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(directory)
    )
    stream = NibblerStream(spark, config, source, order_column="__seq")
    receiver = FileDropReceiver(directory, stream=stream)
    return stream.start(), receiver
