"""One-time streaming sinks leave no checkpoint dir behind: with no
``checkpointLocation`` Spark runs the query on a temporary checkpoint and
deletes it when the query stops cleanly."""

from __future__ import annotations

import os
import tempfile
import threading

import pytest

from nibbler_spark.config import Config
from nibbler_spark.queries import load_all
from nibbler_spark.streaming.transport import start_file_stream

SPECS = load_all()


def _temp_entries(spark) -> set[str]:
    """Entries of the Python and the JVM temp dirs."""
    jvm_tmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
    return {
        os.path.join(d, name)
        for d in {tempfile.gettempdir(), jvm_tmp}
        for name in os.listdir(d)
    }


def test_file_stream_without_checkpoint_dir_leaves_none(spark, tmp_path):
    got: list = []
    done = threading.Event()

    def processor(_dl, _trig, batch):
        got.extend(r["value"] for r in batch)
        done.set()

    stream, receiver = start_file_stream(
        spark, Config(processor=processor, size=2, ticker_s=300.0),
        str(tmp_path / "drop"),
    )
    try:
        receiver.send_many(["a", "b"])
        assert done.wait(60.0)
        root = stream.query._jsq.streamingQuery().resolvedCheckpointRoot()
        root = root.removeprefix("file:")
        assert os.path.isdir(root)
    finally:
        stream.stop(flush=True)
    assert got == ["a", "b"]
    assert not os.path.exists(root)


@pytest.mark.parametrize(
    "name",
    [
        "i01_tumbling_window_parity",  # memory sink (_drain_to_memory)
        "a08_foreachbatch_sink",  # foreachBatch sink
    ],
)
def test_one_time_drain_leaves_no_temp_entry(spark, sf_dir, name):
    run = SPECS[name].spark
    run(spark, sf_dir).collect()  # builds the cached source dir once
    before = _temp_entries(spark)
    run(spark, sf_dir).collect()
    assert _temp_entries(spark) - before == set()
