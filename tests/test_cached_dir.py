"""Crash-safety tests for sources.tables.cached_dir (r2 advisory #2)."""

from __future__ import annotations

import os
import shutil
import uuid

from nibbler_spark.sources.tables import cached_dir


def _make_sf(tmp_path, content=b"x" * 100):
    sf = tmp_path / "sfX"
    sf.mkdir(exist_ok=True)
    (sf / "events.parquet").write_bytes(content)
    return str(sf)


def test_build_then_rename_and_cache_hit(tmp_path):
    sf = _make_sf(tmp_path)
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").write("data")

    d1 = cached_dir(sf, "events", "t1", build)
    d2 = cached_dir(sf, "events", "t1", build)
    assert d1 == d2
    assert len(calls) == 1  # second call was a cache hit
    assert os.path.exists(os.path.join(d1, "part-0"))
    assert not os.path.exists(calls[0])  # tmp dir was renamed away


def test_crashed_partial_build_leaves_no_cache(tmp_path):
    """A builder crash before rename must NOT leave a half-written dir
    that a rerun would append into — the final path simply never
    appears, and the next call rebuilds from scratch."""
    sf = _make_sf(tmp_path)

    def crashing(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "partial"), "w").write("half")
        raise RuntimeError("simulated crash mid-build")

    try:
        cached_dir(sf, "events", "t2", crashing)
    except RuntimeError:
        pass
    ok = []

    def good(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").write("full")
        ok.append(tmp)

    d = cached_dir(sf, "events", "t2", good)
    assert ok, "rebuild must run — the crashed attempt left no cache"
    files = os.listdir(d)
    assert files == ["part-0"]  # no 'partial' leakage into the cache


def test_regenerated_testdata_gets_fresh_cache_key(tmp_path):
    sf = _make_sf(tmp_path, b"v1" * 50)

    def build(tmp):
        os.makedirs(tmp)

    d1 = cached_dir(sf, "events", "t3", build)
    # regenerate the source table with different size ⇒ different key
    _make_sf(tmp_path, b"v2" * 99)
    d2 = cached_dir(sf, "events", "t3", build)
    assert d1 != d2


def test_same_size_rewrite_within_a_second_gets_fresh_cache_key(tmp_path):
    """A same-size rewrite 1 µs later must not alias the old cache (a
    whole-second mtime in the key could not tell the two apart)."""
    sf = _make_sf(tmp_path, b"v1" * 50)
    src = os.path.join(sf, "events.parquet")
    t0 = 1_700_000_000_500_000_000
    os.utime(src, ns=(t0, t0))
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    # The fixed mtimes give fixed keys, so a per-run kind keeps a cache
    # left by an earlier run from answering.
    kind = f"t4-{uuid.uuid4().hex[:8]}"
    d1 = cached_dir(sf, "events", kind, build)
    _make_sf(tmp_path, b"v2" * 50)
    os.utime(src, ns=(t0, t0 + 1_000))
    d2 = cached_dir(sf, "events", kind, build)
    for d in {d1, d2}:
        shutil.rmtree(d)
    assert len(calls) == 2, "the rewritten source must be built again"
    assert d1 != d2
