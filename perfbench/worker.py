"""Run one benchmark workload in a fresh process; write its result as JSON.

``run.py`` starts this file once per set-up sample and once per measured
run, from the root of a checkout, with ``TMPDIR`` pointing into the run's
own work directory. It imports the program (``nibbler_spark``) from the
checkout, so what it measures is the code in that checkout.

Workloads (see BENCHMARK.json for why each exists):

- ``core_inproc``: closed loop, one producer thread plus the listener.
  Seeded chunks of integer items go through ``start(Config)`` and
  ``Receiver.send_many``; each pass is one micro-batcher lifetime
  (start, send, close). No JVM.
- ``stream_filedrop``: the same micro-batcher over ``start_file_stream``.
  A drain phase (closed loop) spools seeded backlogs, each in one burst,
  and times their delivery; a paced phase (open loop) spools one
  fixed-size file on a fixed schedule and times each item from its file's
  due time.
- ``tpch_power``: closed loop, one client. A pass runs the 22 TPC-H
  analogues of the query registry in a seeded order on seeded tables; every
  result is compared with its DuckDB oracle, computed before timing.

In a traced run (``--trace 1``) the calls the benchmark makes into each
layer are recorded as spans (spans.py) and per-layer figures are derived
from the spans, the Spark status store and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import sparkstats  # noqa: E402  (perfbench/ is sys.path[0])
from spans import Tracer, union_length  # noqa: E402

TPCH_QUERIES = (
    "q1_pricing_summary", "tq02_min_cost_supplier", "tq03_shipping_priority",
    "tq04_priority_check", "tq05_regional_revenue", "tq06_revenue_forecast",
    "tq07_nation_volume", "tq08_market_share", "tq09_product_type_profit",
    "tq10_returned_items", "tq11_important_stock", "tq12_priority_lines",
    "tq13_customer_distribution", "tq14_promo_revenue", "tq15_top_supplier",
    "tq16_supplier_part_counts", "tq17_small_quantity_revenue", "tq18_large_orders",
    "tq19_disjunctive_revenue", "tq20_part_promotion",
    "tq21_suppliers_who_kept_waiting", "tq22_sales_opportunity",
)
# Tables the workload reads (for the per-table load_table probe).
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# Sizes per scale. "full" is what the benchmark measures; "tiny" exists for
# the self-test. At sf 0.01 a warm tpch_power pass takes ~15 s on 4 cores,
# which the run budget (every run of every workload in under an hour) allows
# three times per run: the warm-up pass and two timed ones.
SCALES = {
    "full": {"sf": 0.01, "core_pass_items": 100_000, "drain_files": 16, "paced_period_s": 0.18},
    "tiny": {"sf": 0.001, "core_pass_items": 5_000, "drain_files": 4, "paced_period_s": 0.18},
}

CORE_SIZE, CORE_TICKER_S = 100, 0.002
# Stream: drain files hold seeded whole numbers of batches (a fixed total per
# burst), so the buffer is empty between epochs, the ticker never fires
# during a drain and its last flush is BATCH_FULL: the drain time carries no
# ticker phase. Paced files of 120 items leave a 20-item remainder each, so
# the paced phase fires both BATCH_FULL and TICKER flushes.
STREAM_SIZE, STREAM_TICKER_S, STREAM_FILES_PER_TRIGGER = 100, 0.5, 4
PACED_FILE_ITEMS = 120
WARM_ITEMS = 3200
# The drain is measured as several bursts and the paced phase in windows of
# files (each window holds >1000 items, so its p99 has ten items beyond it);
# medians over bursts and windows keep one slow second of a shared machine
# from moving the run's figures.
DRAIN_BURSTS, PACED_WINDOW_FILES = 3, 9
DELIVERY_TIMEOUT_S = 20.0
DRIVER_MEMORY = "1g"
# The first pass of a fresh JVM is class loading and JIT compilation, and
# varies by 15-25% from run to run; it is checked but not timed. Of the
# timed passes the faster one is reported: a shared machine only ever adds
# time to a pass.
TIMED_PASSES = 2


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def latency_ms(calls, due, item_index):
    """Milliseconds from each delivered item's due (or creation) time to the
    start of the processor call that received it. ``due[item_index(item)]``
    is the item's due time; ids outside ``due`` are skipped (they are
    counted as failures by ``check_delivery``)."""
    import numpy as np

    out = []
    for t, _, batch in calls:
        for item in batch:
            i = item_index(item)
            if 0 <= i < len(due):
                out.append(t - due[i])
    return np.asarray(out) * 1e3


class Recorder:
    """The benchmark's batch processor: stamps each call, keeps the batch.

    ``drop_call`` (self-test fault) loses that call's batch, as a processor
    that silently drops work would.
    """

    def __init__(self, tracer: Tracer | None = None, drop_call: int | None = None):
        self.calls: list[tuple[float, object, list]] = []
        self.items = 0
        self._n = 0
        self._tracer = tracer
        self._drop_call = drop_call

    def __call__(self, deadline, trigger, batch):
        start = time.perf_counter()
        self._n += 1
        if self._n != self._drop_call:
            self.calls.append((start, trigger, batch))
            self.items += len(batch)
        if self._tracer is not None:
            self._tracer.add("core.processor", "listener", start, time.perf_counter())

    def wait_for(self, n: int, timeout: float = DELIVERY_TIMEOUT_S) -> bool:
        deadline = time.monotonic() + timeout
        while self.items < n:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.002)
        return True


def check_delivery(batches, size: int, n_items: int) -> int:
    """Count items that break the micro-batcher's delivery contract.

    ``batches`` holds ``(trigger, ids)`` per processor call, where the items
    sent were ids ``0 .. n_items-1`` in that order. Every item must arrive
    exactly once and in FIFO order (R1, R10, R17); no flush may be empty
    (R16); a BATCH_FULL batch holds exactly ``size`` items and a TICKER
    batch at most ``size``.
    """
    import numpy as np

    from nibbler_spark.config import Trigger

    failed = 0
    ids = []
    for trigger, batch in batches:
        n = len(batch)
        full = trigger is Trigger.BATCH_FULL
        if n == 0 or n > size or (full and n != size):
            failed += max(n, 1)
        ids.extend(batch)
    arr = np.asarray(ids, dtype=np.int64)
    valid = arr[(arr >= 0) & (arr < n_items)]
    failed += len(arr) - len(valid)
    counts = np.bincount(valid, minlength=n_items)
    failed += int((counts == 0).sum()) + int((counts[counts > 1] - 1).sum())
    failed += int((np.diff(arr) < 0).sum())
    return min(failed, n_items)


def flush_stats(flushes, size: int, per: int = 1) -> dict:
    """Flush counts by trigger (divided by ``per``) and mean batch fill,
    from ``(trigger, n)`` pairs."""
    from nibbler_spark.config import Trigger

    lens = [n for _, n in flushes]
    return {
        "rebatcher.flush_batch_full": sum(t is Trigger.BATCH_FULL for t, _ in flushes) / per,
        "rebatcher.flush_ticker": sum(t is Trigger.TICKER for t, _ in flushes) / per,
        "rebatcher.batch_fill": statistics.fmean(lens) / size if lens else 0.0,
    }


def bare_rebatcher(chunk_lens, size: int) -> dict:
    """Feed a chunk sequence to a bare ``ReBatcher`` (no-op processor):
    items/s through ``push`` one by one and through ``push_many``."""
    from nibbler_spark.config import Config
    from nibbler_spark.streaming.rebatcher import ReBatcher

    chunks = [list(range(n)) for n in chunk_lens]
    total = sum(chunk_lens)

    def one(use_many: bool) -> float:
        rb = ReBatcher(Config(processor=lambda d, t, b: None, size=size, ticker_s=3600.0))
        start = time.perf_counter()
        for chunk in chunks:
            if use_many:
                rb.push_many(chunk)
            else:
                for item in chunk:
                    rb.push(item)
        return total / (time.perf_counter() - start)

    return {
        "rebatcher.push_items_per_s": statistics.median(one(False) for _ in range(5)),
        "rebatcher.push_many_items_per_s": statistics.median(one(True) for _ in range(5)),
    }


def canaries(tmp_dir: str) -> dict:
    """Machine-state diagnostics: a fixed pure-Python loop and a fixed
    write+fsync+read+delete of files in the run's tmp dir. When these move
    with the workload figures, the machine moved, not the code."""

    def cpu() -> float:
        start = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc ^= (i * 2654435761) % 1000003
        return (time.perf_counter() - start) * 1e3

    def tmp_io() -> float:
        block = os.urandom(64 * 1024)
        start = time.perf_counter()
        paths = [os.path.join(tmp_dir, f"canary-{i}.bin") for i in range(32)]
        for p in paths:
            with open(p, "wb") as f:
                f.write(block)
                f.flush()
                os.fsync(f.fileno())
        for p in paths:
            with open(p, "rb") as f:
                f.read()
            os.unlink(p)
        return (time.perf_counter() - start) * 1e3

    return {
        "canary.cpu_ms": statistics.median(cpu() for _ in range(3)),
        "canary.tmp_io_ms": statistics.median(tmp_io() for _ in range(3)),
    }


def span(tracer: Tracer | None, name: str, op, parent: int | None = None):
    return tracer.span(name, op, parent) if tracer is not None else contextlib.nullcontext()


# -- core_inproc ---------------------------------------------------------------


def core_setup(ctx) -> dict:
    from nibbler_spark.config import Config
    from nibbler_spark.core import start

    rec = Recorder()
    nib = start(Config(processor=rec, size=CORE_SIZE, ticker_s=CORE_TICKER_S))
    nib.receiver().send(0)
    rec.wait_for(1)
    nib.close()
    return {}


def core_run(ctx, state) -> dict:
    """Passes of ``core_pass_items`` items until ``seconds`` have elapsed.
    A traced run alternates untraced and traced passes."""
    import numpy as np

    from nibbler_spark.config import Config
    from nibbler_spark.core import start

    rng = np.random.default_rng(ctx.seed)
    n_items = ctx.scale["core_pass_items"]
    plain, traced, p50, p99, flushes, first_lens = [], [], [], [], [], None
    failed = 0
    stop_at = time.perf_counter() + ctx.seconds
    while len(plain) + len(traced) < 2 or time.perf_counter() < stop_at:
        tracer = ctx.tracer if len(plain) > len(traced) else None
        lens = []
        left = n_items
        while left > 0:
            lens.append(min(left, int(rng.integers(1, 2 * CORE_SIZE + 1))))
            left -= lens[-1]
        first_lens = first_lens or lens
        rec = Recorder(tracer, drop_call=3 if ctx.fault == "drop_batch" else None)
        chunk_t = []
        sent = 0
        started = time.perf_counter()
        nib = start(Config(processor=rec, size=CORE_SIZE, ticker_s=CORE_TICKER_S))
        recv = nib.receiver()
        if tracer is not None:
            tracer.wrap(recv, "send_many", "core.send_many", len(traced))
        for n in lens:
            chunk_t.append(time.perf_counter())
            recv.send_many(range(sent, sent + n))
            sent += n
        nib.close()
        (plain if tracer is None else traced).append(time.perf_counter() - started)
        batches = [(trig, b) for _, trig, b in rec.calls]
        failed += check_delivery(batches, CORE_SIZE, n_items) + (nib.fatal_error is not None)
        if tracer is None:
            lat = latency_ms(rec.calls, np.repeat(chunk_t, lens), lambda i: i)
            p50.append(percentile(lat, 50))
            p99.append(percentile(lat, 99))
        else:
            flushes.extend((trig, len(b)) for trig, b in batches)
    out = {
        "attempted": n_items * (len(plain) + len(traced)),
        "failed": failed,
        "e2e": {
            "items_per_s": n_items / statistics.median(plain),
            "latency_p50_ms": statistics.median(p50),
            "latency_p99_ms": statistics.median(p99),
            "pass_s": statistics.median(plain),
        },
        "info": {"items_per_pass": n_items, "pass_s": plain, "traced_pass_s": traced,
                 "size": CORE_SIZE, "ticker_s": CORE_TICKER_S},
    }
    if ctx.tracer is not None:
        tr = ctx.tracer
        per_pass = len(traced)
        out["per_layer"] = {
            "core.send_s": tr.self_time("core.send_many") / per_pass,
            "core.send_calls": len(tr.named("core.send_many")) / per_pass,
            "core.processor_s": tr.self_time("core.processor") / per_pass,
            **flush_stats(flushes, CORE_SIZE, per_pass),
            **bare_rebatcher(first_lens, CORE_SIZE),
            "trace.overhead_ratio": statistics.median(traced) / statistics.median(plain),
        }
    return out


# -- Spark session -------------------------------------------------------------


def spark_session(ctx):
    from nibbler_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{ctx.workload}", cpus=ctx.nproc,
                      shuffle_partitions=ctx.nproc, driver_memory=DRIVER_MEMORY,
                      extra_conf=sparkstats.session_conf(ctx.tmp))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss(spark=None) -> float:
    mb = sparkstats.vm_hwm_mb(os.getpid())
    if spark is not None:
        mb += sparkstats.vm_hwm_mb(sparkstats.jvm_pid(spark))
    return mb


# -- stream_filedrop -----------------------------------------------------------


def stream_values(rng, first: int, n: int) -> list[dict]:
    words = rng.integers(0, 1 << 30, size=n)
    return [{"value": f"{first + i}:{w:x}"} for i, w in enumerate(words.tolist())]


def stream_setup(ctx) -> dict:
    from nibbler_spark.config import Config
    from nibbler_spark.streaming.transport import start_file_stream

    spark = spark_session(ctx)
    rec = Recorder(drop_call=3 if ctx.fault == "drop_batch" else None)
    stream, recv = start_file_stream(
        spark, Config(processor=rec, size=STREAM_SIZE, ticker_s=STREAM_TICKER_S),
        os.path.join(ctx.tmp, "drop"), max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
    )
    # Warm the streaming path (file source, foreachBatch, collect) so the
    # drain that follows measures a warm engine.
    warm = [{"value": f"{i}:0"} for i in range(WARM_ITEMS)]
    for i in range(0, WARM_ITEMS, STREAM_SIZE):
        recv.send_many(warm[i:i + STREAM_SIZE])
    if not rec.wait_for(WARM_ITEMS):
        raise RuntimeError("stream did not deliver its warm-up items")
    return {"spark": spark, "stream": stream, "recv": recv, "rec": rec}


def stream_run(ctx, state) -> dict:
    """Drain bursts, then the paced phase. A traced run traces the middle
    burst only, so the bursts either side give its untraced base, and
    traces the paced phase."""
    import numpy as np

    spark, stream, recv, rec = state["spark"], state["stream"], state["recv"], state["rec"]
    tracer = ctx.tracer
    rb = stream.rebatcher
    rng = np.random.default_rng(ctx.seed)
    pushed = [0]

    def count_pushes(rows):
        pushed[0] += len(rows)
        return type(rb).push_many(rb, rows)

    def trace_calls(on: bool) -> None:
        if on:
            rb.push_many = count_pushes
            tracer.wrap(recv, "send_many", "transport.spool", "stream")
            tracer.wrap(rb, "push_many", "rebatcher.push_many", "stream")
        else:
            del recv.send_many, rb.push_many

    started = time.perf_counter()
    # Drain phase: seeded backlogs of a fixed item count, each in one burst.
    n_files = ctx.scale["drain_files"]
    burst_items = 2 * n_files * STREAM_SIZE
    next_id = WARM_ITEMS
    drain_s, traced_s, drained, all_sizes = [], [], True, []
    for k in range(DRAIN_BURSTS):
        traced = tracer is not None and k == 1
        if traced:
            trace_calls(True)
        sizes = STREAM_SIZE * (1 + rng.multinomial(n_files, [1 / n_files] * n_files))
        all_sizes.extend(sizes.tolist())
        burst = time.perf_counter()
        for n in sizes.tolist():
            recv.send_many(stream_values(rng, next_id, n))
            next_id += n
        drained &= rec.wait_for(next_id)
        (traced_s if traced else drain_s).append(rec.calls[-1][0] - burst)
        if traced:
            trace_calls(False)
    # Paced phase: open loop, one file every period, timed from due time.
    if tracer is not None:
        trace_calls(True)
        pushed[0] = 0
    period = ctx.scale["paced_period_s"]
    paced_from = next_id
    paced_until = max(started + ctx.seconds, time.perf_counter() + ctx.seconds / 2)
    due, late_ms = [], []
    t0 = time.perf_counter()
    while t0 + len(due) * period < paced_until:
        due_at = t0 + len(due) * period
        wait = due_at - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        late_ms.append((time.perf_counter() - due_at) * 1e3)
        recv.send_many(stream_values(rng, next_id, PACED_FILE_ITEMS))
        due.append(due_at)
        next_id += PACED_FILE_ITEMS
    backlog_files = (next_id - paced_from - pushed[0]) / PACED_FILE_ITEMS
    delivered = rec.wait_for(next_id)
    stream.stop(flush=True)
    epochs = sparkstats.epoch_summary(stream.query)
    rss = peak_rss(spark)
    batches = [(trig, [int(r["value"].split(":", 1)[0]) for r in b]) for _, trig, b in rec.calls]
    failed = check_delivery(batches, STREAM_SIZE, next_id)
    failed += stream.fatal_error is not None
    calls = [(t, trig, ids) for (t, _, _), (trig, ids) in zip(rec.calls, batches)]
    # Percentiles per window of PACED_WINDOW_FILES files, median over windows.
    p50, p99 = [], []
    for w in range(0, max(1, len(due) - PACED_WINDOW_FILES + 1), PACED_WINDOW_FILES):
        lo = paced_from + w * PACED_FILE_ITEMS
        hi = lo + PACED_WINDOW_FILES * PACED_FILE_ITEMS
        window = [(t, trig, [i for i in ids if lo <= i < hi]) for t, trig, ids in calls]
        lat = latency_ms(window, due, lambda i: (i - paced_from) // PACED_FILE_ITEMS)
        p50.append(percentile(lat, 50))
        p99.append(percentile(lat, 99))
    out = {
        "attempted": next_id - WARM_ITEMS,
        "failed": min(failed, next_id - WARM_ITEMS),
        "e2e": {
            "items_per_s": burst_items / statistics.median(drain_s),
            "latency_p50_ms": statistics.median(p50),
            "latency_p99_ms": statistics.median(p99),
            "pass_s": statistics.median(drain_s),
            "peak_rss_mb": rss,
        },
        "info": {
            "drained": drained, "delivered": delivered, "drain_s": drain_s,
            "traced_drain_s": traced_s, "items_per_burst": burst_items,
            "paced_files": len(due), "paced_period_s": period,
            "paced_file_items": PACED_FILE_ITEMS, "window_p50_ms": p50, "window_p99_ms": p99,
            "generator_late_ms_p50": percentile(late_ms, 50),
            "generator_late_ms_max": max(late_ms) if late_ms else 0.0,
            "size": STREAM_SIZE, "ticker_s": STREAM_TICKER_S,
            "max_files_per_trigger": STREAM_FILES_PER_TRIGGER, **epochs,
        },
    }
    if tracer is not None:
        out["per_layer"] = {
            "transport.spool_s": tracer.self_time("transport.spool"),
            "transport.backlog_files": backlog_files,
            "transport.generator_late_ms": out["info"]["generator_late_ms_max"],
            **{f"spark.{k}": v for k, v in epochs.items()},
            **flush_stats([(t, len(ids)) for t, ids in batches], STREAM_SIZE),
            **bare_rebatcher(all_sizes, STREAM_SIZE),
            "trace.overhead_ratio": traced_s[0] / statistics.fmean(drain_s),
        }
    spark.stop()
    return out


# -- tpch_power ----------------------------------------------------------------


def query_setup(ctx) -> dict:
    from nibbler_spark.queries import load_all

    spark = spark_session(ctx)
    spark.range(1).collect()
    return {"spark": spark, "specs": load_all()}


def query_run(ctx, state) -> dict:
    """A warm-up pass, then timed passes. A traced run times an untraced, a
    traced and another untraced pass."""
    import numpy as np

    import datagen
    from nibbler_spark.oracle import canonicalize, duckdb_result, make_duckdb
    from nibbler_spark.sources import load_table

    spark, specs, tracer = state["spark"], state["specs"], ctx.tracer
    sf = ctx.scale["sf"]
    sf_dir = datagen.write_tables(os.path.join(ctx.tmp, f"sf{sf}"), ctx.seed, sf)
    con = make_duckdb(sf_dir)
    expected = {}
    for name in TPCH_QUERIES:
        cols, rows = duckdb_result(con, specs[name].oracle)
        expected[name] = (sorted(cols), canonicalize(cols, rows))
    con.close()
    order = [TPCH_QUERIES[i] for i in np.random.default_rng(ctx.seed).permutation(len(TPCH_QUERIES))]
    counts = {"attempted": 0, "failed": 0}

    def one_pass(tr: Tracer | None):
        results, frames, lat = [], [], []
        started = time.perf_counter()
        with span(tr, "pass", "pass") as pass_id:
            for name in order:
                q0 = time.perf_counter()
                try:
                    with span(tr, "queries.build", name, pass_id):
                        df = specs[name].spark(spark, sf_dir)
                    with span(tr, "spark.collect", name, pass_id):
                        rows = df.collect()
                    results.append((name, df.columns, [tuple(r) for r in rows]))
                    frames.append(df)
                except Exception as exc:  # a failing query is a failed operation
                    print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
                    results.append((name, None, None))
                lat.append((time.perf_counter() - q0) * 1e3)
        wall = time.perf_counter() - started
        if ctx.fault == "perturb":
            name, cols, rows = results[0]
            results[0] = (name, cols, rows[:-1] if rows else [tuple(range(len(cols)))])
        for name, cols, rows in results:
            counts["attempted"] += 1
            if cols is None or (sorted(cols), canonicalize(cols, rows)) != expected[name]:
                counts["failed"] += 1
                print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
        return wall, lat, frames

    warm_s = one_pass(None)[0]
    sparkstats.drop_debris(spark)
    plain, p50, p99, per_layer = [], [], [], {}
    traced_s = None
    stop_at = time.perf_counter() + ctx.seconds
    while True:
        traced = tracer is not None and len(plain) == 1 and traced_s is None
        if traced:
            stages_before = sparkstats.stage_keys(spark)
            tmp_before = set(os.listdir(ctx.tmp))
        wall, lat, frames = one_pass(tracer if traced else None)
        if traced:
            # Each table the workload reads, loaded once, after the pass so
            # the probe cannot warm the pass.
            for table in TPCH_TABLES:
                with tracer.span("sources.load_table", table):
                    load_table(spark, sf_dir, table)
            per_layer = query_layers(ctx, spark, tracer, frames, stages_before, tmp_before)
            views, persisted = sparkstats.session_debris(spark)
            per_layer["session.mem_views_left"] = views
            per_layer["session.persisted_rdds_left"] = persisted
            traced_s = wall
        else:
            plain.append(wall)
            p50.append(percentile(lat, 50))
            p99.append(percentile(lat, 99))
        sparkstats.drop_debris(spark)
        if tracer is not None:
            # Untraced passes either side of the traced one are its base.
            if len(plain) == 2:
                per_layer["trace.overhead_ratio"] = traced_s / statistics.fmean(plain)
                break
        elif len(plain) >= TIMED_PASSES and time.perf_counter() >= stop_at:
            break
    rss = peak_rss(spark)
    left = sparkstats.session_debris(spark)
    spark.stop()
    best = min(range(len(plain)), key=plain.__getitem__)
    out = {
        **counts,
        "e2e": {
            "items_per_s": len(order) / plain[best],
            "latency_p50_ms": p50[best],
            "latency_p99_ms": p99[best],
            "pass_s": plain[best],
            "peak_rss_mb": rss,
        },
        "info": {"sf": sf, "order": order, "warm_up_pass_s": warm_s, "pass_s": plain,
                 "mem_views_after_cleanup": left[0], "persisted_rdds_after_cleanup": left[1]},
    }
    if tracer is not None:
        out["per_layer"] = per_layer
    return out


def query_layers(ctx, spark, tracer, frames, stages_before, tmp_before) -> dict:
    """Per-layer figures of the traced pass, from its spans and Spark's own
    accounting (jobs are attributed to the span they were submitted in)."""
    jobs = sparkstats.jobs(spark)
    off = tracer.epoch_offset

    def jobs_in(name):
        spans = tracer.named(name)
        return [j for j in jobs if any(s[4] <= j[1] - off <= s[5] + 0.001 for s in spans)]

    (_, _, _, _, p_start, p_end), = tracer.named("pass")[-1:]
    busy = [
        (max(s - off, p_start), min(e - off, p_end)) for _, s, e in jobs
        if e - off > p_start and s - off < p_end
    ]
    job_busy = union_length(busy)
    phases = {p: 0 for p in sparkstats.PHASES}
    for df in frames:
        for p, ms in sparkstats.phases_ms(df).items():
            phases[p] += ms
    stages = sparkstats.stage_totals(spark, stages_before)
    return {
        "sources.load_table_s": tracer.self_time("sources.load_table"),
        "sources.load_table_jobs": len(jobs_in("sources.load_table")),
        "queries.build_s": tracer.self_time("queries.build"),
        "queries.build_jobs": len(jobs_in("queries.build")),
        "spark.collect_s": tracer.self_time("spark.collect"),
        "spark.collect_jobs": len(jobs_in("spark.collect")),
        "spark.job_busy_s": job_busy,
        "spark.driver_only_s": (p_end - p_start) - job_busy,
        **{f"spark.phase_{p}_ms": ms for p, ms in phases.items()},
        **{f"spark.{k}": v for k, v in stages.items()},
        "scratch.tmp_dirs_created": len(set(os.listdir(ctx.tmp)) - tmp_before),
    }


WORKLOADS = {
    "core_inproc": (core_setup, core_run),
    "stream_filedrop": (stream_setup, stream_run),
    "tpch_power": (query_setup, query_run),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned", type=float, required=True,
                    help="time.monotonic() of the parent just before it started this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--fault", choices=("drop_batch", "perturb"))
    ctx = ap.parse_args()
    ctx.tmp = os.environ["TMPDIR"]
    ctx.nproc = len(os.sched_getaffinity(0))
    ctx.scale = SCALES[ctx.scale]
    ctx.tracer = Tracer() if ctx.trace else None
    setup, run = WORKLOADS[ctx.workload]
    state = setup(ctx)
    setup_s = time.monotonic() - ctx.spawned
    result = {"setup_s": setup_s, "sf": ctx.scale["sf"], "nproc": ctx.nproc}
    if "spark" in state:
        spark = state["spark"]
        result["java_version"] = spark._jvm.System.getProperty("java.version")
        result["spark_version"] = spark.version
    if ctx.setup_only:
        if "stream" in state:
            state["stream"].stop(flush=False)
        if "spark" in state:
            state["spark"].stop()
    else:
        if ctx.tracer is not None:
            diag = canaries(ctx.tmp)
        result.update(run(ctx, state))
        if "peak_rss_mb" not in result["e2e"]:
            result["e2e"]["peak_rss_mb"] = peak_rss()
        if ctx.tracer is not None:
            result["per_layer"].update(diag)
            result["spans"] = len(ctx.tracer.spans)
            ctx.tracer.dump(ctx.out + ".spans.json")
    with open(ctx.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
