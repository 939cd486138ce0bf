#!/usr/bin/env python3
"""The repository's benchmark: one workload run per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads, metrics, units and bounds are
listed in ``BENCHMARK.json``; ``worker.py`` describes what each workload does.

Every workload runs in fresh worker processes on ``local[nproc]``, so no
session state carries over between runs, and set-up time is real. With
``--trace 0`` the run may first start the workload's engine alone a few
times (``SETUP_SAMPLES``), then starts it once more to measure; it reports
the end-to-end metrics, ``setup_s`` being the median of all set-up samples,
the measured run's own included. With
``--trace 1`` it runs the workload once, traced, and reports the per-layer
metrics; ``trace.overhead_ratio`` compares a traced unit of work (a pass, a
drain burst) with untraced ones of the same process.
Per-layer metrics of a layer the workload never enters read 0.

Output: one line ``<workload> <metric> <value> <unit>`` per metric and for
``fail_ratio``, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Each run also writes
``.perfbench_out/runs/<workload>-seed<n>-trace<t>-<time>.json`` with the
figures, the environment (nproc, seed, sf, Python, Java and Spark versions)
and per-worker details; a traced run writes its spans beside it.

All files a run writes stay under ``.perfbench_out/`` (the workers get a
``TMPDIR`` there, and Spark's local, warehouse and JVM temp dirs follow it);
the run's work dir is removed when the run ends, and every process it
started is stopped before it exits.
"""

from __future__ import annotations

import argparse
import datetime
import importlib.metadata
import json
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Set-up samples per untraced run: the measured run's own set-up plus
# set-up-only starts. A JVM start costs ~10 s on 4 cores, and every run of
# every workload must fit in one hour, so the Spark workloads take the
# measured run's sample alone; the in-process one takes five.
SETUP_SAMPLES = {"core_inproc": 5, "stream_filedrop": 1, "tpch_power": 1}
RUN_DEADLINE_S = 170.0


class BenchError(Exception):
    pass


def stop_group(pgid: int) -> None:
    """Stop every process left in a worker's process group (the JVM and its
    Python workers outlive the worker by a moment) and wait until none is
    left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    raise BenchError(f"processes of group {pgid} did not stop")


def run_worker(args, root: str, work: str, tag: str, deadline: float, trace: int,
               setup_only: bool = False) -> dict:
    tmp = os.path.join(work, f"tmp-{tag}")
    os.makedirs(tmp)
    out = os.path.join(work, f"result-{tag}.json")
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: point both inside.
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    spawned = time.monotonic()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--spawned", repr(spawned), "--out", out, "--scale", args.scale]
    if setup_only:
        cmd.append("--setup-only")
    if args.fault:
        cmd += ["--fault", args.fault]
    # The worker's stdout goes to our stderr: our stdout carries results only.
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"worker {tag} failed (exit {rc})")
    with open(out) as f:
        result = json.load(f)
    spans = out + ".spans.json"
    if os.path.isfile(spans):
        result["spans_file"] = spans
    return result


def java_version() -> str:
    try:
        proc = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    m = re.search(r'version "([^"]+)"', proc.stderr)
    return m.group(1) if m else "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # Self-test only: smaller inputs, and injected faults.
    ap.add_argument("--scale", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    ap.add_argument("--fault", choices=("drop_batch", "perturb"), help=argparse.SUPPRESS)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as exc:
        print(f"perfbench: cannot read BENCHMARK.json: {exc}", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, "nibbler_spark", "__init__.py")):
        print("perfbench: no nibbler_spark package here; run from the root of a checkout",
              file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_DEADLINE_S
    out_dir = os.path.join(root, ".perfbench_out")
    runs_dir = os.path.join(out_dir, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=out_dir)
    try:
        workers = {}
        if args.trace:
            workers["traced"] = main_result = run_worker(args, root, work, "traced", deadline, 1)
            # A layer the workload never enters has nothing to report.
            values = {m["name"]: main_result["per_layer"].get(m["name"], 0)
                      for m in spec["per_layer"]}
            wanted = spec["per_layer"]
        else:
            setups = []
            for k in range(SETUP_SAMPLES[args.workload] - 1):
                workers[f"setup{k}"] = run_worker(args, root, work, f"setup{k}", deadline, 0,
                                                  setup_only=True)
                setups.append(workers[f"setup{k}"]["setup_s"])
            workers["measured"] = main_result = run_worker(args, root, work, "measured",
                                                           deadline, 0)
            setups.append(main_result["setup_s"])
            values = dict(main_result["e2e"], setup_s=statistics.median(setups))
            wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise BenchError(f"worker reported no {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        attempted, failed = main_result["attempted"], main_result["failed"]
        fail_ratio = failed / attempted if attempted else 1.0
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "fault": args.fault,
            "sf": main_result["sf"], "nproc": main_result["nproc"],
            "python_version": platform.python_version(), "java_version": java_version(),
            "spark_version": importlib.metadata.version("pyspark"),
            "attempted": attempted, "failed": failed, "fail_ratio": fail_ratio,
            "metrics": metrics, "workers": workers,
        }
        base = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}")
        for w in workers.values():
            if "spans_file" in w:
                shutil.move(w["spans_file"], base + ".spans.json")
                w["spans_file"] = os.path.relpath(base + ".spans.json", root)
        with open(base + ".json", "w") as f:
            json.dump(record, f, indent=1)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_ratio {fail_ratio:.6g} ratio")
    print(f"perfbench: wrote {os.path.relpath(base + '.json', root)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
