#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes. Run from the root of a checkout:

    python3 perfbench/selftest.py

It runs every workload untraced and traced with ``--scale tiny`` and checks:

- every metric BENCHMARK.json names is printed, with its unit, on its own
  line and in the final JSON line, and ``fail_ratio`` is printed and 0;
- an injected fault makes ``fail_ratio`` > 0: a processor that drops a
  batch (``core_inproc``) and a query result that is perturbed
  (``tpch_power``);
- a run leaves nothing behind: no work, drop or checkpoint dir under
  ``.perfbench_out/``, no ``mem_*`` view or persisted RDD in the session
  after its cleanup, and no Spark or nibbler entry in the system temp dir;
- in a directory that holds only BENCHMARK.json and ``perfbench/``, the
  benchmark exits non-zero without printing a result.

Exits 0 when every check passes; prints each failed check otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench_out")
SYSTEM_TMP_PATTERNS = ("nibbler-*", "spark-*", "blockmgr-*", "hsperfdata_*/*")


def bench(workload: str, trace: int, fault: str | None = None, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def system_tmp_entries() -> set[str]:
    tmp = tempfile.gettempdir()
    return {p for pat in SYSTEM_TMP_PATTERNS for p in glob.glob(os.path.join(tmp, pat))}


def latest_record(workload: str, trace: int) -> dict:
    files = sorted(glob.glob(os.path.join(OUT, "runs", f"{workload}-seed7-trace{trace}-*Z.json")))
    with open(files[-1]) as f:
        return json.load(f)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def check(ok: bool, what: str) -> None:
        if not ok:
            problems.append(what)
            print(f"FAIL {what}", flush=True)

    tmp_before = system_tmp_entries()
    for w in spec["workloads"]:
        workload = w["name"]
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = bench(workload, trace)
            label = f"{workload} trace={trace}"
            check(proc.returncode == 0, f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            if proc.returncode != 0:
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{label}: result keys {sorted(result)}")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{label}: not correct ({result['failed']} of {result['attempted']} failed)")
            for m in wanted:
                printed = [ln for ln in lines[:-1] if ln.split()[:2] == [workload, m["name"]]]
                check(len(printed) == 1 and printed[0].split()[-1] == m["unit"],
                      f"{label}: {m['name']} not printed once with unit {m['unit']}")
                got = result["metrics"].get(m["name"], {})
                check(got.get("unit") == m["unit"] and isinstance(got.get("value"), (int, float)),
                      f"{label}: {m['name']} missing from the result line")
            check(f"{workload} fail_ratio 0 ratio" in lines, f"{label}: fail_ratio not printed as 0")
            check(not glob.glob(os.path.join(OUT, "work-*")), f"{label}: work dir left behind")
            info = latest_record(workload, trace)["workers"]
            for worker in info.values():
                left = worker.get("info", {})
                check(left.get("mem_views_after_cleanup", 0) == 0
                      and left.get("persisted_rdds_after_cleanup", 0) == 0,
                      f"{label}: session debris left after cleanup")

    for workload, fault in (("core_inproc", "drop_batch"), ("tpch_power", "perturb")):
        proc = bench(workload, 0, fault)
        label = f"{workload} fault={fault}"
        check(proc.returncode == 0, f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
        if proc.returncode == 0:
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            check(not result["correct"] and result["failed"] > 0, f"{label}: fault not detected")
            ratio = [ln for ln in proc.stdout.splitlines() if ln.startswith(f"{workload} fail_ratio ")]
            check(bool(ratio) and float(ratio[0].split()[2]) > 0, f"{label}: fail_ratio not > 0")

    check(not (system_tmp_entries() - tmp_before), "entries left in the system temp dir: "
          f"{sorted(system_tmp_entries() - tmp_before)}")

    bare = tempfile.mkdtemp(prefix="bare-", dir=OUT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = bench("core_inproc", 0, cwd=bare)
        check(proc.returncode != 0 and not proc.stdout.strip(),
              f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
