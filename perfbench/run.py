"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

This launcher makes one scratch directory, starts ``worker.py`` in a
fresh process group with every temporary location pointed into that
directory, samples the resident memory of the worker's process tree
from ``/proc``, and after the worker ends stops whatever the run
started and deletes the scratch directory. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Any failure exits non-zero without that line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SCRATCH_ROOT = os.path.join(ROOT, ".perfbench_scratch")
MIN_FREE_BYTES = 2 * 2**30
WORKER_TIMEOUT_S = 140  # plus up to 40 s of stop_group, inside 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.build_s": "s", "catalog.register_s": "s", "queries.construct_s": "s",
    "spark.action_s": "s", "spark.driver_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "exec_util.pins_peak": "count", "exec_util.pins_left": "count",
    "engine.load_table_s": "s", "engine.ddl_s": "s", "sinks.write_s": "s",
    "sources.read_s": "s", "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.batch_p50_s": "s", "streaming.state_rows": "rows",
    "lake.bytes": "bytes", "lake.files": "count", "oracle.check_s": "s",
}


def group_pids(pgid: int) -> list[int]:
    """Live processes in process group ``pgid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group.
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def group_rss_mb(pgid: int) -> dict[str, float]:
    """Resident memory of a process group by kind: the JVM, the worker
    (Python driver) process, and Spark's Python workers. Launcher
    shells are not counted."""
    out = {"jvm": 0.0, "python_driver": 0.0, "python_workers": 0.0}
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                rss = int(f.read().split()[1]) * PAGE / 2**20
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if pid == pgid:
            out["python_driver"] += rss
        elif comm == "java":
            out["jvm"] += rss
        elif comm.startswith("python"):
            out["python_workers"] += rss
        # Anything else is a JVM child between fork and exec: it shares
        # the JVM's pages, and counting it would count them twice.
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of a process group, sampled every 0.1 s;
    keeps the split by kind at the peak."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid, self.peak_mb, self.at_peak = pgid, 0.0, {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.1):
            parts = group_rss_mb(self.pgid)
            if sum(parts.values()) > self.peak_mb:
                self.peak_mb, self.at_peak = sum(parts.values()), parts


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the group; return once
    none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        deadline = time.monotonic() + wait_s
        while group_pids(pgid) and time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)
    if group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def default_driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: room for DuckDB's
    limit beside the driver heap, and for the machine's other users."""
    phys = os.sysconf("SC_PHYS_PAGES") * PAGE
    return f"{max(1, min(4, phys // 4 // 2**30))}g"


def child_env(scratch: str, inputs: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark_local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(os.cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": default_driver_mem(),
            "SPARK_GRAFT_ORACLE_SF_DIR": inputs,
        }
    )
    return env


def emit(result: dict, trace_on: bool, peak_rss_mb: float, rss_split: dict) -> None:
    if trace_on:
        for rec in result["records"]:
            print(json.dumps({"record": rec}))
        metrics = {k: {"value": result["layer"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        values = {**result, "peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    info = {k: result[k] for k in ("workload", "seed", "passes", "samples", "stamp", "inputs",
                                   "planted_pairs", "problems", "op_walls")}
    info.update({k: result[k] for k in END_TO_END_UNITS if k in result})
    info["peak_rss_mb"] = peak_rss_mb
    info["peak_rss_split_mb"] = rss_split
    print(json.dumps({"run": info}))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    free = shutil.disk_usage(SCRATCH_ROOT).free
    if free < MIN_FREE_BYTES:
        print(f"only {free / 2**30:.1f} GiB free under {SCRATCH_ROOT}; need "
              f"{MIN_FREE_BYTES / 2**30:.0f}", file=sys.stderr)
        return 3
    scratch = os.path.join(SCRATCH_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    out = os.path.join(scratch, "result.json")
    inputs = os.path.join(scratch, "inputs")
    proc = None
    try:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scratch", scratch, "--t0", repr(t0), "--out", out],
            cwd=scratch, env=child_env(scratch, inputs), start_new_session=True,
            stdout=sys.stderr,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
            code = -1
        sampler.done.set()
        sampler.join()
        if code != 0 or not os.path.exists(out):
            print(f"worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(out, encoding="utf-8") as f:
            result = json.load(f)
        if not result["correct"]:
            for p in result["problems"]:
                print(f"check failed: {p}", file=sys.stderr)
        emit(result, bool(args.trace), sampler.peak_mb, sampler.at_peak)
        return 0
    finally:
        if proc is not None:
            stop_group(proc.pid)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_ROOT)
        except OSError:
            pass  # another run's scratch is still there


if __name__ == "__main__":
    sys.exit(main())
