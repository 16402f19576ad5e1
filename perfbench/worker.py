"""One benchmark run in a fresh process; started by ``run.py``.

Set-up (billed to ``setup_s``, from the launcher's spawn of this
process): input generation, ``build_session``, ``register_testdata``
and untimed warm passes over the ops. The timed phase then runs
whole passes in a closed loop (one client; the next op starts when
the previous one has finished) until ``--seconds`` have elapsed. The
outputs of the last pass are checked afterwards, outside the timed
window. The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import threading
import time

import duckdb

from perfbench import gen, oracle, trace, workloads

GROUP_PREFIX = trace.GROUP_PREFIX
# DuckDB's memory limit and spill cap: beside a driver heap of at most
# 4 GiB, the two fit in RAM together.
DUCKDB_MEMORY = "2GB"


class PinSampler:
    """Polls the number of persisted RDDs while an op runs; keeps the
    peak. Read from the JVM's view, outside the engine."""

    def __init__(self, spark, period_s: float = 0.02):
        self._jsc = spark.sparkContext._jsc
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def count(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def ids(self) -> set[int]:
        return set(self._jsc.getPersistentRDDs().keySet())

    def __enter__(self):
        self.peak = self.count()
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def _poll(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, self.count())

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.count())


class StreamStats:
    """Micro-batch progress seen by a StreamingQueryListener."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                stats.batches.append(
                    {
                        "input_rows": p.numInputRows,
                        "batch_s": (p.batchDuration or 0) / 1000.0,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()


def session_conf(scratch: str, trace_on: bool) -> dict[str, str]:
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # A heap fixed at its maximum: left to grow, the heap's
        # resident size follows the collector's expansion decisions and
        # swung 1.5-2.3 GB between runs of the same work, so
        # peak_rss_mb could not repeat.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -Xms{heap}"
        ),
    }
    if trace_on:
        logdir = os.path.join(scratch, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def run(args) -> dict:
    scratch = args.scratch
    spans = workloads.Spans()
    sf_dir = os.path.join(scratch, "inputs")
    manifest = gen.generate(sf_dir, args.workload, args.seed)

    from etl_projects_spark import catalog, session

    with spans.span("session.build_s"):
        spark = session.build_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf=session_conf(scratch, bool(args.trace)),
        )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    with spans.span("catalog.register_s"):
        catalog.register_testdata(spark, sf_dir)
    wl = workloads.make(args.workload, spark, sf_dir, scratch, manifest, spans)
    streams = StreamStats()
    if args.trace:
        spark.streams.addListener(streams.listener())

    # Warm passes: JIT and codegen, Python worker spin-up, and the
    # per-corpus scratch artifacts the curation queries build once.
    for _ in range(wl.warm_passes):
        wl.start_pass()
        for name, op in wl.ops():
            sc.setJobGroup(f"{GROUP_PREFIX}warm:{name}", name)
            op()
    setup_s = time.monotonic() - args.t0
    warm_spans = dict(spans.total)
    spans.total.clear()
    n_warm_batches = len(streams.batches)

    pins = PinSampler(spark)
    timed, pins_grew = [], []
    t_run = time.monotonic()
    passes = 0
    while passes == 0 or time.monotonic() - t_run < args.seconds:
        wl.start_pass()
        for i, (name, op) in enumerate(wl.ops()):
            group = f"{GROUP_PREFIX}{passes}:{i}:{name}"
            sc.setJobGroup(group, name)
            before = pins.ids()
            with pins if args.trace else contextlib.nullcontext():
                start = time.time()
                t = time.perf_counter()
                op()
                wall = time.perf_counter() - t
                end = time.time()
            after = pins.ids()
            # Scoped pins (exec_util.materialize_scoped) outlive their op
            # by design, one per scope; what must not happen is growth.
            if len(after) > len(before):
                pins_grew.append(f"{name}: persisted RDDs grew {len(before)} -> {len(after)}")
            rec = {"name": name, "group": group, "start": start, "end": end, "wall_s": wall,
                   "pins_peak": pins.peak if args.trace else None,
                   "pins_left": len(after - before)}
            if args.trace:
                rec["tracker_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            timed.append(rec)
        passes += 1
    run_wall = time.monotonic() - t_run
    sc.setJobGroup(f"{GROUP_PREFIX}after", "after")
    timed_spans = dict(spans.total)

    lake_files = wl.data_files() if hasattr(wl, "data_files") else []
    cpus = sc.defaultParallelism
    heap_mb = sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    spark_version = spark.version
    spark.stop()

    t_check = time.perf_counter()
    con = oracle.connect(scratch, DUCKDB_MEMORY, cpus)
    try:
        problems = wl.check(con) + pins_grew
    finally:
        con.close()
    check_s = time.perf_counter() - t_check
    traced = (
        trace_result(scratch, timed, timed_spans, warm_spans, streams.batches[n_warm_batches:],
                     lake_files, check_s, problems)
        if args.trace
        else {}
    )

    walls = [r["wall_s"] for r in timed]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "correct": not problems,
        "problems": problems,
        "attempted": len(timed),
        "failed": 0,
        "passes": passes,
        "setup_s": setup_s,
        "run_s": run_wall / passes,
        "op_p50_s": trace.median(walls),
        "samples": len(walls),
        "op_walls": {r["name"]: [] for r in timed},
        "stamp": {
            "cpus": cpus,
            "heap_mb": round(heap_mb),
            "spark": spark_version,
            "duckdb": duckdb.__version__,
        },
        "inputs": manifest["tables"],
        "planted_pairs": len(manifest["planted"]),
    }
    for r in timed:
        result["op_walls"][r["name"]].append(round(r["wall_s"], 4))
    result.update(traced)
    return result


def trace_result(scratch, timed, timed_spans, warm_spans, batches, lake_files, check_s,
                 problems) -> dict:
    """Per-op records and layer totals of a traced run; appends to
    ``problems`` any op whose event-log job count disagrees with the
    status tracker's."""
    logs = glob.glob(os.path.join(scratch, "eventlog", "*"))
    log = trace.read_event_log(logs[0])
    records = trace.op_records(timed, log)
    for rec, op in zip(records, timed):
        rec["pins_peak"] = op["pins_peak"]
        rec["pins_left"] = op["pins_left"]
        if rec["jobs_in_group"] != op["tracker_jobs"]:
            problems.append(
                f"{op['name']}: event log has {rec['jobs_in_group']} jobs in its group, "
                f"status tracker {op['tracker_jobs']}"
            )

    def total(key):
        return sum(r[key] for r in records)

    layer = {
        "session.build_s": warm_spans.get("session.build_s", 0.0),
        "catalog.register_s": warm_spans.get("catalog.register_s", 0.0),
        "queries.construct_s": timed_spans.get("queries.construct_s", 0.0),
        "spark.action_s": timed_spans.get("spark.action_s", 0.0),
        "spark.driver_s": total("driver_s"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.task_run_s": total("task_run_s"),
        "spark.task_cpu_s": total("task_cpu_s"),
        "spark.gc_s": total("gc_s"),
        "spark.input_bytes": total("input_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "plan.exchanges": total("plan_exchanges"),
        "plan.python_nodes": total("plan_python_nodes"),
        "exec_util.pins_peak": max(r["pins_peak"] for r in records),
        "exec_util.pins_left": max(r["pins_left"] for r in records),
        "engine.load_table_s": timed_spans.get("engine.load_table_s", 0.0),
        "engine.ddl_s": total("ddl_s"),
        "sinks.write_s": total("write_s") + timed_spans.get("sinks.stage_s", 0.0),
        "sources.read_s": timed_spans.get("sources.read_s", 0.0),
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.batch_p50_s": trace.median([b["batch_s"] for b in batches]) if batches else 0.0,
        "streaming.state_rows": max((b["state_rows"] for b in batches), default=0),
        "lake.bytes": sum(os.path.getsize(p) for p in lake_files),
        "lake.files": len(lake_files),
        "oracle.check_s": check_s,
    }
    return {"layer": layer, "records": records}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--t0", type=float, required=True, help="launcher's monotonic clock at spawn")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
