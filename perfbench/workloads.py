"""The three workloads: each is a fixed list of named ops, run in
passes by ``worker.py``, plus the checks made on their outputs.

An op is a zero-argument callable. Catalog ops construct the query
(``queries.construct_s``) and materialize it with ``toPandas``
(``spark.action_s``); lake ops call the engine's lake entry points,
each call inside a span named after the layer it enters.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import oracle

SQL_OPS = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_orders",
    "q21_sole_returning_supplier",
    "join_semi",
    "join_anti",
    "join_full_outer",
    "window_rank_metrics",
    "cube_counts",
    "percentiles_order_value",
)

# The incremental queries (dedup_incremental_batch,
# substring_span_incremental) are left out: their persisted state
# advances with every invocation, so repeat timing would measure how
# far that state has advanced.
DOC_OPS = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "semdedup_prune",
    "decontaminate_eval_join",
    "dsir_select",
    "ann_ivf_topk",
    "text_quality_score",
    "substring_span_report",
)

# Pair outputs that must contain the planted near-duplicates, with the
# share of planted pairs each must find. N-gram Jaccard is exact, so it
# finds every one; MinHash-LSH and SimHash are approximate.
PLANTED_RECALL = {
    "dedup_ngram_jaccard": 1.0,
    "dedup_minhash_lsh": 0.9,
    "dedup_simhash": 0.5,
}

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


class Spans:
    """Accumulated seconds per layer span."""

    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, layer: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.total[layer] += time.perf_counter() - t


class CatalogWorkload:
    """Read-only catalog queries, checked against their DuckDB twins."""

    warm_passes = 1

    def __init__(self, spark, sf_dir: str, names, spans: Spans, manifest: dict):
        import __spark_entry__ as entry

        self.spark, self.sf_dir, self.spans = spark, sf_dir, spans
        self.names = tuple(names)
        self.manifest = manifest
        queries = entry.queries()
        self.fns = {n: queries[n] for n in self.names}
        self.outputs: dict[str, object] = {}

    def start_pass(self) -> None:
        pass

    def ops(self):
        return [(n, self._op(n)) for n in self.names]

    def _op(self, name: str):
        def run():
            with self.spans.span("queries.construct_s"):
                df = self.fns[name](self.spark, self.sf_dir)
            with self.spans.span("spark.action_s"):
                self.outputs[name] = df.toPandas()

        return run

    def check(self, con) -> list[str]:
        import __spark_entry__ as entry

        oracle.register_inputs(con, self.sf_dir)
        twins = entry.oracle_sql()
        problems = []
        for name in self.names:
            if name not in twins:
                problems.append(f"{name}: no oracle twin")
                continue
            want = con.execute(twins[name]).df()
            problems += [f"{name}: {p}" for p in oracle.compare(self.outputs[name], want)]
        planted = {tuple(p) for p in self.manifest.get("planted", ())}
        for name, need in PLANTED_RECALL.items():
            if name not in self.outputs or not planted:
                continue
            out = self.outputs[name]
            found = planted & set(zip(out["id_a"].tolist(), out["id_b"].tolist()))
            if len(found) < need * len(planted):
                problems.append(
                    f"{name}: found {len(found)} of {len(planted)} planted pairs, "
                    f"need {need:.0%}"
                )
        return problems


class LakeWorkload:
    """The lake lifecycle over daily batches; every pass starts from an
    empty lake root."""

    # Its short write ops were still 20% faster in a second pass than
    # in the first after one warm pass; with four, the run-to-run
    # spread of run_s fell from 0.20 to 0.09 of its median.
    warm_passes = 4

    def __init__(self, spark, scratch: str, manifest: dict, spans: Spans):
        self.spark, self.spans = spark, spans
        self.feeds = manifest["feeds"]
        self.days = sorted(self.feeds)
        self.retried = self.days[1]
        self.landing = os.path.dirname(next(iter(self.feeds.values())))
        self.root = os.path.join(scratch, "lake")
        self.eng = None

    def start_pass(self) -> None:
        from etl_projects_spark.engine import LakeEngine

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.eng = LakeEngine(self.spark, root=self.root)

    def ops(self):
        ops = []
        for ds in self.days:
            ops += [("raw_load", self._raw(ds)), ("clean_load", self._clean(ds))]
        ops += [
            ("retry_raw_load", self._raw(self.retried)),
            ("retry_clean_load", self._clean(self.retried)),
            ("merge_upsert", self._merge),
            ("promote_to_dw", self._promote),
            ("warehouse_stage", self._stage),
            ("stream_ingest", self._stream),
        ]
        return ops

    def _raw(self, ds: str):
        from etl_projects_spark.config import Layer
        from etl_projects_spark.sources import ingest

        def run():
            with self.spans.span("sources.read_s"):
                feed = ingest.read_jsonl_gz(self.spark, self.feeds[ds], schema=EVENTS_SCHEMA)
            feed.createOrReplaceTempView("landing_batch")
            with self.spans.span("engine.load_table_s"):
                self.eng.load_table(
                    "SELECT event_id, ts, user_id, event_type, value, props, "
                    "'{ds}' AS ds FROM landing_batch",
                    "datalake_events_raw", "events", layer=Layer.RAW,
                    partitions=["ds"], ds=ds, is_incremental=True,
                )

        return run

    def _clean(self, ds: str):
        from etl_projects_spark.config import Layer

        def run():
            with self.spans.span("engine.load_table_s"):
                self.eng.load_table(
                    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
                    "lower(event_type) AS event_type, "
                    "CAST(value AS DECIMAL(18,2)) AS value, CAST(ds AS STRING) AS ds "
                    "FROM datalake_events_raw_events WHERE ds = '{ds}'",
                    "datalake_events_clean", "events", layer=Layer.CLEAN,
                    partitions=["ds"], ds=ds, is_incremental=True,
                )

        return run

    def _merge(self):
        from pyspark.sql import functions as F

        from etl_projects_spark.config import Layer
        from etl_projects_spark.operators import merge

        clean = self.spark.table("datalake_events_clean_events")
        last = F.col("ds") == F.lit(self.days[-1])
        cols = ["user_id", "ts", "event_id", "event_type", "value"]
        target = merge.latest_per_key(clean.filter(~last).select(cols), ["user_id"], ["ts", "event_id"])
        updates = clean.filter(last).select(cols)
        merged = merge.merge_upsert(target, updates, ["user_id"], order_col=["ts", "event_id"])
        with self.spans.span("engine.load_table_s"):
            self.eng.load_dataframe(merged, "datalake_events_clean", "user_latest", layer=Layer.CLEAN)

    def _promote(self):
        from etl_projects_spark.operators import quality

        self.spark.sql(
            "SELECT ds, event_type, COUNT(*) AS n_events, "
            "CAST(SUM(value) AS DOUBLE) AS total_value "
            "FROM datalake_events_clean_events GROUP BY ds, event_type"
        ).createOrReplaceTempView("events_daily_staging")
        rules = {
            "n_events_non_negative": quality.non_negative("n_events"),
            "event_type_known": quality.in_set("event_type", EVENT_TYPES),
            "ds_required": quality.required("ds"),
        }
        checks = [
            quality.min_count_monitor(len(self.days) * len(EVENT_TYPES)),
            quality.zero_errors_monitor(rules),
        ]
        with self.spans.span("engine.load_table_s"):
            self.eng.promote_to_dw("events_daily_staging", "dw_events", "daily_counts", checks=checks)

    def _stage(self):
        from etl_projects_spark.sinks import warehouse_copy

        with self.spans.span("sinks.stage_s"):
            warehouse_copy.stage_for_copy(
                self.spark.table("dw_events_daily_counts"),
                os.path.join(self.root, "warehouse_stage", "daily_counts"),
                fmt="jsonl_gz",
            )

    def _stream(self):
        from etl_projects_spark.streaming import jobs

        src = jobs.stream_from_directory(
            self.spark, self.landing, fmt="json", max_files_per_trigger=1
        )
        jobs.incremental_ingest(
            jobs.dedup_stream(src, ("event_id",), watermark="1 hour"),
            os.path.join(self.root, "stream", "events"),
            os.path.join(self.root, "stream", "_checkpoint"),
        )

    # ---- checks ----------------------------------------------------------

    def data_files(self) -> list[str]:
        """Data files the engine wrote under the lake root (streaming
        checkpoints, metadata logs and checksums excluded)."""
        return [
            p
            for p in glob.glob(os.path.join(self.root, "**", "part-*"), recursive=True)
            if not p.endswith(".crc") and "_checkpoint" not in p
        ]

    def check(self, con) -> list[str]:
        from etl_projects_spark.sinks import warehouse_copy

        feeds = ", ".join(f"'{self.feeds[d]}'" for d in self.days)
        con.execute(
            f"""CREATE OR REPLACE VIEW feed AS
            SELECT * FROM read_ndjson([{feeds}], columns={{
              event_id: 'BIGINT', ts: 'TIMESTAMP', user_id: 'BIGINT',
              event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})"""
        )
        con.execute(
            f"""CREATE OR REPLACE VIEW raw AS SELECT * FROM read_ndjson_auto(
            '{self.root}/datalake_events_raw/events/**/part-*', hive_partitioning=true)"""
        )
        for name, path in (
            ("clean", "datalake_events_clean/events"),
            ("user_latest", "datalake_events_clean/user_latest"),
            ("dw", "dw_events/daily_counts"),
            ("streamed", "stream/events"),
        ):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{self.root}/{path}/**/*.parquet', hive_partitioning=true)"
            )
        warehouse_copy.copy_into_duckdb(
            con, "staged",
            os.path.join(self.root, "warehouse_stage", "daily_counts", warehouse_copy.MANIFEST_NAME),
        )
        problems = []

        def differ(label: str, got: str, want: str) -> None:
            n = con.execute(
                f"SELECT (SELECT COUNT(*) FROM (({got}) EXCEPT ALL ({want}))) "
                f"+ (SELECT COUNT(*) FROM (({want}) EXCEPT ALL ({got})))"
            ).fetchone()[0]
            if n:
                problems.append(f"{label}: {n} rows differ from the reference")

        per_day = "SELECT CAST(ds AS VARCHAR) AS ds, COUNT(*) AS n FROM {} GROUP BY 1"
        want_days = "SELECT strftime(ts, '%Y-%m-%d') AS ds, COUNT(*) AS n FROM feed GROUP BY 1"
        # Conservation raw -> clean -> dw, and the retried ds counted once.
        differ("raw rows per ds", per_day.format("raw"), want_days)
        differ("clean rows per ds", per_day.format("clean"), want_days)
        differ(
            "dw rows per ds",
            "SELECT CAST(ds AS VARCHAR), CAST(SUM(n_events) AS BIGINT) FROM dw GROUP BY 1",
            want_days,
        )
        differ(
            "clean table",
            "SELECT event_id, ts, user_id, event_type, CAST(value AS DECIMAL(18,2)), "
            "CAST(ds AS VARCHAR) FROM clean",
            "SELECT event_id, ts, user_id, lower(event_type), CAST(value AS DECIMAL(18,2)), "
            "strftime(ts, '%Y-%m-%d') FROM feed",
        )
        dw_want = (
            "SELECT strftime(ts, '%Y-%m-%d') AS ds, lower(event_type) AS event_type, "
            "COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) "
            "AS total_value FROM feed GROUP BY 1, 2"
        )
        differ(
            "dw table",
            "SELECT CAST(ds AS VARCHAR), event_type, n_events, total_value FROM dw",
            dw_want,
        )
        differ(
            "warehouse copy",
            "SELECT CAST(ds AS VARCHAR), event_type, n_events, total_value FROM staged",
            dw_want,
        )
        differ(
            "user_latest table",
            "SELECT user_id, ts, event_id, event_type, CAST(value AS DECIMAL(18,2)) FROM user_latest",
            "SELECT user_id, ts, event_id, lower(event_type), CAST(value AS DECIMAL(18,2)) "
            "FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM feed) WHERE rn = 1",
        )
        differ(
            "streamed events",
            "SELECT event_id, ts, user_id, event_type, value, props FROM streamed",
            "SELECT event_id, ts, user_id, event_type, value, props FROM feed",
        )
        return problems


def make(workload: str, spark, sf_dir: str, scratch: str, manifest: dict, spans: Spans):
    if workload == "sql_analytics":
        return CatalogWorkload(spark, sf_dir, SQL_OPS, spans, manifest)
    if workload == "doc_curation":
        return CatalogWorkload(spark, sf_dir, DOC_OPS, spans, manifest)
    if workload == "lake_incremental":
        return LakeWorkload(spark, scratch, manifest, spans)
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("sql_analytics", "doc_curation", "lake_incremental")
