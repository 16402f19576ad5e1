"""LakeEngine — the single entry point that collapses the reference's
Airflow → Databricks → Spark control plane into one SparkSession.

Lifecycle parity (SURVEY §3-E1):

- ``sql()`` runs a SQL string or ``.sql`` file over registered tables
  (the reference's SQL-file-driven table builds,
  ``datalake_sub_dag_builder.py:96-117``).
- ``load_table()`` = run query → write layer table (partitioned,
  incremental append or dynamic-partition overwrite) → register it.
- ``load_layer()`` replaces the subdag-per-SQL-file loop
  (``base_sub_dag.py:58-84``): every ``.sql`` file in a directory becomes
  one table build.
- ``promote_to_dw()`` = staging → final-schema promotion gated on
  quality checks (``dw_sub_dag_builder.py:49-112`` intent).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_projects_spark.catalog import register_testdata
from etl_projects_spark.config import Layer, external_table_ddl
from etl_projects_spark.session import build_session
from etl_projects_spark.sinks.table_writer import TableWriter


# flattened-catalog-name ownership: name -> (database, table); guards
# against two distinct tables flattening to the same catalog name
_REGISTERED_NAMES: dict[str, tuple[str, str]] = {}


class LakeEngine:
    """Owns a SparkSession + a lake root; every table build is one Spark job."""

    def __init__(self, spark: SparkSession | None = None, root: str = "/tmp/lake"):
        self.spark = spark or build_session()
        self.root = root
        self.writer = TableWriter(root)

    # ---- query entry points -------------------------------------------------

    def sql(self, query_or_path: str, params: dict[str, str] | None = None) -> DataFrame:
        """Run SQL text or a ``.sql`` file; ``{param}`` placeholders substituted.

        The parameter substitution mirrors the reference's templated job
        params (``datalake_sub_dag_builder.py:102-115`` passes ``ds`` and
        spark params into the SQL-running job).
        """
        text = query_or_path
        if query_or_path.endswith(".sql"):
            # A .sql argument is always a file reference: a missing
            # path must be a FileNotFoundError here, not a downstream
            # ParseException on the literal path string.
            if not os.path.exists(query_or_path):
                raise FileNotFoundError(f"SQL file not found: {query_or_path}")
            with open(query_or_path) as f:
                text = f.read()
        if params:
            for k, v in params.items():
                text = text.replace("{" + k + "}", str(v))
        return self.spark.sql(text)

    def register_testdata(self, sf_dir: str) -> list[str]:
        return register_testdata(self.spark, sf_dir)

    # ---- lake lifecycle -----------------------------------------------------

    def load_table(
        self,
        query_or_path: str,
        database: str,
        table: str,
        layer: Layer | str = Layer.CLEAN,
        partitions: Sequence[str] = (),
        ds: date | str | None = None,
        is_incremental: bool = False,
        params: dict[str, str] | None = None,
    ) -> DataFrame:
        """Build one lake table from a SQL query and register it.

        ``is_incremental=True`` (requires ``partitions``) writes in
        overwrite mode with dynamic partition overwrite: re-running
        the same ``ds`` replaces exactly that batch's partitions
        (idempotent — the semantics the reference left implicit in its
        missing ``load_table.py`` job). A non-incremental partitioned
        load pins STATIC overwrite so a full rebuild also drops
        partitions that no longer exist in the source.

        After the write, the table is registered in the SPARK CATALOG as
        an external table (``CREATE TABLE ... (<columns>) USING <fmt>
        LOCATION``) declaring the schema of the frame just written —
        the Spark twin of the reference's create-external-table step
        after every load (``datalake_sub_dag_builder.py:117-141`` +
        ``athena/table_storage_format.py:20-32``), whose DDL declares
        its columns too. The declared schema is what keeps a re-run's
        entry fresh, and it spares the catalog a schema-inference read
        of the table on every load; only :meth:`register_existing`,
        with no frame at hand, infers. Unlike a temp view, the entry lives
        in the shared external catalog: every session on the same
        catalog sees it, and with a persistent metastore it survives
        restarts.
        """
        all_params = dict(params or {})
        if ds is not None:
            all_params["ds"] = str(ds)
        df = self.sql(query_or_path, params=all_params)
        write_opts: dict[str, str] = {}
        if is_incremental and not partitions:
            # Plain append double-counts on any retry — and
            # PipelineRunner DOES retry failed steps — so incremental
            # loads must name the partition columns that scope the
            # idempotent dynamic overwrite.
            raise ValueError(
                "is_incremental=True requires partition columns: an "
                "unpartitioned append is not idempotent under re-runs"
            )
        if partitions and not is_incremental:
            # A FULL rebuild must also remove partitions absent from
            # the new data; the session-global dynamic overwrite (set
            # for the incremental path) would silently leave them in
            # place, so pin static overwrite per write.
            write_opts["partitionOverwriteMode"] = "static"
        if partitions and is_incremental:
            # Pin dynamic PER WRITE, symmetric with the static branch:
            # the engine accepts ANY caller-supplied session, and under
            # Spark's default (session-global static) an "incremental"
            # overwrite would silently TRUNCATE every partition outside
            # the batch — the exact loss this mode exists to prevent.
            write_opts["partitionOverwriteMode"] = "dynamic"
        path = self.writer.load_table(
            df, database, table, layer=layer, partitions=partitions,
            mode="overwrite", **write_opts,
        )
        return self._register_external(
            database, table, path, layer, partitions, df.schema
        )

    def load_dataframe(
        self,
        df: DataFrame,
        database: str,
        table: str,
        layer: Layer | str = Layer.CLEAN,
        partitions: Sequence[str] = (),
    ) -> DataFrame:
        """Write an ALREADY-COMPUTED DataFrame as a layer table and
        register it — the DataFrame twin of :meth:`load_table`, for
        pipeline stages whose logic lives in engine operators
        (dedup keep-lists, DSIR selection, packing) rather than SQL
        files. Same write policy (layer→format, partitioned overwrite)
        and the same external-table registration; the curation funnel
        (queries_wave33) chains its stages through this."""
        path = self.writer.load_table(
            df, database, table, layer=layer, partitions=partitions,
            mode="overwrite",
        )
        return self._register_external(
            database, table, path, layer, partitions, df.schema
        )

    def _register_external(
        self,
        database: str,
        table: str,
        path: str,
        layer: Layer | str,
        partitions: Sequence[str] = (),
        schema: StructType | None = None,
    ) -> DataFrame:
        """Run the external-table DDL against the Spark catalog (K3).

        Drop-and-recreate with ``schema`` — the schema of the frame
        just written — keeps re-runs schema-fresh without reading the
        table (dropping an external table never touches the data
        files). Only ``register_existing`` passes no schema and lets
        Spark infer it from the files. MSCK REPAIR registers
        Hive-layout partition directories so partition pruning works
        through the catalog entry.

        The flattened catalog name ``<database>_<table>`` is ambiguous
        in principle (('sales_eu','orders') and ('sales','eu_orders')
        both flatten to 'sales_eu_orders'), and the DROP-then-CREATE
        would silently clobber the other table's registration — so the
        process-wide registry below rejects a second (database, table)
        pair claiming an already-registered name.
        """
        name = f"{database}_{table}"
        # Keyed on (database, table), deliberately NOT on path: the
        # same logical table re-registering from a new location is the
        # normal vintage-rebuild flow (fresh_scratch roots a new dir
        # per corpus snapshot; register_existing re-points after a
        # relocation) — the retarget is the feature. The guard exists
        # only for DIFFERENT logical tables flattening to one name.
        owner = _REGISTERED_NAMES.setdefault(name, (database, table))
        if owner != (database, table):
            raise ValueError(
                f"catalog name {name!r} already registered by "
                f"database={owner[0]!r} table={owner[1]!r}; "
                f"({database!r}, {table!r}) would clobber it — rename "
                "one of the tables or databases"
            )
        # a leftover temp view with the same name would shadow the table
        self.spark.catalog.dropTempView(name)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.spark.sql(external_table_ddl(name, path, layer, schema, partitions))
        if partitions:
            self.spark.sql(f"MSCK REPAIR TABLE {name}")
        return self.spark.table(name)

    def register_existing(
        self,
        database: str,
        table: str,
        layer: Layer | str,
        partitions: Sequence[str] = (),
    ) -> DataFrame:
        """(Re-)register the external-table DDL for a table whose data
        files already sit at the engine's canonical path — the recovery
        step after a metastore loss or a data-dir relocation (the data
        is the source of truth; the catalog entry is derived). Pure
        DDL, no data movement; with no written frame to take the schema
        from, the columns and partitioning are inferred from the files."""
        return self._register_external(
            database,
            table,
            self.writer.table_path(database, table),
            layer,
            partitions,
        )

    def load_layer(
        self,
        queries_dir: str,
        database: str,
        layer: Layer | str,
        partitions: Sequence[str] = (),
        ds: date | str | None = None,
        is_incremental: bool = False,
    ) -> dict[str, DataFrame]:
        """Build every ``<table>.sql`` in a directory as a table (O2/O3)."""
        out: dict[str, DataFrame] = {}
        for fname in sorted(os.listdir(queries_dir)):
            if not fname.endswith(".sql"):
                continue
            table = fname[: -len(".sql")]
            out[table] = self.load_table(
                os.path.join(queries_dir, fname),
                database,
                table,
                layer=layer,
                partitions=partitions,
                ds=ds,
                is_incremental=is_incremental,
            )
        return out

    def promote_to_dw(
        self,
        staging_view: str,
        database: str,
        table: str,
        checks: Sequence = (),
    ) -> DataFrame:
        """Staging → final DW promotion, gated on quality checks (O4/Q4).

        ``checks`` are callables ``DataFrame -> (bool, str)``; any failure
        aborts the promotion.

        The staging relation is persisted for the gate-then-write
        sequence: each check is its own action and the write another —
        unpersisted, an expensive staging query re-executes per check
        (3+ full scans at warehouse volume), and worse, a source that
        changed between the check actions and the write would promote
        rows the gates never saw. One snapshot does both.
        """
        df = self.spark.table(staging_view).persist()
        try:
            for check in checks:
                ok, msg = check(df)
                if not ok:
                    raise ValueError(
                        f"DW promotion blocked by quality check: {msg}"
                    )
            path = self.writer.load_table(df, database, table, layer=Layer.DW)
        finally:
            df.unpersist()
        return self._register_external(
            database, table, path, Layer.DW, schema=df.schema
        )


class PipelineRunner:
    """Sequenced table-build runner with retry semantics (O1 parity:
    the reference's DAG factory pins retries=3 / 2h timeout,
    ``base_dag.py:9-14``; Airflow itself is out of engine scope).

    Steps are ``(name, callable)``; a step is retried up to ``retries``
    times (with linear backoff between attempts) before the pipeline
    aborts. On abort, the completed steps' results ride on the raised
    error as ``exc.results`` — the caller's partial-progress record.
    """

    def __init__(self, retries: int = 3, backoff_seconds: float = 0.0):
        self.retries = retries
        # 0 by default (tests and local builds shouldn't sleep); a
        # production pipeline passes seconds so transient failures
        # (throttled metastore, flaky FS) aren't retried back-to-back.
        self.backoff_seconds = backoff_seconds

    def run(self, steps) -> dict:
        import time

        results: dict = {}
        for name, fn in steps:
            last_err: Exception | None = None
            for attempt in range(self.retries + 1):
                if attempt and self.backoff_seconds:
                    time.sleep(self.backoff_seconds * attempt)
                try:
                    results[name] = fn()
                    last_err = None
                    break
                except Exception as e:  # noqa: BLE001 — retry any step failure
                    last_err = e
            if last_err is not None:
                err = RuntimeError(
                    f"pipeline step '{name}' failed after "
                    f"{self.retries + 1} attempts"
                )
                err.results = results  # completed steps, per docstring
                raise err from last_err
        return results
