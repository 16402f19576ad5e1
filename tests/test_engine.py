"""LakeEngine lifecycle: SQL-file table builds, layer formats,
incremental idempotency, partitioned writes, DataFrameOps surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_projects_spark.config import Layer
from etl_projects_spark.engine import LakeEngine
from etl_projects_spark.operators.dataframe_ops import DataFrameOps


@pytest.fixture()
def engine(spark, tmp_path):
    eng = LakeEngine(spark, root=str(tmp_path / "lake"))
    eng.register_testdata("/root/testdata/sf0.001")
    return eng


def test_sql_file_build(engine, tmp_path):
    qf = tmp_path / "daily_revenue.sql"
    qf.write_text(
        """
        SELECT l_returnflag, SUM(l_extendedprice) AS revenue
        FROM lineitem GROUP BY l_returnflag
        """
    )
    df = engine.load_table(str(qf), "datalake_tpch", "daily_revenue",
                          layer=Layer.CLEAN)
    assert df.count() == 3
    assert engine.spark.table("datalake_tpch_daily_revenue").count() == 3


def test_sql_params_substitution(engine):
    df = engine.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < TIMESTAMP '{ds} 00:00:00'",
        params={"ds": "1997-01-01"},
    )
    assert df.collect()[0]["n"] > 0


def test_raw_layer_is_json(engine, tmp_path):
    engine.load_table(
        "SELECT r_regionkey, r_name FROM region", "datalake_ref", "regions",
        layer=Layer.RAW,
    )
    path = engine.writer.table_path("datalake_ref", "regions")
    files = [f for f in os.listdir(path) if ".json" in f]
    assert files, "raw layer must land as JSON"


def test_partitioned_write_and_pruning(engine):
    engine.load_table(
        """
        SELECT o_orderkey, o_totalprice, year(o_orderdate) AS year
        FROM orders
        """,
        "datalake_tpch",
        "orders_by_year",
        layer=Layer.CLEAN,
        partitions=["year"],
    )
    path = engine.writer.table_path("datalake_tpch", "orders_by_year")
    years = [d for d in os.listdir(path) if d.startswith("year=")]
    assert len(years) > 1, "hive-style partition dirs expected"
    # Partition pruning: a year filter must prune the file listing.
    df = engine.spark.read.parquet(path).filter(F.col("year") == 1995)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or df.count() > 0
    # One data file per partition directory (r9: one_file_per_partition
    # defaults ON — without the repartition every task sprays a file
    # into every year dir, tasks x years slivers at cluster scale).
    for d in years:
        files = [
            f for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{d}: {len(files)} files (sliver write)"


def test_incremental_rerun_idempotent(engine):
    """Re-running the same ds with dynamic partition overwrite must not
    duplicate that batch (the reference's implicit load_table contract)."""
    q = """
        SELECT o_orderkey, o_totalprice, year(o_orderdate) AS year
        FROM orders WHERE year(o_orderdate) = {ds}
    """
    for _ in range(2):  # same batch twice
        engine.load_table(
            q, "datalake_tpch", "orders_incr", layer=Layer.CLEAN,
            partitions=["year"], ds="1996", is_incremental=True,
        )
    once = engine.spark.table("datalake_tpch_orders_incr").count()
    engine.load_table(  # a different batch lands alongside
        q, "datalake_tpch", "orders_incr", layer=Layer.CLEAN,
        partitions=["year"], ds="1997", is_incremental=True,
    )
    both = engine.spark.table("datalake_tpch_orders_incr").count()
    base = engine.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE year(o_orderdate) = 1996"
    ).collect()[0]["n"]
    assert once == base
    assert both > once, "second batch must append, not overwrite"


def test_load_layer_directory(engine, tmp_path):
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "t_regions.sql").write_text("SELECT * FROM region")
    (qdir / "t_nations.sql").write_text("SELECT * FROM nation")
    out = engine.load_layer(str(qdir), "datalake_ref", Layer.CLEAN)
    assert set(out) == {"t_regions", "t_nations"}
    assert out["t_nations"].count() > 0


def test_dataframe_ops_fluent(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 2, "b": "x"}', "2024-03-05")],
        "Id int, Payload string, DateStr string",
    )
    out = (
        DataFrameOps.input(df)
        .format_column_names()
        .explode_json_column("payload", prefix="p_")
        .output()
    )
    assert "p_a" in out.columns and "id" in out.columns
    row = out.collect()[0]
    assert row["p_a"] == "2" or row["p_a"] == 2


def test_discover_partition_values(engine):
    from etl_projects_spark.catalog import discover_partition_values

    engine.load_table(
        "SELECT o_orderkey, year(o_orderdate) AS year FROM orders",
        "datalake_tpch", "orders_part", layer=Layer.CLEAN, partitions=["year"],
    )
    path = engine.writer.table_path("datalake_tpch", "orders_part")
    years = discover_partition_values(path, "year")
    assert len(years) >= 2 and all(y.isdigit() for y in years)


def test_put_get_json_object(tmp_path):
    from etl_projects_spark.sources.ingest import get_json_object, put_json_object

    p = put_json_object({"ds": "2024-01-02", "rows": 42}, str(tmp_path / "ctl/run.json"))
    assert get_json_object(p) == {"ds": "2024-01-02", "rows": 42}


def test_pipeline_runner_retries_then_fails():
    from etl_projects_spark.engine import PipelineRunner

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "ok"

    out = PipelineRunner(retries=3).run([("flaky", flaky)])
    assert out["flaky"] == "ok" and calls["n"] == 3

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="failed after"):
        PipelineRunner(retries=1).run([("dead", lambda: 1 / 0)])


def test_load_table_registers_catalog_table(engine):
    """K3: load_table runs external-table DDL against the Spark catalog —
    the entry is a real (non-temp) table that any new session on the
    same catalog sees, with partitions recovered for pruning."""
    engine.load_table(
        "SELECT o_orderkey, o_totalprice, year(o_orderdate) AS year FROM orders",
        "datalake_k3", "orders_cat", layer=Layer.CLEAN, partitions=["year"],
    )
    cat = engine.spark.catalog
    assert cat.tableExists("datalake_k3_orders_cat")
    tbl = next(t for t in cat.listTables() if t.name == "datalake_k3_orders_cat")
    assert not tbl.isTemporary
    assert engine.spark.table("datalake_k3_orders_cat").count() > 0

    # survives a brand-new session on the same shared catalog —
    # a temp view would not (pinned by the contrast check below)
    s2 = engine.spark.newSession()
    assert s2.catalog.tableExists("datalake_k3_orders_cat")
    assert s2.table("datalake_k3_orders_cat").count() > 0
    engine.spark.range(1).createOrReplaceTempView("k3_temp_check")
    assert not s2.catalog.tableExists("k3_temp_check")

    # partition pruning flows through the catalog entry
    plan = (
        s2.sql("SELECT * FROM datalake_k3_orders_cat WHERE year = 1996")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(year" in plan

    # idempotent re-run: drop-and-recreate keeps the entry fresh
    engine.load_table(
        "SELECT o_orderkey, o_totalprice, year(o_orderdate) AS year FROM orders",
        "datalake_k3", "orders_cat", layer=Layer.CLEAN, partitions=["year"],
    )
    assert engine.spark.table("datalake_k3_orders_cat").count() > 0


def test_load_table_schema_evolution_rerun(engine):
    """Re-running a table build with an evolved query schema refreshes
    the catalog entry (drop-and-recreate DDL) — the new column is
    visible without manual intervention."""
    engine.load_table(
        "SELECT o_orderkey FROM orders", "datalake_evo", "orders_evo",
        layer=Layer.CLEAN,
    )
    assert engine.spark.table("datalake_evo_orders_evo").columns == ["o_orderkey"]
    engine.load_table(
        "SELECT o_orderkey, o_totalprice FROM orders", "datalake_evo", "orders_evo",
        layer=Layer.CLEAN,
    )
    cols = engine.spark.table("datalake_evo_orders_evo").columns
    assert cols == ["o_orderkey", "o_totalprice"]


_RAW_BATCH = (
    "SELECT o_totalprice, o_orderkey, o_orderdate, o_orderstatus, '{ds}' AS ds "
    "FROM orders WHERE year(o_orderdate) = {ds}"
)


def test_load_table_registers_written_schema(engine):
    """The catalog entry declares the schema of the frame just written
    (every top-level field nullable), in the written column order —
    not JSON inference's alphabetical columns with the timestamp as a
    string and ``ds`` inferred as a number."""
    from pyspark.sql.types import StructField, StructType

    for ds in ("1996", "1997"):
        engine.load_table(
            _RAW_BATCH, "datalake_reg", "orders_raw", layer=Layer.RAW,
            partitions=["ds"], ds=ds, is_incremental=True,
        )
    written = engine.sql(_RAW_BATCH, params={"ds": "1997"}).schema
    want = StructType(
        [StructField(f.name, f.dataType, True) for f in written]
    )
    got = engine.spark.table("datalake_reg_orders_raw")
    assert got.schema == want
    assert dict(got.dtypes)["o_orderdate"].startswith("timestamp")
    assert dict(got.dtypes)["ds"] == "string"
    base = engine.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE year(o_orderdate) IN (1996, 1997)"
    ).collect()[0]["n"]
    assert got.count() == base


def test_register_external_starts_no_spark_job(engine, monkeypatch):
    """Registering a freshly written table is pure catalog work: with
    the written schema declared, no job reads the table back (before,
    JSON inference scanned every file of a raw table on each load)."""
    sc = engine.spark.sparkContext
    register = engine._register_external
    groups = []

    def traced(*args, **kwargs):
        group = f"register_{len(groups)}"
        groups.append(group)
        sc.setJobGroup(group, "external-table registration")
        try:
            return register(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(engine, "_register_external", traced)
    for ds in ("1996", "1997"):
        engine.load_table(
            _RAW_BATCH, "datalake_reg", "orders_raw_jobs", layer=Layer.RAW,
            partitions=["ds"], ds=ds, is_incremental=True,
        )
    assert len(groups) == 2
    started = {g: list(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}
    assert started == {g: [] for g in groups}


def test_load_table_cluster_by_sorts_within_files(spark, sf_dir, tmp_path):
    import glob
    import os

    import pyarrow.parquet as pq

    from etl_projects_spark.sinks.table_writer import TableWriter

    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    w = TableWriter(str(tmp_path))
    path = w.load_table(
        df.repartition(4), "db", "orders_clustered", cluster_by=["o_custkey"]
    )
    files = glob.glob(os.path.join(path, "part-*.parquet"))
    assert files
    for f in files:
        vals = pq.read_table(f, columns=["o_custkey"])["o_custkey"].to_pylist()
        assert vals == sorted(vals), f"rows not clustered in {f}"


def test_build_once_builds_reuses_and_survives_race(tmp_path):
    """build_once: builds exactly once, fast-paths on the marker, and a
    loser whose rename fails (winner already in place) discards its tmp
    copy without clobbering the winner."""
    import os

    from etl_projects_spark.operators.exec_util import build_once

    calls = []

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
            f.write("x")
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write(str(len(calls)))
        calls.append(tmp)

    path = str(tmp_path / "artifact")
    assert build_once(path, build) == path
    assert len(calls) == 1 and os.path.exists(os.path.join(path, "data"))
    # Marker present → no rebuild.
    build_once(path, build)
    assert len(calls) == 1

    # Simulate TRULY losing the race: the winner COMPLETES `path`
    # (build_once sentinel included) between our fast-path miss and
    # our rename — the loser's rename fails, its tmp copy is
    # discarded, and the winner's artifact is returned intact. (A
    # sentinel-less directory at `path` is the squatter case and is
    # replaced — covered in tests/test_exec_util.py.)
    import shutil

    from etl_projects_spark.operators.exec_util import BUILD_ONCE_SENTINEL

    path2 = str(tmp_path / "artifact2")

    def racing_build(tmp):
        build(tmp)
        shutil.copytree(tmp, path2)  # "other process" wins first...
        open(os.path.join(path2, BUILD_ONCE_SENTINEL), "w").close()
        with open(os.path.join(path2, "data"), "w") as f:
            f.write("winner")

    assert build_once(path2, racing_build) == path2
    assert len(calls) == 2
    with open(os.path.join(path2, "data")) as f:
        assert f.read() == "winner"  # loser did not clobber the winner
    # Loser cleaned its tmp dir; winner's payload untouched.
    leftovers = [d for d in os.listdir(tmp_path) if ".tmp." in d]
    assert leftovers == []
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "0"


def test_incremental_dynamic_pinned_per_write(spark, tmp_path):
    """r6 review: the incremental path must pin dynamic partition
    overwrite PER WRITE — under a session-global static mode (Spark's
    default in a caller-supplied session) an incremental batch must
    still preserve the other partitions."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        eng = LakeEngine(spark, root=str(tmp_path / "lake_static"))
        spark.createDataFrame(
            [(1, 1992), (2, 1993)], "k long, year int"
        ).createOrReplaceTempView("inc_src_a")
        eng.load_table(
            "SELECT * FROM inc_src_a", "dbps", "t",
            partitions=["year"], is_incremental=True,
        )
        spark.createDataFrame(
            [(3, 1994)], "k long, year int"
        ).createOrReplaceTempView("inc_src_b")
        eng.load_table(
            "SELECT * FROM inc_src_b", "dbps", "t",
            partitions=["year"], is_incremental=True,
        )
        n = spark.read.parquet(eng.writer.table_path("dbps", "t")).count()
        assert n == 3, f"static session truncated prior partitions: {n} rows"
    finally:
        spark.conf.set(key, old) if old is not None else spark.conf.unset(key)


def test_discover_partition_values_first_key_and_typo(tmp_path):
    from etl_projects_spark.catalog import discover_partition_values

    for d in ("batch=7", "batch=8", "ds=2024-01-05"):
        (tmp_path / d).mkdir()
    # column=None: first key ONLY (lexicographic first = 'batch'),
    # never a merge across keys.
    assert discover_partition_values(str(tmp_path)) == ["7", "8"]
    assert discover_partition_values(str(tmp_path), "ds") == ["2024-01-05"]
    with pytest.raises(ValueError, match="no partition key 'dss'"):
        discover_partition_values(str(tmp_path), "dss")
    # unpartitioned dir: empty, not an error
    empty = tmp_path / "flat"
    empty.mkdir()
    assert discover_partition_values(str(empty)) == []


def test_pipeline_runner_exposes_partial_results():
    from etl_projects_spark.engine import PipelineRunner

    with pytest.raises(RuntimeError) as ei:
        PipelineRunner(retries=0).run(
            [("ok", lambda: 42), ("dead", lambda: 1 / 0)]
        )
    assert ei.value.results == {"ok": 42}


def test_sql_missing_file_raises(engine):
    with pytest.raises(FileNotFoundError, match="no/such/query.sql"):
        engine.sql("no/such/query.sql")


def test_format_column_names_fails_fast_on_collision_and_empty(spark):
    df = spark.createDataFrame([(1, 2)], ["Net Chg", "net.chg"])
    with pytest.raises(ValueError, match="collide"):
        DataFrameOps(df).format_column_names()
    df2 = spark.createDataFrame([(1,)], ["%"])
    with pytest.raises(ValueError, match="empty"):
        DataFrameOps(df2).format_column_names()
