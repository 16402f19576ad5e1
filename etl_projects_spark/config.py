"""Lake layers + storage-format policy.

Re-expresses the reference's medallion model and layer→format policy:

- layers: ``etl_projects/base/pipeline/layer_enum.py:4-13``
- format policy (raw=JSON, analytic layers=Parquet+Snappy):
  ``etl_projects/base/processors/spark/spark_table_storage_format.py:4-33``
  and the Athena DDL twin ``etl_projects/base/athena/table_storage_format.py:2-10``.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from enum import Enum

from pyspark.sql.types import StructField, StructType


class Layer(str, Enum):
    """Medallion layers of the lake, ordered raw → dw."""

    RAW = "raw"
    CLEAN = "clean"
    ENRICH = "enrich"
    CLEAN_STAGING = "clean_staging"
    DW_STAGING = "dw_staging"
    DW = "dw"


@dataclass(frozen=True)
class StorageFormat:
    """A (format, writer-options) pair used by the table writer and DDL."""

    format: str  # "json" | "parquet"
    compression: str  # "none" | "snappy" | "gzip"

    @property
    def writer_options(self) -> dict[str, str]:
        if self.compression == "none":
            return {}
        return {"compression": self.compression}


JSON_RAW = StorageFormat(format="json", compression="none")
JSON_GZIP = StorageFormat(format="json", compression="gzip")
PARQUET_SNAPPY = StorageFormat(format="parquet", compression="snappy")

# Layer → physical format. Raw lands as JSON (schema-on-read);
# every analytic layer is Snappy Parquet (columnar, splittable —
# the only sane default at 100 TB).
_LAYER_FORMATS: dict[Layer, StorageFormat] = {
    Layer.RAW: JSON_RAW,
    Layer.CLEAN: PARQUET_SNAPPY,
    Layer.ENRICH: PARQUET_SNAPPY,
    Layer.CLEAN_STAGING: PARQUET_SNAPPY,
    Layer.DW_STAGING: PARQUET_SNAPPY,
    Layer.DW: PARQUET_SNAPPY,
}

# Cap on rows per output file — keeps file counts sane and files
# splittable-but-not-tiny (mirrors the reference's 250k constant,
# ``s3_loader.py:13``).
MAX_RECORDS_PER_FILE = 250_000


def layer_storage_format(layer: Layer | str) -> StorageFormat:
    """Physical storage format for a lake layer."""
    return _LAYER_FORMATS[Layer(layer)]


def external_table_ddl(
    table: str,
    location: str,
    layer: Layer | str,
    schema: StructType | None = None,
    partitions: Sequence[str] = (),
) -> str:
    """``CREATE TABLE ... USING <fmt> LOCATION ...`` DDL for the Spark catalog.

    The Spark-catalog equivalent of the reference's Athena external-table
    DDL (``athena/table_storage_format.py:20-32``): same layer→format
    policy, but targeting ``spark.sql`` instead of Glue.

    ``schema`` (the schema of the frame just written) becomes the column
    list, every top-level field nullable — the files are the source of
    truth and a later batch may carry nulls — with ``partitions`` as the
    ``PARTITIONED BY`` clause. A declared schema costs the catalog no
    read of the table: without one, Spark infers the columns and the
    partitioning from the files (every JSON file of a raw table, or a
    Parquet footer-read job), which is what ``register_existing`` does.
    """
    fmt = layer_storage_format(layer)
    cols = part = ""
    if schema is not None:
        nullable = StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in schema]
        )
        cols = f" ({nullable.toDDL()})"
        if partitions:
            part = f" PARTITIONED BY ({', '.join(partitions)})"
    tblprops = ""
    if fmt.compression != "none":
        tblprops = f" TBLPROPERTIES ('compression'='{fmt.compression}')"
    return (
        f"CREATE TABLE IF NOT EXISTS {table}{cols} "
        f"USING {fmt.format.upper()}{part} LOCATION '{location}'{tblprops}"
    )
