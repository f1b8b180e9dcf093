"""Target-table context: declared schema + batch params + write path.

Reference: ``sqltask/base/table.py:21-176`` — a ``BaseTableContext``
binds a SQLAlchemy Table (declared columns with types / primary-key /
nullable / comment), batch params (e.g. ``report_date``), an ETL
timestamp column, and an in-memory ``output_rows`` buffer.

Spark-first translation:

- the declared schema is a ``StructType`` whose field ``metadata``
  carries ``comment`` / ``primary_key`` (reference packs these into
  SQLAlchemy ``Column``, ``table.py:242-259``);
- the row buffer disappears — the "buffer" is a lazy DataFrame the
  task's ``transform`` returns; laziness replaces materialization;
- batch params become literal columns (+ partition columns of the
  sink), the ETL timestamp a ``current_timestamp()`` column
  (reference ``table.py:73-80,320-324``);
- the batch-idempotent DELETE+INSERT (reference
  ``engine_specs/base.py:102-117``) becomes dynamic partition
  overwrite on lake sinks — see ``sqltask_spark.sinks``.

At 100 TB the partition columns ARE the batch params: re-running a
batch rewrites exactly one partition tree, no table-wide delete scan.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqltask_spark.data import local_frame
from sqltask_spark.exceptions import MandatoryValueMissingException

_PY_TO_SPARK: dict[type, T.DataType] = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    dt.date: T.DateType(),
    dt.datetime: T.TimestampType(),
}


def column(
    name: str,
    dtype: T.DataType | str,
    nullable: bool = True,
    primary_key: bool = False,
    comment: str | None = None,
) -> T.StructField:
    """Declare one target column.

    Mirrors the reference's per-column declaration surface
    (``Column(name, type, primary_key=, nullable=, comment=)`` as used
    in ``reference example/tasks/fact_customer_task.py:27-33``), with
    the extras carried in StructField metadata.
    """
    if isinstance(dtype, str):
        dtype = _parse_ddl_type(dtype)
    metadata: dict[str, Any] = {}
    if comment is not None:
        metadata["comment"] = comment
    if primary_key:
        metadata["primary_key"] = True
    return T.StructField(name, dtype, nullable=nullable, metadata=metadata)


def _parse_ddl_type(ddl: str) -> T.DataType:
    struct = T._parse_datatype_string(ddl)  # noqa: SLF001 — public-enough helper
    return struct


@dataclass
class TableContext:
    """Declared target table.

    Parameters mirror ``BaseTableContext.__init__``
    (``reference sqltask/base/table.py:24-46``): name, schema
    (columns), batch params, timestamp column name, plus Spark-side
    sink settings (path/format/partitioning).
    """

    name: str
    schema: T.StructType
    batch_params: Mapping[str, Any] = field(default_factory=dict)
    timestamp_column_name: str | None = None
    path: str | None = None
    format: str = "parquet"
    dq_info_columns: Sequence[str] = ()
    comment: str | None = None

    def __post_init__(self) -> None:
        names = [f.name for f in self.schema.fields]
        for p in self.batch_params:
            if p not in names:
                raise ValueError(
                    f"batch param {p!r} is not a declared column of {self.name!r}"
                )

    # -- declared-schema introspection -------------------------------------

    @property
    def primary_key_columns(self) -> list[str]:
        return [
            f.name
            for f in self.schema.fields
            if f.metadata and f.metadata.get("primary_key")
        ]

    @property
    def batch_columns(self) -> list[str]:
        return list(self.batch_params.keys())

    def dq_key_columns(self) -> list[str]:
        """Columns copied onto every DQ shadow row: batch params, then
        primary keys, then info columns — dedup-preserving order, parity
        with ``reference sqltask/base/table.py:242-259``."""
        seen: list[str] = []
        for c in (
            list(self.batch_columns)
            + self.primary_key_columns
            + list(self.dq_info_columns)
        ):
            if c not in seen:
                seen.append(c)
        return seen

    # -- row construction ---------------------------------------------------

    def with_batch_columns(self, df: DataFrame) -> DataFrame:
        """Add batch-param literal columns + the ETL timestamp.

        Parity: ``get_new_row`` pre-populates every output row with the
        batch params and ``utcnow()``
        (``reference sqltask/base/table.py:73-80,320-324``). Here it is
        one projection over the whole DataFrame.
        """
        out = df
        for name, value in self.batch_params.items():
            field_ = self.schema[name]
            out = out.withColumn(name, F.lit(value).cast(field_.dataType))
        if self.timestamp_column_name:
            out = out.withColumn(self.timestamp_column_name, F.current_timestamp())
        return out

    def conform(self, df: DataFrame, strict: bool = True) -> DataFrame:
        """Project/cast the transform output onto the declared schema.

        Column order and types follow the declaration; extra columns
        are dropped; missing columns raise (parity with the dev-mode
        completeness check, ``reference sqltask/base/table.py:392-397``)
        unless ``strict=False`` in which case they become NULLs.
        """
        present = set(df.columns)
        cols: list[F.Column] = []
        missing: list[str] = []
        for f in self.schema.fields:
            if f.name in present:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif strict:
                missing.append(f.name)
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        if missing:
            raise MandatoryValueMissingException(
                f"table {self.name!r}: transform output is missing declared "
                f"columns {missing}"
            )
        return df.select(*cols)

    def empty_dataframe(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, [], self.schema)
