"""In-memory sources for tests/static data.

Parity: ``DictRowSource`` / ``ListRowSource``
(``reference sqltask/sources/generic.py:7-17,30-42``).
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sqltask_spark.data import local_frame


def dict_source(
    spark: SparkSession,
    rows: Sequence[Mapping[str, Any]],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Rows as dicts — ``DictRowSource`` parity. With a ``schema`` the
    rows are read by field name (a missing key is null) into a
    :func:`~sqltask_spark.data.local_frame`: each value must fit its
    declared type, so an int in a ``string`` column raises instead of
    landing as its ``str()``."""
    if schema is not None:
        if not isinstance(schema, T.StructType):
            schema = T._parse_datatype_string(schema)
        names = schema.fieldNames()
        return local_frame(
            spark, [tuple(r.get(n) for n in names) for r in rows], schema
        )
    return spark.createDataFrame([dict(r) for r in rows])


def list_source(
    spark: SparkSession,
    column_names: Sequence[str],
    rows: Sequence[Sequence[Any]],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Column-name list + value tuples — ``ListRowSource`` parity
    (zip semantics at ``reference sqltask/sources/generic.py:40-42``).
    With a ``schema`` the rows become a
    :func:`~sqltask_spark.data.local_frame`, typed exactly as
    declared."""
    if schema is not None:
        return local_frame(spark, [tuple(r) for r in rows], schema)
    return spark.createDataFrame([tuple(r) for r in rows], list(column_names))
