"""SparkTask — the task lifecycle driver.

Reference lifecycle (``sqltask/__init__.py:155-170``)::

    execute() = execute_migration() ; execute_etl()
    execute_etl = transform → validate → delete_rows → insert_rows
                  → post_insert

with the invariant that a validation failure aborts *before* any
destructive write (idempotent batch semantics).

Spark translation and the laziness caveat: a reference ``transform()``
error surfaces during transform because it runs eagerly; a Spark
transform is lazy, so errors would otherwise first surface inside the
destructive write. To preserve the reference's ordering guarantee the
lifecycle *forces* the transformed DataFrames (cache + count, which
also powers aggregate validation) before any sink is touched. The
cache is then reused by the fact write and — for DQ tables — the
shadow write, so the input is scanned once, and issue counts match
the emitted rows exactly.

Registries for tables / sources / lookups mirror
``sqltask/__init__.py:24-120`` including duplicate-name and
missing-name errors.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from sqltask_spark import dq as dq_mod
from sqltask_spark.exceptions import (
    DuplicateNameException,
    TooFewRowsException,
    UnknownNameException,
)
from sqltask_spark.sinks.files import ParquetSink
from sqltask_spark.table import TableContext


class SparkTask:
    """Unit of ETL work parameterized by batch params.

    Subclass, register tables/sources/lookups in ``__init__``, override
    ``transform()`` (and optionally ``validate()`` /
    ``post_insert()``), then call ``execute()``. Parity:
    ``SqlTask`` (``reference sqltask/__init__.py:12-170``).
    """

    #: rows required by the default validate(); None disables.
    min_row_count: int | None = None

    def __init__(self, spark: SparkSession, **batch_params: Any) -> None:
        self.spark = spark
        self.batch_params: Mapping[str, Any] = dict(batch_params)
        self._tables: dict[str, TableContext] = {}
        self._sinks: dict[str, Any] = {}
        self._row_sources: dict[str, DataFrame] = {}
        self._lookup_sources: dict[str, DataFrame] = {}
        self._outputs: dict[str, DataFrame] = {}
        self._dq_outputs: dict[str, DataFrame] = {}
        # name -> (forced output, its row count) from execute_etl's
        # force, so the default validate() need not count it again
        self._forced_counts: dict[str, tuple[DataFrame, int]] = {}

    # -- registries (parity: sqltask/__init__.py:24-120) --------------------

    def add_table(self, table: TableContext, sink: Any | None = None) -> None:
        if table.name in self._tables:
            raise DuplicateNameException(f"table {table.name!r} already added")
        self._tables[table.name] = table
        self._sinks[table.name] = sink or ParquetSink()

    def get_table(self, name: str) -> TableContext:
        if name not in self._tables:
            raise UnknownNameException(f"unknown table {name!r}")
        return self._tables[name]

    def add_row_source(self, name: str, df: DataFrame) -> None:
        if name in self._row_sources:
            raise DuplicateNameException(f"row source {name!r} already added")
        self._row_sources[name] = df

    def get_row_source(self, name: str) -> DataFrame:
        if name not in self._row_sources:
            raise UnknownNameException(f"unknown row source {name!r}")
        return self._row_sources[name]

    def add_lookup_source(self, name: str, df: DataFrame) -> None:
        if name in self._lookup_sources:
            raise DuplicateNameException(f"lookup source {name!r} already added")
        self._lookup_sources[name] = df

    def get_lookup_source(self, name: str) -> DataFrame:
        if name not in self._lookup_sources:
            raise UnknownNameException(f"unknown lookup source {name!r}")
        return self._lookup_sources[name]

    # -- user hooks ---------------------------------------------------------

    def transform(self) -> None:
        """Populate outputs via :meth:`set_output`. User-overridden —
        the Spark analogue of the per-row loop hook
        (``reference sqltask/__init__.py:46-50``)."""
        raise NotImplementedError

    def validate(self) -> None:
        """Aggregate validation after transform; raise to abort before
        any write (``reference sqltask/__init__.py:52-58``). Default:
        optional min-row-count check (the canonical example validates
        exactly this, ``example/tasks/fact_customer_task.py:164-166``).
        An output that is still the cached frame the lifecycle forced
        reuses the force's count: zero extra jobs.
        """
        if self.min_row_count is not None:
            for name, df in self._outputs.items():
                forced, n = self._forced_counts.get(name, (None, 0))
                if forced is not df:
                    n = df.count()
                if n < self.min_row_count:
                    raise TooFewRowsException(
                        f"table {name!r}: {n} rows < required "
                        f"{self.min_row_count}"
                    )

    def post_insert(self) -> None:
        """Set-based follow-up after the write
        (``reference sqltask/__init__.py:129-134``)."""

    # -- output handling ----------------------------------------------------

    def set_output(
        self, name: str, df: DataFrame, strict: bool = True
    ) -> None:
        """Declare the transform result for a registered table.

        The DataFrame is stamped with batch-param columns + ETL
        timestamp and conformed to the declared schema (projection,
        casts, completeness check) — replacing the reference's
        ``get_new_row``/``append`` buffer protocol
        (``sqltask/base/table.py:73-80,385-398``).
        """
        from pyspark.sql import functions as F

        from sqltask_spark.exceptions import MandatoryValueMissingException

        table = self.get_table(name)
        has_dq = dq_mod.ISSUES_COL in df.columns
        stamped = table.with_batch_columns(df)
        present = set(stamped.columns)
        out_cols = []
        for f in table.schema.fields:
            if f.name in present:
                out_cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif not strict:
                out_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                raise MandatoryValueMissingException(
                    f"table {name!r}: transform output is missing "
                    f"declared column {f.name!r}"
                )
        if has_dq:
            out_cols.append(F.col(dq_mod.ISSUES_COL))
        self._outputs[name] = stamped.select(*out_cols)

    def get_output(self, name: str) -> DataFrame:
        if name not in self._outputs:
            raise UnknownNameException(f"no output set for table {name!r}")
        return self._outputs[name]

    def get_dq_output(self, name: str) -> DataFrame:
        if name not in self._dq_outputs:
            raise UnknownNameException(f"no DQ output for table {name!r}")
        return self._dq_outputs[name]

    # -- lifecycle ----------------------------------------------------------

    def execute_etl(self) -> None:
        """transform → force/cache → validate → write fact + DQ →
        post_insert. Ordering parity with
        ``reference sqltask/__init__.py:155-166``; see module docstring
        for why the force happens before any write."""
        self.transform()
        cached: list[DataFrame] = []
        try:
            for name, df in list(self._outputs.items()):
                df = df.cache()
                # force: surfaces transform errors pre-write
                self._forced_counts[name] = (df, df.count())
                cached.append(df)
                self._outputs[name] = df
                if dq_mod.ISSUES_COL in df.columns:
                    table = self._tables[name]
                    self._dq_outputs[name] = dq_mod.explode_dq(
                        df, table.dq_key_columns()
                    )
            self.validate()
            for name, df in self._outputs.items():
                table = self._tables[name]
                sink = self._sinks[name]
                fact_df = dq_mod.drop_dq(df)
                # file sinks need table.path; URL-addressed sinks
                # (JDBC, warehouse connectors) declare requires_path=False
                writable = table.path is not None or not getattr(
                    sink, "requires_path", True
                )
                if writable:
                    sink.write_batch(fact_df, table)
                if name in self._dq_outputs and writable:
                    dq_table = TableContext(
                        name=f"{table.name}_dq",
                        schema=self._dq_outputs[name].schema,
                        batch_params=table.batch_params,
                        path=(
                            f"{table.path.rstrip('/')}_dq"
                            if table.path is not None
                            else None
                        ),
                        format=table.format,
                    )
                    sink.write_batch(self._dq_outputs[name], dq_table)
            self.post_insert()
        finally:
            self._forced_counts.clear()
            for df in cached:
                df.unpersist()

    def execute_migration(self) -> None:
        """Schema-migration phase (``reference sqltask/__init__.py:143-153``);
        file sinks with schema evolution need no pre-DDL, so this is a
        hook for JDBC/catalog sinks."""
        from sqltask_spark.migration import migrate_table

        for name, table in self._tables.items():
            if table.path is not None:
                migrate_table(self.spark, table)

    def execute(self) -> None:
        self.execute_migration()
        self.execute_etl()
