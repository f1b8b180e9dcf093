"""Driver-built relations plan as Arrow local relations: building and
collecting them runs no Spark job, their declared schema is kept
exactly, and no operator (nor a typed in-memory source) builds one
from a pickled Python list."""

from __future__ import annotations

import ast
import pathlib
import time
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import counted_jobs
from sqltask_spark import SparkTask, TableContext, TooFewRowsException
from sqltask_spark.data import local_frame
from sqltask_spark.operators import index_fs
from sqltask_spark.operators.merge import (
    TableStore,
    create_parquet_table,
    merge_into_parquet,
    read_parquet_table,
    read_parquet_table_keys,
)
from sqltask_spark.sources.memory import dict_source, list_source

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "sqltask_spark"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- local_frame -----------------------------------------------------------

CALL_SITE_TYPES = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("l", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("v", T.ArrayType(T.DoubleType(), True), True),
    ]
)


def test_local_frame_round_trips_call_site_types(spark, jobs):
    rows = [
        (1, 2**40, "a", 0.5, [1.0, -2.5]),
        (-7, None, None, None, None),
        (2**31 - 1, -(2**63), "", float("inf"), [None, 3.0]),
        (0, 0, "ü", -0.0, []),
    ]
    with jobs() as built:
        df = local_frame(spark, rows, CALL_SITE_TYPES)
        got = df.collect()
    assert built.n == 0
    assert [tuple(r) for r in got] == rows
    # the schema is kept exactly, nullability included — on the Python
    # side and in the plan the JVM analyzed
    assert df.schema == CALL_SITE_TYPES
    assert df.select("*").schema == CALL_SITE_TYPES


def test_local_frame_takes_ddl_and_empty_rows(spark, jobs):
    with jobs() as built:
        df = local_frame(spark, [], "k bigint, tags array<double>")
        assert df.collect() == []
    assert built.n == 0
    assert df.schema.simpleString() == "struct<k:bigint,tags:array<double>>"


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(2**40,)], "a int"),
        ([(2**63,)], "a bigint"),
        ([("x",)], "a bigint"),
        ([(1.5,)], "a bigint"),
        # stricter than createDataFrame(list), which stored str(1)
        ([(1,)], "a string"),
        ([("x",)], "a double"),
        ([([1.0, "x"],)], "a array<double>"),
    ],
)
def test_local_frame_rejects_values_off_their_type(spark, rows, ddl):
    with pytest.raises(Exception):
        local_frame(spark, rows, ddl)


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    schema = T.StructType([T.StructField("a", T.LongType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(1,), (None,)], schema)


def test_local_frame_ignores_the_arrow_conf(spark, jobs):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for value in ("true", "false"):
            spark.conf.set(key, value)
            with jobs() as built:
                got = local_frame(spark, [(3,), (4,)], "k bigint").collect()
            assert built.n == 0 and [r.k for r in got] == [3, 4]
    finally:
        spark.conf.set(key, before)


# -- in-memory sources ------------------------------------------------------

SOURCE_COLUMNS = ["id", "ts", "d", "amt", "s"]
SOURCE_DDL = "id bigint, ts timestamp, d date, amt decimal(12,4), s string"
SOURCE_ROWS = [
    (1, datetime(2024, 3, 10, 12, 30, 15, 123456), date(2024, 2, 29),
     Decimal("12345.6789"), None),
    (2, None, None, None, "x"),
    (3, datetime(1969, 12, 31, 23, 59, 59, 999999), date(1900, 1, 1),
     Decimal("-0.0001"), ""),
]


def _sources(spark):
    return {
        "list": list_source(spark, SOURCE_COLUMNS, SOURCE_ROWS, SOURCE_DDL),
        "dict": dict_source(
            spark, [dict(zip(SOURCE_COLUMNS, r)) for r in SOURCE_ROWS],
            SOURCE_DDL,
        ),
    }


@pytest.fixture(params=["UTC", "America/New_York"])
def python_tz(request, monkeypatch):
    """The driver process's local time zone (the session's stays UTC)."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("kind", ["list", "dict"])
def test_memory_sources_round_trip_typed_values(spark, jobs, kind, python_tz):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    with jobs() as built:
        df = _sources(spark)[kind]
        got = df.collect()
    assert built.n == 0
    assert [tuple(r) for r in got] == SOURCE_ROWS
    assert df.schema.simpleString() == (
        "struct<id:bigint,ts:timestamp,d:date,amt:decimal(12,4),s:string>"
    )
    # the stored instants and their UTC rendering are those the pickled
    # createDataFrame(list, schema) path stores: a naive datetime is
    # local wall time there too
    def instants(frame):
        return frame.select(
            "id", F.unix_micros("ts"), F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        ).orderBy("id").collect()

    assert instants(df) == instants(spark.createDataFrame(SOURCE_ROWS, SOURCE_DDL))


def test_dict_source_reads_rows_by_field_name(spark):
    df = dict_source(spark, [{"b": "x", "a": 1}, {"a": 2}], "a bigint, b string")
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, None)]


@pytest.mark.parametrize("kind", ["list", "dict"])
def test_memory_sources_reject_an_int_in_a_string_column(spark, kind):
    with pytest.raises(Exception):
        if kind == "list":
            list_source(spark, ["k", "s"], [(1, "a"), (2, 3)], "k bigint, s string")
        else:
            dict_source(spark, [{"k": 1, "s": 3}], "k bigint, s string")


# -- the table store's driver-built relations --------------------------------


@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_point_read_keys_run_no_job_before_the_action(
    spark, tmp_path, jobs, key_type
):
    path = str(tmp_path / f"t_{key_type}")
    base = spark.range(0, 400).select(
        F.col("id").cast(key_type).alias("k"), (F.col("id") * 3).alias("v")
    )
    create_parquet_table(base.repartitionByRange(4, "k"), path, stats_col="k")
    upd = spark.range(390, 420).select(
        F.col("id").cast(key_type).alias("k"), (F.col("id") * 5).alias("v")
    )
    merge_into_parquet(spark, path, upd, ["k"])
    ids = [5, 77, 391, 419, 1000]
    keys = [k if key_type == "bigint" else str(k) for k in ids]
    assert len(keys) <= index_fs.PROBE_CAP
    with jobs() as planned:
        lookup = read_parquet_table_keys(spark, path, keys)
    assert planned.n == 0
    want = _rows(read_parquet_table(spark, path).filter(F.col("k").isin(keys)))
    assert _rows(lookup) == want
    assert len(want) == 4


def test_empty_table_read_collects_with_no_job(spark, tmp_path, jobs):
    path = str(tmp_path / "t_empty")
    create_parquet_table(
        spark.range(0, 10).select(F.col("id").alias("k")), path, stats_col="k"
    )
    store = TableStore(spark, path)
    m = store.committed()
    with jobs() as read:
        empty = store.read(m, [])
        assert empty.collect() == []
    assert read.n == 0
    assert empty.schema.simpleString() == "struct<k:bigint>"


def test_table_context_empty_frame_keeps_its_schema(spark, jobs):
    schema = T.StructType(
        [
            T.StructField("report_date", T.DateType(), False),
            T.StructField("etl_ts", T.TimestampType(), True),
            T.StructField("amount", T.DecimalType(12, 2), True),
            T.StructField("tags", T.ArrayType(T.StringType(), False), True),
        ]
    )
    table = TableContext(name="typed", schema=schema)
    with jobs() as built:
        empty = table.empty_dataframe(spark)
        assert empty.collect() == []
    assert built.n == 0
    assert empty.select("*").schema == schema


def test_merge_returns_the_seq_it_committed(spark, tmp_path):
    path = str(tmp_path / "t_seq")
    create_parquet_table(spark.range(0, 10).select(F.col("id").alias("k")), path)
    src = spark.range(5, 15).select(F.col("id").alias("k"))
    got = merge_into_parquet(spark, path, src, ["k"], batch_id="b1")
    assert got["seq"] == index_fs.read_manifest(spark, path)["_seq"] == 1
    again = merge_into_parquet(spark, path, src, ["k"], batch_id="b1")
    assert again["skipped"] is True and again["seq"] == 1


# -- the task lifecycle's validate ------------------------------------------


class _RecordingSink:
    requires_path = False

    def __init__(self):
        self.writes = 0

    def write_batch(self, df, table):
        self.writes += 1


class _IdsTask(SparkTask):
    def __init__(self, spark, n, min_rows):
        super().__init__(spark)
        self.min_row_count = min_rows
        self.n = n
        self.sink = _RecordingSink()
        self.add_table(
            TableContext(
                name="ids",
                schema=T.StructType([T.StructField("id", T.LongType())]),
            ),
            self.sink,
        )

    def transform(self):
        self.set_output("ids", self.spark.range(self.n))

    def validate(self):
        with counted_jobs(self.spark) as c:
            super().validate()
        self.validate_jobs = c.n


def test_default_validate_reuses_the_force_count(spark):
    task = _IdsTask(spark, 5, min_rows=5)
    task.execute_etl()
    assert task.validate_jobs == 0
    assert task.sink.writes == 1


def test_default_validate_still_aborts_before_any_write(spark):
    task = _IdsTask(spark, 5, min_rows=6)
    with pytest.raises(TooFewRowsException, match="5 rows < required 6"):
        task.execute_etl()
    assert task.sink.writes == 0


def test_default_validate_recounts_a_replaced_output(spark):
    class Replacing(_IdsTask):
        def validate(self):
            self.set_output("ids", self.spark.range(2))
            super().validate()

    task = Replacing(spark, 5, min_rows=3)
    with pytest.raises(TooFewRowsException, match="2 rows < required 3"):
        task.execute_etl()
    assert task.sink.writes == 0


# -- guard -------------------------------------------------------------------


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_operators_build_driver_rows_only_through_local_frame():
    """Every driver-built relation in the operators and the table
    context goes through ``data.local_frame``; a direct
    ``createDataFrame`` would pickle the rows into a Python-worker RDD."""
    modules = sorted((PACKAGE / "operators").glob("*.py"))
    modules.append(PACKAGE / "table.py")
    assert len(modules) > 10
    offenders = {
        str(p.relative_to(PACKAGE)): lines
        for p in modules
        if (lines := _create_dataframe_calls(p))
    }
    assert offenders == {}
