"""Canonical loaders for the test-data star schema.

Handles one real-world wart: pandas/pyarrow-written parquet with
``timestamp[ns]`` columns, which Spark's vectorized reader rejects
(``PARQUET_TYPE_ILLEGAL``). With
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns arrive as
nanosecond longs; the loader detects them from the parquet footer
(a metadata-only read — no data scan) and converts to proper
timestamps with integer division (``div 1000`` → microseconds), which
keeps full precision where a double division would not.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names stored as timestamp[ns], read from the footer."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return tuple(
            f.name for f in schema if str(f.type) == "timestamp[ns]"
        )
    except Exception:  # pragma: no cover — footer probe is best-effort
        return ()


#: Confs the engine depends on that are runtime-settable, applied
#: defensively in case the caller built the session without
#: :func:`sqltask_spark.session.get_spark` (e.g. the driver harness).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover — conf may be static on a cluster
            pass


def content_fingerprint(df: DataFrame, cols: list[str]) -> str:
    """Order-independent content fingerprint of ``df[cols]`` —
    ``{row count}:{hex XOR of per-row xxhash64}:{hex SUM mod 2^64}``.
    One map-side-combined pass; used by the streaming sinks to key
    idempotency ledgers by WHAT an epoch carries, not just its
    restart-fragile epoch number.

    XOR alone is NOT multiset-sensitive — any row appearing an even
    number of times cancels out, so two different batches could
    collide (e.g. {a,b,b} vs {a,c,c}); the modular SUM component
    breaks exactly that class (summed in DECIMAL(38,0) because ANSI
    mode makes BIGINT SUM overflow an error, then reduced mod 2^64).
    """
    from pyspark.sql import functions as F

    hashed = df.select(
        F.expr(
            "xxhash64(" + ", ".join(f"`{c}`" for c in cols) + ")"
        ).alias("__h")
    )
    # SMALL-BATCH fast path (r12): a batch under the cap collects its
    # per-row hashes in ONE narrow job (no exchange) and folds n/xor/
    # sum driver-side — the global aggregate costs 3 AQE stage jobs
    # (partial → single-partition exchange → final) PER SINK EPOCH.
    # Over a local relation (:func:`collect_local`) the projection
    # folds into the relation and the collect runs no job at all.
    # Same Spark-computed hashes, so the fingerprint string is
    # identical by construction; larger batches keep the aggregate.
    # The cap is the filter-probe collect cap, read at call time, so
    # patching it to 0 forces the aggregate here too.
    from sqltask_spark.operators import index_fs

    cap = index_fs.PROBE_CAP
    rows = hashed.limit(cap + 1).collect()
    if len(rows) <= cap:
        n = len(rows)
        x = s = 0
        for r in rows:
            h = (r["__h"] or 0) & 0xFFFFFFFFFFFFFFFF
            x ^= h
            s = (s + h) & 0xFFFFFFFFFFFFFFFF
        return f"{n}:{x:x}:{s:x}"
    agg = hashed.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__h)").alias("x"),
        F.expr(
            "CAST(pmod(sum(CAST(__h AS DECIMAL(38,0))),"
            " CAST(18446744073709551616 AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0))"
        ).alias("s"),
    ).collect()[0]
    x = (agg["x"] or 0) & 0xFFFFFFFFFFFFFFFF
    s = int(agg["s"] or 0) & 0xFFFFFFFFFFFFFFFF
    return f"{agg['n']}:{x:x}:{s:x}"


def collect_local(df: DataFrame, cap: int) -> "DataFrame | None":
    """``df``'s rows as a relation that plans as a ``LocalRelation``,
    or ``None`` when ``df`` has more than ``cap`` rows. ONE bounded
    collect, and the rows never leave the JVM: they come back as
    ``Row`` objects and go straight into
    ``SparkSession.createDataFrame(java.util.List[Row], schema)``, so
    every type round-trips exactly as Spark converts it, without a
    Python or Arrow conversion.

    Everything that reads the result afterwards — projections,
    filters and limits the optimizer folds into the local relation —
    runs no Spark job, however often it is read. Use it where a small
    relation is read several times on the driver's behalf (the CDC
    sink: a content fingerprint, then MERGE's key collect, then the
    write)."""
    spark = df.sparkSession
    rows = df.limit(cap + 1)._jdf.collectAsList()
    if rows.size() > cap:
        return None
    return DataFrame(
        spark._jsparkSession.createDataFrame(rows, df._jdf.schema()), spark
    )


def local_frame(
    spark: SparkSession, rows, schema: "StructType | str"
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    order) that plans as a ``LocalRelation`` — zero Spark jobs to
    build, and zero to collect whatever the optimizer folds into it.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    ``parallelize``d ``PythonRDD`` instead: every action over it runs
    one Python-worker task per slice (``defaultParallelism`` slices),
    about a CPU-second of worker start-up and unpickling on a 4-core
    host for a few dozen keys. Here the rows become a
    ``pyarrow.Table`` typed by ``to_arrow_schema(schema)`` and reach
    the JVM as Arrow batches, independent of
    ``spark.sql.execution.arrow.pyspark.enabled``.

    ``schema`` is a ``StructType`` or a DDL string and is kept exactly,
    nullability included. Types are never inferred from the values:
    each row passes the same schema verification
    ``createDataFrame(list, schema)`` applies, so a value that does
    not fit its declared type, or a null in a non-nullable field,
    raises as it did there. A string column is stricter: Arrow rejects
    a non-string value, where the pickled path stored its ``str()``.
    A naive ``datetime`` in a ``timestamp`` column is local wall time,
    as it was there."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        TimestampType,
        _make_type_verifier,
        _parse_datatype_string,
    )

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    # a naive datetime is local wall time, as createDataFrame(list)
    # reads it; Arrow takes any datetime's wall time as UTC, so hand it
    # the UTC wall time
    columns = [
        [
            v.astimezone(timezone.utc) if isinstance(v, datetime) else v
            for v in c
        ]
        if isinstance(f.dataType, TimestampType)
        else c
        for c, f in zip(columns, schema.fields)
    ]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    for col in _nanos_columns(path):
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    return df


def ensure_min_partitions(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Guard CPU-bound per-row operators against tiny-scan plans.

    A small parquet file arrives as one input split, so shuffle-free
    per-row work (shingling, hashing, vector math) serializes on one
    core no matter how many the session has. Repartition only when the
    scan yields fewer partitions than the session's parallelism.

    The probe itself (``df.rdd.getNumPartitions()``) analyzes the plan
    and builds an RDD lineage — cheap on local test plans, not free on
    very large production plans. Production scans are thousands of
    splits anyway, so unless the caller passes an explicit
    ``min_partitions`` the guard only runs under a ``local[...]``
    master and is a zero-cost pass-through on a cluster.
    """
    spark = df.sparkSession
    if min_partitions is None:
        if not spark.sparkContext.master.startswith("local"):
            return df
        min_partitions = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def materialize_and_release(
    result: DataFrame, *intermediates: DataFrame
) -> DataFrame:
    """Cache-lifecycle helper for multi-consumer pipelines.

    A pipeline that consumes one expensive intermediate twice (e.g.
    shingle sets feeding both MinHash banding and Jaccard verify)
    persists it so the work runs once — but a lazily returned result
    would leave that cache pinned forever (the round-1 leak: repeated
    calls accumulate blocks until executors evict under pressure).
    This helper persists and eagerly materializes the *result* — which
    for dedup/candidate pipelines is orders of magnitude smaller than
    the corpus-sized intermediate — then unpersists the intermediates
    immediately. The returned DataFrame serves later actions from its
    own (small) cache; callers that are fully done can ``unpersist()``
    it too.
    """
    result = result.persist()
    result.count()
    for df in intermediates:
        df.unpersist()
    return result


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views for spark.sql."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
