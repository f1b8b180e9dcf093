"""The workloads, each driven through the package's public API.

A workload object owns one run's state. ``setup`` builds the state a
run starts from (timed as part of ``setup_s``), ``warmup`` runs the
operation's code paths once, untimed but inside ``setup_s``, ``once``
calls the layers too slow for every run (traced runs only), ``step``
performs one operation of the closed loop (one client: the next
operation starts when the previous one returns) and ``verify`` gathers
the outputs the checkers in :mod:`perfbench.checks` compare against
the planted truth.

Layer boundaries are marked with :meth:`Tracer.span` around the
benchmark's own calls. Where a layer is only reachable through another
one (the task's validate and sink calls, the CDC sink's merge and
maintenance calls) the benchmark passes its own subclass, or wraps the
module attribute the caller looks up, for the length of a traced run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import Tracer

CDC_ROWS = "doc_id long, src string, text string, seq long, is_del boolean"


def _frame(spark, pdf: pd.DataFrame, schema: str):
    """A generated pandas frame as a Spark DataFrame (Arrow transfer)."""
    names = [c.strip().split(" ")[0] for c in schema.split(",")]
    return spark.createDataFrame(pdf[names], schema)


def _write(pdf: pd.DataFrame, path: str, row_group: int | None = None) -> None:
    """Write a generated frame as one parquet file under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, f"{path}/part-0.parquet", row_group_size=row_group)


def disk_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path`` whose name ends
    with ``suffix``; Spark's ``.crc`` side files are skipped."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple]):
    """Replace ``module.attr`` with a spanning wrapper while tracing.
    ``targets`` holds (module, attribute, span name) or (module,
    attribute, span name, after): ``after(result)`` runs inside the
    span once the call returns."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for mod, attr, name, *after in targets:
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))

        def wrapper(*a, __fn=fn, __name=name, __after=after, **kw):
            with tracer.span(__name):
                result = __fn(*a, **kw)
                for hook in __after:
                    hook(result)
                return result

        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class Op:
    """One closed-loop operation that returned: its kind, wall seconds
    and the rows it handled."""

    def __init__(self, kind: str, seconds: float, rows: int = 0):
        self.kind, self.seconds, self.rows = kind, seconds, rows


# -- etl_daily_batches ----------------------------------------------------


def _etl_task_class():
    from pyspark.sql import types as T

    from sqltask_spark import dq
    from sqltask_spark.operators.lookup import lookup_join
    from sqltask_spark.sinks.files import ParquetSink
    from sqltask_spark.table import TableContext, column
    from sqltask_spark.task import SparkTask

    schema = T.StructType(
        [
            column("ship_month", "string", nullable=False),
            column("l_orderkey", "bigint", primary_key=True),
            column("l_linenumber", "int", primary_key=True),
            column("l_partkey", "bigint"),
            column("c_name", "string"),
            column("n_name", "string"),
            column("p_brand", "string"),
            column("o_orderpriority", "string"),
            column("l_quantity", "double"),
            column("l_extendedprice", "double"),
            column("l_discount", "double"),
            column("revenue", "double"),
            column("etl_ts", "timestamp"),
        ]
    )

    class SpanSink(ParquetSink):
        """File sink whose writes are spans; records files/bytes written
        for the batch partition."""

        def __init__(self, tracer: Tracer) -> None:
            super().__init__()
            self.tracer = tracer

        def write_batch(self, df, table) -> None:
            kind = "dq" if table.name.endswith("_dq") else "fact"
            name = f"sinks.files.write_batch.{kind}"
            with self.tracer.span(name):
                super().write_batch(df, table)
            if self.tracer.enabled:
                part = os.path.join(table.path, f"ship_month={table.batch_params['ship_month']}")
                nbytes, nfiles = disk_usage(part, ".parquet")
                self.tracer.count(f"{name}.files", nfiles)
                self.tracer.count(f"{name}.bytes", nbytes)

    class MonthlyLineitemTask(SparkTask):
        """One ``ship_month`` of lineitem enriched through four lookups,
        with three DQ rules logged to the ``_dq`` shadow table."""

        min_row_count = 1

        def __init__(self, spark, paths: dict, tracer: Tracer, ship_month: str) -> None:
            super().__init__(spark, ship_month=ship_month)
            self.tracer = tracer
            self.add_table(
                TableContext(
                    name="fact_lineitem",
                    schema=schema,
                    batch_params={"ship_month": ship_month},
                    timestamp_column_name="etl_ts",
                    path=paths["fact"],
                ),
                sink=SpanSink(tracer),
            )
            read = spark.read.parquet
            self.add_row_source(
                "lineitem", read(paths["lineitem"]).filter(F.col("ship_month") == ship_month)
            )
            for name in ("orders", "customer", "nation", "part"):
                self.add_lookup_source(name, read(paths[name]))

        def transform(self) -> None:
            orders = self.get_lookup_source("orders").withColumnRenamed("o_orderkey", "l_orderkey")
            customer = self.get_lookup_source("customer").withColumnRenamed("c_custkey", "o_custkey")
            nation = self.get_lookup_source("nation").withColumnRenamed("n_nationkey", "c_nationkey")
            part = self.get_lookup_source("part").withColumnRenamed("p_partkey", "l_partkey")
            df = self.get_row_source("lineitem")
            # orders/customer/nation have unique keys; part carries the
            # planted duplicates, so only it pays the first-wins window
            df = lookup_join(df, orders, ["l_orderkey"], dedup=False)
            df = lookup_join(df, customer, ["o_custkey"], dedup=False)
            df = lookup_join(df, nation, ["c_nationkey"], dedup=False)
            df = lookup_join(df, part, ["l_partkey"], order_by="p_ord")
            disc = F.col("l_discount")
            bad = (disc < 0) | (disc > 0.10)
            df = dq.with_dq(
                df,
                [
                    dq.dq_issue(
                        F.col("p_ord").isNull(), "p_brand", dq.Category.MISSING,
                        dq.Priority.HIGH, dq.Source.LOOKUP, "part_missing",
                    ),
                    dq.dq_issue(
                        disc.isNull(), "l_discount", dq.Category.MISSING,
                        dq.Priority.MEDIUM, dq.Source.SOURCE, "discount_missing",
                    ),
                    dq.dq_issue(
                        bad, "l_discount", dq.Category.INCORRECT,
                        dq.Priority.MEDIUM, dq.Source.SOURCE, "discount_range",
                    ),
                ],
            )
            clean = F.when(bad, None).otherwise(disc)
            df = df.withColumn("l_discount", clean).withColumn(
                "revenue", F.col("l_extendedprice") * (1 - F.coalesce(clean, F.lit(0.0)))
            )
            self.set_output("fact_lineitem", df)

        def validate(self) -> None:
            with self.tracer.span("task.validate"):
                super().validate()

    return MonthlyLineitemTask


class EtlDailyBatches:
    name = "etl_daily_batches"
    setup_repeats = 3
    #: op_cpu_s.p50 covers the first 6 measured batches; the loop runs
    #: at least these, however slow the host
    gated_steps = 6

    def __init__(self, spark, seed: int, tracer: Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.task_cls = _etl_task_class()

    def setup(self, workdir: str) -> None:
        self.inputs = inp = gen.gen_etl(self.seed)
        self.paths = {k: f"{workdir}/{k}" for k in ("lineitem", "orders", "customer", "nation", "part")}
        self.paths["fact"] = f"{workdir}/fact_lineitem"
        # one row group per month: the batch filter skips the others
        _write(inp.lineitem, self.paths["lineitem"], row_group=gen.ETL_ROWS_PER_MONTH)
        for name in ("orders", "customer", "nation", "part"):
            _write(getattr(inp, name), self.paths[name])
        self.done: list[str] = []

    def warmup(self) -> None:
        """Three batches on this instance's throwaway table: per-batch CPU
        keeps falling for the first few batches while the JIT and
        Spark's code-generation cache fill."""
        for _ in range(3):
            self.step()
        self.done.clear()
        shutil.rmtree(self.paths["fact"], ignore_errors=True)
        shutil.rmtree(self.paths["fact"] + "_dq", ignore_errors=True)

    def once(self, workdir: str) -> None:
        """Nothing: every lifecycle layer runs in each batch."""

    def step(self) -> list[Op]:
        """One batch; past the end of the sequence it starts over, and
        every batch from then on takes the replace path."""
        batches = self.inputs.batches
        month = batches[len(self.done) % len(batches)]
        task = self.task_cls(self.spark, self.paths, self.tracer, month)
        t0 = time.perf_counter()
        with self.tracer.span("task.execute_migration"):
            task.execute_migration()
        with self.tracer.span("task.execute_etl"):
            task.execute_etl()
        dt = time.perf_counter() - t0
        self.done.append(month)
        return [Op("batch", dt, self.inputs.rows_per_month[month])]

    def verify(self) -> dict:
        s = self.spark
        fact = s.read.parquet(self.paths["fact"])
        rows = {r[0]: r[1] for r in fact.groupBy("ship_month").count().collect()}
        dup = fact.filter(F.col("p_brand") == self.inputs.dup_brand).count()
        issues: dict[str, dict[str, int]] = {}
        for r in s.read.parquet(self.paths["fact"] + "_dq").groupBy("ship_month", "message").count().collect():
            issues.setdefault(r[0], {})[r[1]] = r[2]
        return {"rows": rows, "issues": issues, "dup_brand_rows": dup}

    def check(self, out: dict) -> dict[str, bool]:
        return checks.check_etl(self.inputs, sorted(set(self.done)), out)

    def layer_extras(self, out: dict) -> dict[str, float]:
        facts = sum(out["rows"].values())
        return {"dq.issues_per_fact_row": sum(sum(v.values()) for v in out["issues"].values()) / facts}


# -- the index and bulk layers --------------------------------------------

IDX_EPOCH_SCHEMA = "doc_id long, text string, vec array<double>, seq long, is_del boolean"


class IndexLayers:
    """The layers too slow for the closed loop, each called once in a
    traced run on the small corpus of :func:`perfbench.gen.gen_index`:
    build a MinHash and an IVF index from a MERGE table, run the bulk
    dedup and LSH similarity operators over it, sync one CDC epoch into
    both indexes through the sink, and probe both."""

    def __init__(self, spark, seed: int, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.inputs = gen.gen_index(seed)

    def _call(self, name: str, fn):
        """``fn()`` in a span, on a session with nothing cached."""
        self.spark.catalog.clearCache()
        with self.tracer.span(name):
            return fn()

    def run(self, workdir: str) -> None:
        from sqltask_spark.operators import index_sync
        from sqltask_spark.operators.ann_index import build_ivf_index, probe_ivf_index
        from sqltask_spark.operators.dedup import minhash_dedup_pairs
        from sqltask_spark.operators.dedup_index import build_minhash_index, probe_minhash_index
        from sqltask_spark.operators.merge import create_parquet_table
        from sqltask_spark.operators.similarity import cosine_topk_lsh
        from sqltask_spark.streaming.tables import merge_upsert_sink

        s, inp, call = self.spark, self.inputs, self._call
        paths = {k: f"{workdir}/idx_{k}" for k in ("table", "minhash", "ivf")}
        _write(inp.docs, f"{workdir}/idx_src")
        docs = s.read.parquet(f"{workdir}/idx_src")
        create_parquet_table(docs, paths["table"])
        call("operators.dedup_index.build_minhash_index", lambda: build_minhash_index(docs, paths["minhash"]))
        call("operators.ann_index.build_ivf_index",
             lambda: build_ivf_index(docs, paths["ivf"], "doc_id", "vec", n_cells=4))
        pairs = call(
            "operators.dedup.minhash_dedup_pairs",
            lambda: minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b").collect(),
        )
        queries = _frame(s, inp.queries, "q_id long, vec array<double>")
        top = call(
            "operators.similarity.cosine_topk_lsh",
            lambda: cosine_topk_lsh(queries, docs, "q_id", "doc_id", gen.IDX_DIM, query_vec="vec", corpus_vec="vec")
            .select("query_id", "neighbor_id").collect(),
        )

        def spec(kind, col):
            return {"kind": kind, "index_path": paths[kind], "id_col": "doc_id",
                    "payload_col": col, "seed_from_seq": 0}

        sink = merge_upsert_sink(
            paths["table"], ["doc_id"], delete_col="is_del", order_col="seq",
            app_id="idx-cdc", sync_indexes=[spec("minhash", "text"), spec("ivf", "vec")],
        )
        targets = [(index_sync, f"sync_{k}_index_with_table", f"operators.index_sync.sync_{k}_index_with_table")
                   for k in ("minhash", "ivf")]
        with patched(self.tracer, targets):
            call("streaming.tables.merge_upsert_sink.synced", lambda: sink(_frame(s, inp.epoch, IDX_EPOCH_SCHEMA), 0))

        probes = inp.probes
        texts = probes[["probe_id", "text"]].rename(columns={"probe_id": "doc_id"})
        texts = _frame(s, texts, "doc_id long, text string")
        text_hits = call(
            "operators.dedup_index.probe_minhash_index",
            lambda: probe_minhash_index(s, paths["minhash"], texts, threshold=0.5)
            .select("batch_id", "corpus_id").collect(),
        )
        vecs = _frame(s, probes[probes.vec.notna()], "probe_id long, vec array<double>")
        vec_hits = call(
            "operators.ann_index.probe_ivf_index",
            lambda: probe_ivf_index(s, paths["ivf"], vecs, "probe_id", "vec", k=10, n_probe=4)
            .select("query_id", "neighbor_id").collect(),
        )
        self.out = {
            "pairs": {(min(a, b), max(a, b)) for a, b in pairs},
            "top10": {q: {n for q2, n in top if q2 == q} for q in inp.exact_top10},
            "text_hits": {(int(a), int(b)) for a, b in text_hits},
            "vec_hits": {(int(a), int(b)) for a, b in vec_hits},
        }

    def check(self) -> dict[str, bool]:
        return checks.check_index(self.inputs, self.out)

    def layer_extras(self) -> dict[str, float]:
        return checks.index_recalls(self.inputs, self.out)


# -- cdc_merge_sink -------------------------------------------------------


class CdcMergeSink:
    name = "cdc_merge_sink"
    #: one set-up already costs several epochs
    setup_repeats = 1
    #: op_cpu_s.p50 covers the first 5 measured epochs (see EtlDailyBatches);
    #: the first is the costliest, as the small-batch arms run cold
    gated_steps = 5
    #: A compaction rewrites the table into at most one file per core,
    #: so ``max_files`` = cores keeps a redelivered (file-neutral) epoch
    #: from compacting again while every real epoch's new files trip it.
    MAINTENANCE = {"min_mean_file_bytes": 64 << 20, "vacuum_keep_versions": 2}

    def __init__(self, spark, seed: int, tracer: Tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.index: IndexLayers | None = None

    def setup(self, workdir: str) -> None:
        from sqltask_spark.operators.merge import create_parquet_table
        from sqltask_spark.operators.sketch_store import create_hll_store, hll_register_rows

        self.inputs = inp = gen.gen_cdc(self.seed)
        s = self.spark
        self.paths = {k: f"{workdir}/{k}" for k in ("table", "sketch")}
        _write(inp.docs, f"{workdir}/docs_src")
        docs = s.read.parquet(f"{workdir}/docs_src")
        create_parquet_table(docs, self.paths["table"], stats_col="doc_id")
        create_hll_store(hll_register_rows(docs.withColumn("fp", F.md5("text")), "src", "fp"), self.paths["sketch"])
        self.applied = 0
        self.redelivery_ok = False
        self.read_failures: list[str] = []

    def _sink(self):
        from sqltask_spark.streaming.tables import merge_upsert_sink

        maintenance = {**self.MAINTENANCE, "max_files": self.spark.sparkContext.defaultParallelism}
        return merge_upsert_sink(
            self.paths["table"], ["doc_id"], delete_col="is_del", order_col="seq",
            app_id="docs-cdc", maintenance=maintenance,
        )

    def seqs(self) -> dict[str, int]:
        from sqltask_spark.operators import index_fs

        return {k: int(index_fs.read_manifest(self.spark, p)["_seq"]) for k, p in self.paths.items()}

    def warmup(self) -> None:
        """Apply epoch 0, the one above the 512-row caps, untimed: it runs
        the join arms once and compiles the epoch's plans."""
        self.step()

    def once(self, workdir: str) -> None:
        """The index and bulk layers, once in a traced run (see IndexLayers)."""
        index = IndexLayers(self.spark, self.seed, self.tracer)
        index.run(workdir)
        self.index = index

    def _apply(self, epoch: gen.Epoch) -> float:
        """Hand one epoch to the sink, then fold its sketch registers;
        returns the seconds until table and sketch have committed."""
        from sqltask_spark.operators import index_maintenance, merge
        from sqltask_spark.operators.sketch_store import hll_register_rows, update_hll_store

        s = self.spark
        batch = _frame(s, epoch.rows, CDC_ROWS)
        regs = hll_register_rows(
            batch.filter(~F.col("is_del")).withColumn("fp", F.md5("text")), "src", "fp"
        )
        compactions = "operators.index_maintenance.maintain_parquet_table.compactions"
        targets = [
            (merge, "merge_into_parquet", "operators.merge.merge_into_parquet"),
            (index_maintenance, "maintain_parquet_table",
             "operators.index_maintenance.maintain_parquet_table",
             lambda r: self.tracer.count(compactions, r["compacted"])),
        ]
        with patched(self.tracer, targets):
            # merge_upsert_sink binds merge_into_parquet when built
            sink = self._sink()
            t0 = time.perf_counter()
            with self.tracer.span("streaming.tables.merge_upsert_sink"):
                sink(batch, epoch.epoch_id)
            with self.tracer.span("operators.sketch_store.update_hll_store"):
                update_hll_store(s, self.paths["sketch"], regs, batch_id=f"hll-epoch-{epoch.epoch_id}")
            return time.perf_counter() - t0

    def step(self) -> list[Op]:
        """The next epoch, then a point read of the keys it changed."""
        from sqltask_spark.operators.merge import read_parquet_table_keys

        epoch = self.inputs.epochs[self.applied]
        before = self.seqs() if self.tracer.enabled else None
        dt = self._apply(epoch)
        self.applied += 1
        if before is not None:
            after = self.seqs()
            self.tracer.count("operators.index_fs.manifest_commits", sum(after[k] - before[k] for k in after))
        keys = sorted(epoch.upserts) + sorted(epoch.deletes)
        t0 = time.perf_counter()
        with self.tracer.span("operators.merge.read_parquet_table_keys"):
            rows = read_parquet_table_keys(self.spark, self.paths["table"], keys).select("doc_id", "text").collect()
        read_s = time.perf_counter() - t0
        problems = checks.check_point_read(epoch, {int(r[0]): r[1] for r in rows})
        self.read_failures += [f"epoch {epoch.epoch_id}: {p}" for p in problems]
        return [Op("epoch", dt, len(epoch.rows)), Op("read", read_s, len(keys))]

    def verify(self) -> dict:
        """Redeliver the last applied epoch (it must leave every manifest
        where it was), then read the whole table back."""
        from sqltask_spark.operators.merge import read_parquet_table

        before = self.seqs()
        self._apply(self.inputs.epochs[self.applied - 1])
        after = self.seqs()
        self.redelivery_ok = after == before
        if not self.redelivery_ok:
            print(f"redelivered epoch moved manifests: {before} -> {after}", file=sys.stderr)
        rows = read_parquet_table(self.spark, self.paths["table"]).select("doc_id", "text").collect()
        return {"table": {int(r[0]): r[1] for r in rows}}

    def check(self, out: dict) -> dict[str, bool]:
        return checks.check_cdc(
            self.inputs.expected_state(self.applied), out["table"], self.redelivery_ok, self.read_failures
        ) | (self.index.check() if self.index else {})

    def layer_extras(self, out: dict) -> dict[str, float]:
        live = sum(len(t.encode()) + 8 + len("src0") for t in out["table"].values())
        extras, total = {}, 0
        for k, p in self.paths.items():
            nbytes, nfiles = disk_usage(p)
            extras[f"store.{k}_bytes"] = nbytes
            extras[f"store.{k}_files"] = nfiles
            total += nbytes
        extras["bytes_per_live_byte"] = total / live
        return extras | (self.index.layer_extras() if self.index else {})


WORKLOADS = {w.name: w for w in (EtlDailyBatches, CdcMergeSink)}
