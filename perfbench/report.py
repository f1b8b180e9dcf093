"""Metric definitions and their computation from one run's records.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares (a self-test keeps the two in step). Every run prints every
metric of the list its ``--trace`` flag selects; a layer a workload does
not call reads 0 there.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

#: name -> (unit, better, bound). Both are CPU seconds, not wall time:
#: on a shared 4-vCPU host whose hypervisor steals 10-40% of the CPU,
#: wall times moved by 25-48% between runs while CPU seconds moved by
#: about half that (README, "Why CPU seconds").
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_cpu_s.p50": ("s", "lower", 0.25),
}

STAT_UNITS = {
    "s": "s", "self_s": "s", "jobs": "count", "self_jobs": "count",
    "shuffle_write_bytes": "bytes", "self_shuffle_write_bytes": "bytes",
    "executor_run_s": "s", "self_executor_run_s": "s", "gc_s": "s", "spill_bytes": "bytes",
}


def _per_layer() -> dict[str, tuple[str, tuple]]:
    """name -> (unit, source); every one is better lower except
    ``HIGHER_IS_BETTER``. Sources: ("span", span or None for the
    step's root spans, stat), ("count", counter, "median" | "sum"),
    ("extra", key), ("wall",) for :func:`op_stats`, ("ops", op kind)
    for the median wall time of one kind of operation."""
    m: dict[str, tuple[str, tuple]] = {}

    def span(name, stats):
        for st in stats:
            m[f"{name}.{st}"] = (STAT_UNITS[st], ("span", name, st))

    def count(name, unit, agg="median"):
        m[name] = (unit, ("count", name, agg))

    # every workload: the wall-clock and memory figures a user sees,
    # too noisy on a shared host to gate a change
    m["op_s.p50"] = ("s", ("wall",))
    m["op_s.tail"] = ("s", ("wall",))
    m["op_s.n"] = ("count", ("wall",))
    m["rows_per_s"] = ("rows/s", ("wall",))
    m["peak_rss_mb"] = ("MB", ("extra", "peak_rss_mb"))
    m["setup_wall_s"] = ("s", ("extra", "setup_wall_s"))
    for st in ("jobs", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"op.{st}"] = (STAT_UNITS[st], ("span", None, st))
    count("session.persisted_rdds_after", "count")
    # etl_daily_batches: the sqltask lifecycle
    span("task.execute_migration", ("s", "jobs"))
    span("task.execute_etl", ("self_s", "self_jobs", "self_shuffle_write_bytes", "self_executor_run_s"))
    span("task.validate", ("s", "jobs"))
    span("sinks.files.write_batch.fact", ("s", "jobs", "executor_run_s"))
    count("sinks.files.write_batch.fact.files", "count")
    count("sinks.files.write_batch.fact.bytes", "bytes")
    span("sinks.files.write_batch.dq", ("s", "jobs"))
    m["dq.issues_per_fact_row"] = ("ratio", ("extra", "dq.issues_per_fact_row"))
    # cdc_merge_sink: the manifest-protocol lake state
    span("streaming.tables.merge_upsert_sink", ("s", "self_s", "self_jobs"))
    span("operators.merge.merge_into_parquet", ("s", "jobs", "shuffle_write_bytes", "executor_run_s"))
    span("operators.index_maintenance.maintain_parquet_table", ("s", "jobs"))
    count("operators.index_maintenance.maintain_parquet_table.compactions", "count", "sum")
    span("operators.sketch_store.update_hll_store", ("s", "jobs"))
    count("operators.index_fs.manifest_commits", "count")
    span("operators.merge.read_parquet_table_keys", ("s", "jobs"))
    m["read_s.p50"] = ("s", ("ops", "read"))
    for store in ("table", "sketch"):
        m[f"store.{store}_bytes"] = ("bytes", ("extra", f"store.{store}_bytes"))
        m[f"store.{store}_files"] = ("count", ("extra", f"store.{store}_files"))
    m["bytes_per_live_byte"] = ("ratio", ("extra", "bytes_per_live_byte"))
    # cdc_merge_sink, once in each traced run: the index and bulk layers
    span("operators.dedup_index.build_minhash_index", ("s", "jobs"))
    span("operators.ann_index.build_ivf_index", ("s", "jobs"))
    span("operators.dedup.minhash_dedup_pairs", ("s", "jobs", "shuffle_write_bytes"))
    span("operators.similarity.cosine_topk_lsh", ("s", "jobs", "shuffle_write_bytes"))
    span("operators.index_sync.sync_minhash_index_with_table", ("s", "jobs"))
    span("operators.index_sync.sync_ivf_index_with_table", ("s", "jobs"))
    span("operators.dedup_index.probe_minhash_index", ("s", "jobs"))
    span("operators.ann_index.probe_ivf_index", ("s", "jobs"))
    m["dedup_planted_recall"] = ("ratio", ("extra", "dedup_planted_recall"))
    m["ann_recall_at_10"] = ("ratio", ("extra", "ann_recall_at_10"))
    return m


PER_LAYER = _per_layer()
HIGHER_IS_BETTER = {"rows_per_s", "dedup_planted_recall", "ann_recall_at_10"}


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum (p100)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    return v[max(0, math.ceil(pct / 100 * n) - 1)], pct


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def op_stats(ops: list, loop_s: float) -> dict:
    """Wall-clock figures of the loop's main operations (point reads
    are reported on their own)."""
    main = [o for o in ops if o.kind != "read"]
    return {
        "op_s.p50": _median(o.seconds for o in main),
        "op_s.tail": tail([o.seconds for o in main])[0] if main else 0.0,
        "op_s.n": float(len(main)),
        "rows_per_s": sum(o.rows for o in main) / loop_s,
    }


def per_layer(tracer, stages: dict, ops: list, loop_s: float, extras: dict) -> dict:
    """Per-layer values. A span's or counter's value is the median over
    the run's closed-loop steps of its per-step sum (steps that never
    reached it excluded); a layer the workload does not call reads 0."""
    from perfbench.trace import ONCE, self_times

    spans = tracer.spans
    selft = self_times(spans)
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.span_id)

    def subtree(sid):
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(children[x])
        return out

    def stat(s, st):
        if st == "s":
            return s.end - s.start
        if st == "self_s":
            return selft[s.span_id]
        own = st.startswith("self_")
        base = st[len("self_"):] if own else st
        ids = [s.span_id] if own else subtree(s.span_id)
        if base == "jobs":
            return sum(len(spans[i].jobs) for i in ids)
        return sum(stages.get(i, {}).get(base, 0.0) for i in ids)

    wall = op_stats(ops, loop_s)
    out = {}
    for name, (_, src) in PER_LAYER.items():
        kind = src[0]
        if kind == "span":
            _, span_name, st = src
            acc = defaultdict(float)
            for s in spans:
                if (span_name is None and s.parent is None and s.op_id != ONCE) or s.name == span_name:
                    acc[s.op_id] += stat(s, st)
            out[name] = _median(acc.values())
        elif kind == "count":
            _, counter, agg = src
            vals = [v for (c, _), v in tracer.counts.items() if c == counter]
            out[name] = float(sum(vals)) if agg == "sum" else _median(vals)
        elif kind == "extra":
            out[name] = float(extras.get(src[1], 0.0))
        elif kind == "wall":
            out[name] = wall[name]
        else:
            out[name] = _median(o.seconds for o in ops if o.kind == src[1])
    return out
