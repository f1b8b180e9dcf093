"""Self-tests of the benchmark: input determinism, checkers that reject
corrupted outputs, span-tree arithmetic and the metric lists declared
in ``BENCHMARK.json``. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import checks, gen, report
from perfbench.trace import Span, Tracer, check_nesting, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("make", [gen.gen_etl, gen.gen_cdc, gen.gen_index])
def test_seed_fixes_inputs(make):
    a, b, c = make(7), make(7), make(8)
    assert gen.digest(*a.frames()) == gen.digest(*b.frames())
    assert gen.digest(*a.frames()) != gen.digest(*c.frames())


def _etl_truth(inp, months):
    return {
        "rows": {m: inp.rows_per_month[m] for m in months},
        "issues": {m: {k: v for k, v in inp.issues[m].items() if v} for m in months},
        "dup_brand_rows": 0,
    }


def test_etl_inputs_carry_the_planted_dirt():
    inp = gen.gen_etl(3)
    assert set(inp.batches) == set(inp.rows_per_month)
    assert len(inp.batches) > len(inp.rows_per_month)  # some months re-run
    for rule in ("part_missing", "discount_missing", "discount_range"):
        assert sum(v[rule] for v in inp.issues.values()) > 0
    assert (inp.part.p_brand == inp.dup_brand).sum() > 0


def test_every_run_measures_a_rerun():
    """The batches every run measures include exactly one month run a
    second time, so each run takes the replace path of the overwrite."""
    from perfbench.workloads import EtlDailyBatches

    for seed in range(20):
        gated = gen.gen_etl(seed).batches[: EtlDailyBatches.gated_steps]
        assert len(gated) - len(set(gated)) == 1


def test_etl_checker_rejects_each_corruption():
    inp = gen.gen_etl(3)
    months = sorted(set(inp.batches[:6]))
    assert all(checks.check_etl(inp, months, _etl_truth(inp, months)).values())

    def broken(edit):
        out = json.loads(json.dumps(_etl_truth(inp, months)))
        edit(out)
        return checks.check_etl(inp, months, out)

    m = months[0]
    rule = next(k for k, v in inp.issues[m].items() if v)
    assert not broken(lambda o: o["rows"].__setitem__(m, o["rows"][m] * 2))["etl.fact_rows_per_month"]
    assert not broken(lambda o: o["rows"].pop(m))["etl.fact_rows_per_month"]
    assert not broken(lambda o: o["issues"][m].__setitem__(rule, o["issues"][m][rule] + 1))[
        "etl.dq_issues_per_rule"
    ]
    assert not broken(lambda o: o["issues"][m].pop(rule))["etl.dq_issues_per_rule"]
    assert not broken(lambda o: o.__setitem__("dup_brand_rows", 1))["etl.lookup_first_wins"]


def test_cdc_stream_straddles_the_caps():
    inp = gen.gen_cdc(3)
    assert len(inp.epochs[0].rows) > 512
    assert all(len(e.rows) < 512 for e in inp.epochs[1:])
    for e in inp.epochs:
        assert e.rows.doc_id.is_unique and e.upserts and e.deletes


def test_cdc_checkers_reject_each_corruption():
    inp = gen.gen_cdc(3)
    epoch = inp.epochs[1]
    good = dict(epoch.upserts)
    assert checks.check_point_read(epoch, good) == []
    key = next(iter(good))
    assert checks.check_point_read(epoch, {**good, key: "stale"})
    assert checks.check_point_read(epoch, {k: v for k, v in good.items() if k != key})
    assert checks.check_point_read(epoch, {**good, next(iter(epoch.deletes)): "ghost"})

    state = inp.expected_state(3)
    assert all(checks.check_cdc(state, dict(state), True, []).values())
    wrong = dict(state)
    wrong.pop(next(iter(wrong)))
    assert not checks.check_cdc(state, wrong, True, [])["cdc.table_state"]
    assert not checks.check_cdc(state, inp.expected_state(2), True, [])["cdc.table_state"]
    assert not checks.check_cdc(state, state, False, [])["cdc.redelivery_skipped"]
    assert not checks.check_cdc(state, state, True, ["epoch 1: x"])["cdc.point_reads"]


def _index_truth(inp):
    p = inp.probes
    want = set(zip(p.probe_id[p.hit].tolist(), p.doc_id[p.hit].tolist()))
    return {"pairs": set(inp.twins), "top10": dict(inp.exact_top10), "text_hits": set(want), "vec_hits": set(want)}


def test_index_checker_rejects_each_corruption():
    inp = gen.gen_index(3)
    good = _index_truth(inp)
    assert all(checks.check_index(inp, good).values())
    assert checks.index_recalls(inp, good) == {"dedup_planted_recall": 1.0, "ann_recall_at_10": 1.0}
    p = inp.probes
    hit = (int(p.probe_id[p.hit].iloc[0]), int(p.doc_id[p.hit].iloc[0]))
    miss = (int(p.probe_id[~p.hit].iloc[-1]), int(p.doc_id[~p.hit].iloc[-1]))
    deleted = int(inp.epoch.doc_id[inp.epoch.is_del].iloc[0])
    for key in ("text_hits", "vec_hits"):
        assert not checks.check_index(inp, {**good, key: good[key] - {hit}})["index.probes_find_upserts"]
        assert not checks.check_index(inp, {**good, key: good[key] | {(hit[0], deleted)}})[
            "index.probes_skip_removed"
        ]
    assert not checks.check_index(inp, {**good, "text_hits": good["text_hits"] | {miss}})[
        "index.probes_skip_removed"
    ]
    assert not checks.check_index(inp, {**good, "pairs": set(list(inp.twins)[:30])})["dedup.planted_pairs"]


def test_span_tree_nests_and_self_times_sum_to_wall():
    t = Tracer(None, "w", enabled=True)
    with t.span("root"):
        time.sleep(0.01)
        with t.span("a"):
            time.sleep(0.01)
            with t.span("a.1"):
                time.sleep(0.01)
        with t.span("b"):
            time.sleep(0.01)
    assert check_nesting(t.spans) == []
    root = t.spans[0]
    assert [s.parent for s in t.spans] == [None, 0, 1, 0]
    assert sum(self_times(t.spans).values()) == pytest.approx(root.end - root.start, abs=1e-9)
    assert all(v > 0 for v in self_times(t.spans).values())


def test_nesting_check_rejects_an_escaped_child():
    spans = [Span(0, "p", 0.0, 1.0, None, "w", 0), Span(1, "c", 0.5, 1.5, 0, "w", 0)]
    assert check_nesting(spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(None, "w", enabled=False)
    with t.span("x"):
        t.count("c", 1)
    assert t.spans == [] and not t.counts


def test_tail_keeps_ten_samples_beyond():
    v, pct = report.tail([float(i) for i in range(1, 21)])
    assert (v, pct) == (10.0, 50)
    assert sum(x > v for x in range(1, 21)) >= 10
    assert report.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_benchmark_json_matches_the_metric_lists():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: (u, "higher" if k in report.HIGHER_IS_BETTER else "lower") for k, (u, _) in report.PER_LAYER.items()
    }
