"""Checkers: compare what a run produced with the generator's planted
truth. Each takes plain Python data (collected from Spark by the
workload) so the self-tests can hand it corrupted outputs directly.
Every checker returns ``{check name: passed}``."""

from __future__ import annotations

from perfbench.gen import Epoch, EtlInputs, IndexInputs


def check_etl(inp: EtlInputs, months: list[str], out: dict) -> dict[str, bool]:
    """Every month run has exactly its source rows (re-runs replace,
    never append), DQ rows equal the planted issues per rule, and the
    part lookup kept the first of each duplicated key."""
    rows, issues = out["rows"], out["issues"]
    return {
        "etl.fact_rows_per_month": set(rows) == set(months)
        and all(rows[m] == inp.rows_per_month[m] for m in months),
        "etl.dq_issues_per_rule": set(issues) <= set(months)
        and all(
            issues.get(m, {}) == {k: v for k, v in inp.issues[m].items() if v}
            for m in months
        ),
        "etl.lookup_first_wins": out["dup_brand_rows"] == 0,
    }


def check_point_read(epoch: Epoch, rows: dict[int, str]) -> list[str]:
    """A point read of an epoch's keys right after it committed returns
    every upserted key with its new text and none of the deleted ones."""
    problems = [f"key {k} reads {rows.get(k)!r}" for k, t in epoch.upserts.items() if rows.get(k) != t]
    problems += [f"deleted key {k} still visible" for k in epoch.deletes if k in rows]
    return problems


def check_cdc(
    expected: dict[int, str],
    table: dict[int, str],
    redelivery_ok: bool,
    read_failures: list[str],
) -> dict[str, bool]:
    """The MERGE table equals the state the op stream implies, the
    redelivered epoch moved no manifest, and every point read matched
    its epoch."""
    return {
        "cdc.table_state": table == expected,
        "cdc.redelivery_skipped": redelivery_ok,
        "cdc.point_reads": not read_failures,
    }


def check_index(inp: IndexInputs, out: dict) -> dict[str, bool]:
    """After the synced epoch, each index returns every upserted doc for
    its near copy and never a deleted doc (nor an updated doc for its
    old text); the bulk dedup finds the planted twins. A twin differs
    from its doc by one word of 40-60 (Jaccard above 0.85), which 16
    bands of 4 rows miss with odds below 1e-5, so 95% is a safe floor."""
    p = inp.probes
    want = set(zip(p.probe_id[p.hit].tolist(), p.doc_id[p.hit].tolist()))
    banned = set(zip(p.probe_id[~p.hit].tolist(), p.doc_id[~p.hit].tolist()))
    gone = set(inp.epoch.doc_id[inp.epoch.is_del].tolist())
    hits = out["text_hits"] | out["vec_hits"]
    return {
        "index.probes_find_upserts": want <= out["text_hits"] and want <= out["vec_hits"],
        "index.probes_skip_removed": not (banned & out["text_hits"]) and not any(d in gone for _, d in hits),
        "dedup.planted_pairs": index_recalls(inp, out)["dedup_planted_recall"] >= 0.95,
    }


def index_recalls(inp: IndexInputs, out: dict) -> dict[str, float]:
    """The share of planted twins the bulk dedup found, and the LSH
    top-10 recall against the exact cosine top-10."""
    found = sum(t in out["pairs"] for t in inp.twins) / len(inp.twins)
    ann = [len(out["top10"].get(q, set()) & e) / 10 for q, e in inp.exact_top10.items()]
    return {"dedup_planted_recall": found, "ann_recall_at_10": sum(ann) / len(ann)}
