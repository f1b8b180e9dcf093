"""Seeded input generator with planted ground truth.

Every workload's inputs come from one ``numpy`` generator seeded by the
benchmark's ``--seed``; the package under test only ever sees the
generated tables. Alongside the inputs the generator returns the
answers a correct run must reproduce (the "planted" truth), so the
checkers in :mod:`perfbench.checks` never trust the program's own
output to define what is right.

Pure numpy/pandas: no Spark here, so the self-tests can pin input
digests cheaply.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 3000

#: Sizes per workload. One run must fit a few tens of seconds on a
#: 4-core host where a Spark job costs 0.2-0.5 s, so these are far below
#: sf0.1; the shapes (dirt rates, epoch sizes on both sides of the
#: 512-row fast-path caps) are what the workloads are about.
ETL_MONTHS = 24
ETL_ROWS_PER_MONTH = 3000
CDC_DOCS = 2000
CDC_EPOCHS = 40
CDC_SMALL = (30, 34)
CDC_LARGE = (600, 900)


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(f"w{w}" for w in rng.integers(0, VOCAB, n))


def digest(*frames: pd.DataFrame) -> str:
    """sha256 over the row hashes of ``frames`` — the input identity
    the self-tests pin per seed. Vector cells hash by their bytes."""
    h = hashlib.sha256()
    for df in frames:
        df = df.apply(lambda c: c.map(lambda v: v.tobytes() if isinstance(v, np.ndarray) else v))
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


# -- etl_daily_batches ----------------------------------------------------


@dataclass
class EtlInputs:
    lineitem: pd.DataFrame
    orders: pd.DataFrame
    customer: pd.DataFrame
    nation: pd.DataFrame
    part: pd.DataFrame
    #: batch sequence: every month once, ~20% of months again later
    batches: list[str]
    #: ship_month -> source row count
    rows_per_month: dict[str, int]
    #: ship_month -> {rule: planted issue count}
    issues: dict[str, dict[str, int]]
    dup_brand: str = "Brand#DUP"

    def frames(self) -> tuple[pd.DataFrame, ...]:
        return self.lineitem, self.orders, self.customer, self.nation, self.part


def gen_etl(seed: int) -> EtlInputs:
    rng = np.random.default_rng([seed, 1])
    months, rows = ETL_MONTHS, ETL_ROWS_PER_MONTH
    month_names = [f"{1993 + m // 12}-{m % 12 + 1:02d}" for m in range(months)]
    n = months * rows
    n_orders = n // 4
    n_cust = max(100, n_orders // 10)
    n_part = 2000

    nation = pd.DataFrame(
        {"n_nationkey": np.arange(25, dtype=np.int32), "n_name": [f"NATION{i:02d}" for i in range(25)]}
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"], n_orders),
        }
    )
    # part lookup: 5% of keys get a second, later row -- the first
    # (lower p_ord) must win, so no fact row may carry dup_brand
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
        }
    )
    dups = np.sort(rng.choice(n_part, n_part // 20, replace=False))
    part = pd.concat(
        [part, pd.DataFrame({"p_partkey": dups, "p_brand": "Brand#DUP", "p_retailprice": 1.0})],
        ignore_index=True,
    )
    part["p_ord"] = np.arange(len(part), dtype=np.int64)
    part = part.sample(frac=1.0, random_state=np.random.RandomState(seed % 2**32)).reset_index(drop=True)

    partkey = rng.integers(0, n_part, n).astype(np.int64)
    orphan = rng.random(n) < 0.01
    partkey[orphan] = n_part + rng.integers(1, 10_000, int(orphan.sum()))
    discount = np.round(rng.uniform(0.0, 0.10, n), 2)
    u = rng.random(n)
    null_disc = u < 0.02
    bad_disc = (u >= 0.02) & (u < 0.04)
    discount[bad_disc] = rng.choice([-0.05, 0.25, 0.5], int(bad_disc.sum()))
    ship_month = np.repeat(month_names, rows)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_linenumber": np.tile(np.arange(rows, dtype=np.int32), months),
            "l_partkey": partkey,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
            "l_discount": pd.array(np.where(null_disc, np.nan, discount), dtype="Float64"),
            "ship_month": ship_month,
        }
    )

    issues = {}
    for m in month_names:
        sel = ship_month == m
        issues[m] = {
            "part_missing": int((orphan & sel).sum()),
            "discount_missing": int((null_disc & sel).sum()),
            "discount_range": int((bad_disc & sel).sum()),
        }
    # ~20% of months run twice, each re-run 1-3 batches after its
    # month. The first is one of months 0-2 re-run as the 4th batch and
    # the others come from month 6 on, so the 6 batches every run
    # measures hold exactly one re-run: the replace path, every run.
    batches = list(month_names)
    batches.insert(3, month_names[int(rng.integers(0, 3))])
    for m in sorted(rng.choice(np.arange(6, months), months // 5 - 1, replace=False).tolist()):
        pos = batches.index(month_names[m]) + int(rng.integers(1, 4))
        batches.insert(min(pos, len(batches)), month_names[m])
    return EtlInputs(
        lineitem=lineitem,
        orders=orders,
        customer=customer,
        nation=nation,
        part=part,
        batches=batches,
        rows_per_month={m: rows for m in month_names},
        issues=issues,
    )


# -- cdc_merge_sink -------------------------------------------------------


@dataclass
class Epoch:
    epoch_id: int
    #: doc_id, src, text, seq, is_del: one change per key
    rows: pd.DataFrame
    large: bool

    @property
    def upserts(self) -> dict[int, str]:
        live = self.rows[~self.rows.is_del]
        return dict(zip(live.doc_id.tolist(), live.text.tolist()))

    @property
    def deletes(self) -> set[int]:
        return set(self.rows.doc_id[self.rows.is_del].tolist())


@dataclass
class CdcInputs:
    docs: pd.DataFrame
    epochs: list[Epoch]

    def frames(self) -> tuple[pd.DataFrame, ...]:
        return (self.docs, *(e.rows for e in self.epochs))

    def expected_state(self, n_applied: int) -> dict[int, str]:
        """doc_id -> text after the first ``n_applied`` epochs."""
        state = dict(zip(self.docs.doc_id.tolist(), self.docs.text.tolist()))
        for e in self.epochs[:n_applied]:
            for d in e.deletes:
                state.pop(d, None)
            state.update(e.upserts)
        return state


def gen_cdc(seed: int) -> CdcInputs:
    """A seeded insert/update/delete stream over a ``CDC_DOCS`` corpus:
    epoch 0 carries 600-900 changes (above the 512-row caps), every
    later epoch about 32 (below them). Each epoch is 30% inserts of
    new ids, 50% updates and 20% deletes of live ids."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(CDC_DOCS, dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "src": [f"src{i % 4}" for i in ids],
            "text": [_words(rng, int(rng.integers(20, 60))) for _ in ids],
        }
    )
    live = set(ids.tolist())
    next_id, seq = CDC_DOCS, 0
    epochs: list[Epoch] = []
    for eid in range(CDC_EPOCHS):
        large = eid == 0
        size = int(rng.integers(*(CDC_LARGE if large else CDC_SMALL)))
        n_ins, n_del = size * 3 // 10, size // 5
        n_upd = size - n_ins - n_del
        touched = rng.choice(sorted(live), n_upd + n_del, replace=False)
        upd, dele = touched[:n_upd], touched[n_upd:]
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        row_ids = np.concatenate([ins, upd, dele]).astype(np.int64)
        n_up = n_ins + n_upd
        rows = pd.DataFrame(
            {
                "doc_id": row_ids,
                "src": [f"src{i % 4}" for i in row_ids],
                "text": [_words(rng, int(rng.integers(20, 60))) for _ in range(n_up)] + [None] * n_del,
                "seq": np.arange(seq, seq + len(row_ids), dtype=np.int64),
                "is_del": np.r_[np.zeros(n_up, bool), np.ones(n_del, bool)],
            }
        )
        seq += len(row_ids)
        live -= set(dele.tolist())
        live |= set(ins.tolist())
        epochs.append(Epoch(eid, rows, large))
    return CdcInputs(docs=docs, epochs=epochs)


# -- the index and bulk layers, once per cdc_merge_sink run ---------------

IDX_DOCS = 200
IDX_TWINS = 40
IDX_DIM = 16
IDX_CLUSTERS = 8
IDX_QUERIES = 20


@dataclass
class IndexInputs:
    """A small corpus with text and vectors for the layers that are too
    slow for the closed loop: index build, one synced epoch, one probe
    per index, and the bulk dedup and similarity operators."""

    #: doc_id, text, vec (list of IDX_DIM floats)
    docs: pd.DataFrame
    #: (a, b) with a < b: twin b is doc a with one word replaced
    twins: set[tuple[int, int]]
    #: q_id, vec: near copies of random docs' vectors
    queries: pd.DataFrame
    #: q_id -> the exact cosine top-10 doc ids of ``docs``
    exact_top10: dict[int, set[int]]
    #: doc_id, text, vec, seq, is_del: one CDC epoch synced into both indexes
    epoch: pd.DataFrame
    #: probe_id, text, vec, doc_id, hit: probes of both indexes after
    #: the epoch. ``hit`` rows are near copies of an upserted doc and
    #: must return it; the others are near copies of a deleted doc, or
    #: of an updated doc's old text, and must not.
    probes: pd.DataFrame

    def frames(self) -> tuple[pd.DataFrame, ...]:
        return self.docs, self.queries, self.epoch, self.probes


def near_dup(rng: np.random.Generator, text: str) -> str:
    """``text`` with one word replaced: of 40-60 words, the 3-shingle
    Jaccard with the original stays above 0.85."""
    words = text.split()
    words[int(rng.integers(0, len(words)))] = f"x{int(rng.integers(0, VOCAB))}"
    return " ".join(words)


def gen_index(seed: int) -> IndexInputs:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(IDX_CLUSTERS, IDX_DIM))

    def vectors(n: int) -> np.ndarray:
        return centers[rng.integers(0, IDX_CLUSTERS, n)] + 0.4 * rng.normal(size=(n, IDX_DIM))

    texts = [_words(rng, int(rng.integers(40, 61))) for _ in range(IDX_DOCS)]
    vecs = vectors(IDX_DOCS)
    twin_of = rng.choice(IDX_DOCS, IDX_TWINS, replace=False)
    texts += [near_dup(rng, texts[a]) for a in twin_of]
    vecs = np.vstack([vecs, vecs[twin_of] + 0.01 * rng.normal(size=(IDX_TWINS, IDX_DIM))])
    n = IDX_DOCS + IDX_TWINS
    docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "vec": list(vecs)})
    twins = {(int(a), IDX_DOCS + i) for i, a in enumerate(twin_of)}

    qv = vecs[rng.choice(n, IDX_QUERIES, replace=False)] + 0.2 * rng.normal(size=(IDX_QUERIES, IDX_DIM))
    q_ids = np.arange(1_000_000, 1_000_000 + IDX_QUERIES, dtype=np.int64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = (qv / np.linalg.norm(qv, axis=1, keepdims=True)) @ unit.T
    exact = {int(q): set(np.argsort(-row)[:10].tolist()) for q, row in zip(q_ids, sims)}
    queries = pd.DataFrame({"q_id": q_ids, "vec": list(qv)})

    # one epoch: 8 inserts, 8 updates, 4 deletes among the base docs
    touched = rng.choice(IDX_DOCS, 12, replace=False)
    ids = np.r_[np.arange(n, n + 8), touched].astype(np.int64)
    n_up = 16
    epoch = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [_words(rng, int(rng.integers(40, 61))) for _ in range(n_up)] + [None] * 4,
            "vec": list(vectors(n_up)) + [None] * 4,
            "seq": np.arange(len(ids), dtype=np.int64),
            "is_del": np.r_[np.zeros(n_up, bool), np.ones(4, bool)],
        }
    )
    # probes: every upserted doc (hit), every deleted doc and the old
    # text of every updated one (no hit); an old vector is not a probe,
    # since the updated doc's new vector may lie near it
    ups, old = epoch[~epoch.is_del], docs.set_index("doc_id")
    gone = epoch.doc_id[epoch.is_del]
    probe_doc = np.r_[ups.doc_id, gone, ups.doc_id[ups.doc_id < n]].astype(np.int64)
    n_hit, n_gone = len(ups), len(gone)
    src_text = list(ups.text) + [old.text[d] for d in probe_doc[n_hit:]]
    src_vec = list(ups.vec) + [old.vec[d] for d in gone] + [None] * (len(probe_doc) - n_hit - n_gone)
    probes = pd.DataFrame(
        {
            "probe_id": np.arange(2_000_000, 2_000_000 + len(probe_doc), dtype=np.int64),
            "text": [near_dup(rng, t) for t in src_text],
            "vec": [v if v is None else v + 0.01 * rng.normal(size=IDX_DIM) for v in src_vec],
            "doc_id": probe_doc,
            "hit": np.arange(len(probe_doc)) < n_hit,
        }
    )
    return IndexInputs(docs=docs, twins=twins, queries=queries, exact_top10=exact, epoch=epoch, probes=probes)
