"""Deterministic input generator for the benchmark.

Every table the workloads read is made here from a seed, with numpy
and pyarrow only (no Spark, no download), so the same seed gives
byte-identical parquet files on any host. The schemas and value
domains mirror the engine's test-data star schema (TPC-H-ish tables,
an ``events`` stream, a ``documents`` corpus with near-duplicates and
clustered unit ``embeddings``), so every registry query and its DuckDB
oracle run on them unchanged.

It also makes the signed deltas of the multi-step workloads:
:func:`lineitem_deltas` for the IVM run and :func:`corpus_rounds` for
the on-disk delta-state loop. Deltas are planned from the generator's
own in-memory tables, so the integrated tables after every step are
known exactly and the oracle can recompute each view from scratch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge vector "
    "order line table data agg value key stream window spark a part group big "
    "sort query fast the"
).split()
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "es", "zh", "de", "fr")
DIM = 64
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated data set; ``Scale.sf`` matches the
    row counts of the engine's test data at that scale factor."""

    orders: int
    customers: int
    parts: int
    suppliers: int
    events: int
    documents: int
    embeddings: int

    @staticmethod
    def sf(sf: float) -> "Scale":
        return Scale(
            orders=int(1_500_000 * sf),
            customers=int(150_000 * sf),
            parts=int(200_000 * sf),
            suppliers=max(int(10_000 * sf), 25),
            events=int(1_000_000 * sf),
            documents=int(50_000 * sf),
            embeddings=max(int(20_000 * sf), 500),
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def make_lineitem(rng: np.random.Generator, orderkeys: np.ndarray, orderdates_us: np.ndarray,
                  n_parts: int, n_suppliers: int, first_line: np.ndarray | None = None) -> dict:
    """Lineitem columns for the given order keys (one row per entry).

    ``first_line`` gives, per row, the line number to continue from so
    ``(l_orderkey, l_linenumber)`` stays unique when rows are added to
    orders that already have lines."""
    n = len(orderkeys)
    order = np.argsort(orderkeys, kind="stable")
    sorted_keys = orderkeys[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    rank = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    linenumber = np.empty(n, dtype=np.int32)
    linenumber[order] = rank + 1
    if first_line is not None:
        linenumber += first_line.astype(np.int32)
    ship = orderdates_us + rng.integers(1, 122, n) * _DAY_US
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": ship,
    }


LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


def lineitem_table(cols: dict) -> pa.Table:
    arrays = [
        _ts(cols[f.name]) if f.name == "l_shipdate" else pa.array(cols[f.name], type=f.type)
        for f in LINEITEM_SCHEMA
    ]
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word texts; every 20th doc (after the first 20) copies an
    earlier one plus a ``dup`` token, so dedup queries find pairs."""
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    texts = _doc_texts(rng, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    lang = np.array(LANGS)[np.minimum(rng.integers(0, 7, n) - 2, 4).clip(0)]
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _unit_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, len(centers), n).astype(np.int32)
    v = 0.14 * centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def _centers(seed: int) -> np.ndarray:
    """The ten cluster directions, shared by the corpus and its deltas."""
    c = np.random.default_rng([seed, 3]).normal(0.0, 1.0, (10, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _embeddings(vecs: np.ndarray, labels: np.ndarray, first_id: int = 0) -> pa.Table:
    n = len(vecs)
    return pa.table(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def generate(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write the ten source tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_nat = 25
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
    }))
    c = scale.customers
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, n_nat, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(np.array(SEGMENTS), c),
    }))
    s = scale.suppliers
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, n_nat, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }))
    p = scale.parts
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]), p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    }))
    o = scale.orders
    odate = _EPOCH_1995 + rng.integers(0, 2404, o) * _DAY_US  # through 2001-08-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(np.array(PRIORITIES), o),
    }))
    lk = rng.integers(0, o, 4 * o)
    _write(out_dir, "lineitem", lineitem_table(make_lineitem(rng, lk, odate[lk], p, s)))
    e = scale.events
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, e))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, c, e).astype(np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES), e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }))
    _write(out_dir, "documents", _documents(rng, scale.documents))
    vecs, labels = _unit_vectors(rng, _centers(seed), scale.embeddings)
    _write(out_dir, "embeddings", _embeddings(vecs, labels))
    return {"orders": o, "lineitem": 4 * o, "customer": c, "events": e,
            "documents": scale.documents, "embeddings": scale.embeddings}


# ---- signed deltas -----------------------------------------------------


class LineitemDeltas:
    """Signed lineitem deltas, made one at a time from a seed.

    Each delta touches ``size`` rows and mixes inserts of new lines,
    deletes of live lines and updates (retract a live line, insert it
    with a new quantity and price), so it carries both weights in a
    ``__weight`` column. Rows are planned against the integrated table,
    so no delta deletes a row twice, and :meth:`live` gives the
    integrated table after the deltas made so far. The same seed and
    the same sequence of sizes give the same deltas."""

    def __init__(self, seed: int, base: pa.Table, orders: pa.Table, n_parts: int,
                 n_suppliers: int):
        self.rng = np.random.default_rng([seed, 1])
        self.n_parts, self.n_suppliers = n_parts, n_suppliers
        self.rows = {name: list(col) for name, col in base.to_pydict().items()}
        self.alive = np.ones(base.num_rows, dtype=bool)
        self.next_line: dict[int, int] = {}
        for ok, ln in zip(self.rows["l_orderkey"], self.rows["l_linenumber"]):
            self.next_line[ok] = max(self.next_line.get(ok, 0), ln)
        self.odate_us = orders.column("o_orderdate").cast(pa.int64()).to_numpy()

    def next(self, size: int) -> pa.Table:
        rng, rows = self.rng, self.rows
        n_ins, n_del = size // 2, size // 4
        n_upd = size - n_ins - n_del
        picked = rng.choice(np.flatnonzero(self.alive), n_del + n_upd, replace=False)
        upd = picked[n_del:]
        self.alive[picked] = False
        old = {name: [rows[name][i] for i in picked] for name in rows}
        # updated lines keep their keys; quantity and price change
        new_upd = {name: [rows[name][i] for i in upd] for name in rows}
        new_upd["l_quantity"] = list(rng.integers(1, 51, n_upd).astype(np.float64))
        new_upd["l_extendedprice"] = list(_money(rng, 900.0, 105_000.0, n_upd))
        ok = rng.integers(0, len(self.odate_us), n_ins)
        first = np.array([self.next_line.get(int(x), 0) for x in ok])
        ins = make_lineitem(rng, ok, self.odate_us[ok], self.n_parts, self.n_suppliers,
                            first_line=first)
        ins["l_shipdate"] = list(ins["l_shipdate"].astype("datetime64[us]").tolist())
        for x, ln in zip(ins["l_orderkey"], ins["l_linenumber"]):
            self.next_line[int(x)] = max(self.next_line.get(int(x), 0), int(ln))
        plus = {name: list(new_upd[name]) + list(ins[name]) for name in rows}
        for name in rows:
            rows[name].extend(plus[name])
        n_plus = n_upd + n_ins
        self.alive = np.r_[self.alive, np.ones(n_plus, dtype=bool)]
        t = pa.Table.from_pydict({name: old[name] + plus[name] for name in rows},
                                 schema=LINEITEM_SCHEMA)
        w = np.r_[-np.ones(len(picked), dtype=np.int64), np.ones(n_plus, dtype=np.int64)]
        return t.append_column("__weight", pa.array(w))

    def live(self) -> pa.Table:
        keep = np.flatnonzero(self.alive)
        return pa.Table.from_pydict(
            {name: [col[i] for i in keep] for name, col in self.rows.items()},
            schema=LINEITEM_SCHEMA,
        )


@dataclass(frozen=True)
class Round:
    """One round of the delta-state loop: ids are disjoint from the
    corpus built so far, except ``deleted``/``updated`` which are live."""

    new_docs: pa.Table
    deleted_docs: list[int]
    updated_docs: pa.Table
    new_vecs: pa.Table
    deleted_vecs: list[int]


def corpus_rounds(seed: int, n_docs: int, n_vecs: int, k: int, docs_per_round: int,
                  vecs_per_round: int) -> list[Round]:
    """K rounds of signed changes to the standing corpus of
    ``n_docs`` documents and ``n_vecs`` embeddings (ids 0..n-1)."""
    rng = np.random.default_rng([seed, 2])
    centers = _centers(seed)
    live_docs = list(range(n_docs))
    live_vecs = list(range(n_vecs))
    next_doc, next_vec = n_docs, n_vecs
    rounds = []
    for _ in range(k):
        new_docs = _documents(rng, docs_per_round, first_id=next_doc)
        next_doc += docs_per_round
        picked = rng.choice(len(live_docs), 2 * (docs_per_round // 4), replace=False)
        ids = [live_docs[i] for i in picked]
        deleted, updated = ids[: len(ids) // 2], ids[len(ids) // 2:]
        upd = _documents(rng, len(updated)).to_pydict()
        upd["doc_id"] = updated
        updated_docs = pa.table({"doc_id": pa.array(updated, pa.int64()), "text": upd["text"]})
        gone = set(deleted)
        live_docs = [d for d in live_docs if d not in gone] + new_docs.column("doc_id").to_pylist()
        vecs, labels = _unit_vectors(rng, centers, vecs_per_round)
        new_vecs = _embeddings(vecs, labels, first_id=next_vec)
        next_vec += vecs_per_round
        vpick = rng.choice(len(live_vecs), vecs_per_round // 2, replace=False)
        deleted_vecs = sorted(live_vecs[i] for i in vpick)
        vgone = set(deleted_vecs)
        live_vecs = [v for v in live_vecs if v not in vgone] + new_vecs.column("vec_id").to_pylist()
        rounds.append(Round(new_docs.select(["doc_id", "text"]), sorted(deleted), updated_docs,
                            new_vecs.select(["vec_id", "embedding"]), deleted_vecs))
    return rounds
