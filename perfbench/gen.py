"""Seeded input generation.

Every table is a pure function of ``(seed, table, size knobs)``: numpy's PCG64
streams are spawned per table from one ``SeedSequence``, and the parquet files
are written by pyarrow with fixed writer settings, so the same seed gives
byte-identical files. Schemas, timestamp units and value ranges follow the
repository's TPC-H-ish fixtures (FIXTURES.md), so every registry query used by
the benchmark runs unchanged on them. The tables are generated rather than
read from a fixture directory because the benchmark reads nothing outside
its checkout, and because etl_jobs needs shorter date spans than the
fixtures have.

The LLM corpus follows the "realistic" replica construction of
``tools_scale_probe.build_realistic`` / ``build_realistic_embeddings``:
replica ``r > 0`` of the base corpus overwrites every word at position
``i = r (mod 3)`` with a replica filler token (so replicas share no word
3-gram), ~1% of each replica's documents are planted near-duplicates of a
seed-chosen partner in the same replica, and each embedding replica applies a
seed-chosen +-1 sign pattern (an orthogonal reflection).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key lake "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
TAIL = " planted tail qq{r} ww ee"

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _day_ts(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return pa.array(_us(start) + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def write_tpch(out: Path, seed: int, sf: float, order_days: int = 2405,
               ship_days: int = 2498) -> dict[str, int]:
    """region/nation/customer/supplier/part/orders/lineitem/events at scale
    ``sf`` (sf=0.1 matches the fixture's row counts). ``order_days`` and
    ``ship_days`` are the spans of ``o_orderdate`` and ``l_shipdate``, which
    set the partition counts of per-day and per-month output tables.
    Returns row counts per table."""
    out.mkdir(parents=True, exist_ok=True)
    rngs = dict(zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events"],
        (np.random.default_rng(s) for s in np.random.SeedSequence([seed, 1]).spawn(6)),
    ))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), out / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), out / "nation.parquet")

    r = rngs["customer"]
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }), out / "customer.parquet")

    r = rngs["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), out / "supplier.parquet")

    r = rngs["part"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), out / "part.parquet")

    r = rngs["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(dt.datetime(1995, 1, 1), r.integers(0, order_days, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }), out / "orders.parquet")

    r = rngs["lineitem"]
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(dt.datetime(1995, 1, 2), r.integers(0, ship_days, n_li)),
    }), out / "lineitem.parquet")

    r = rngs["events"]
    n_users = max(150, int(15_000 * sf))
    span_us = 30 * 86_400_000_000
    ts = np.sort(r.integers(0, span_us, n_ev)) + _us(dt.datetime(2024, 1, 1))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), out / "events.parquet")
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li, "events": n_ev}


def write_corpus(out: Path, seed: int, base_docs: int, base_vecs: int,
                 replicas: int = 10) -> dict[str, object]:
    """documents + embeddings at ``replicas`` x the base corpus, with ~1%
    planted near-duplicate pairs per replica. Returns row counts and the
    planted ``(doc_a, doc_b)`` pairs (``doc_a < doc_b``)."""
    out.mkdir(parents=True, exist_ok=True)
    rd, rp, re_, rs = (np.random.default_rng(s)
                       for s in np.random.SeedSequence([seed, 2]).spawn(4))
    vocab = np.array(VOCAB)
    lengths = rd.integers(10, 101, base_docs)
    base_words = [vocab[rd.integers(0, len(vocab), n)] for n in lengths]
    langs = np.array(LANGS)[rd.choice(len(LANGS), base_docs, p=LANG_P)]

    doc_id, text, lang, source, planted = [], [], [], [], []
    n_plant = max(1, base_docs // 100)
    for r in range(replicas):
        ids = [r * 1_000_000_000 + i for i in range(base_docs)]
        if r == 0:
            texts = [" ".join(w) for w in base_words]
        else:
            texts = []
            for w in base_words:
                w = w.copy()
                w[r % 3::3] = f"zz{r}"
                texts.append(" ".join(w))
        # plant: doc j becomes partner i's text + a short tail (i != j)
        picks = rp.choice(base_docs, size=2 * n_plant, replace=False)
        for j, i in zip(picks[:n_plant], picks[n_plant:]):
            texts[j] = texts[i] + TAIL.format(r=r)
            planted.append((min(ids[i], ids[j]), max(ids[i], ids[j])))
        doc_id += ids
        text += texts
        lang += list(langs)
        source += [f"src{i % 20}" for i in range(base_docs)]
    _write(pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": text,
        "lang": lang,
        "source": source,
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    }), out / "documents.parquet")

    labels = re_.integers(0, 10, base_vecs)
    centers = re_.normal(0.0, 1.0, (10, EMBED_DIM))
    base = centers[labels] + re_.normal(0.0, 0.6, (base_vecs, EMBED_DIM))
    base = (base / np.linalg.norm(base, axis=1, keepdims=True)).astype(np.float32)
    vecs, vec_ids = [], []
    for r in range(replicas):
        signs = np.ones(EMBED_DIM, np.float32) if r == 0 else rs.choice(
            np.array([-1.0, 1.0], np.float32), EMBED_DIM)
        vecs.append(base * signs)
        vec_ids.append(np.arange(base_vecs, dtype=np.int64) + r * 1_000_000_000)
    flat = np.concatenate(vecs).reshape(-1)
    _write(pa.table({
        "vec_id": np.concatenate(vec_ids),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(flat), EMBED_DIM)
                     .cast(pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, replicas), pa.int32()),
    }), out / "embeddings.parquet")
    return {"documents": len(doc_id), "embeddings": base_vecs * replicas,
            "planted": sorted(set(planted))}
