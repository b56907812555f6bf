"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from ``--seed`` and written
under the run's work directory (ignored by git), never into the tracked
tree. The tables follow the schemas and value domains of the testdata
the package is built for (TESTDATA.md: a TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``), so every registry query
and its DuckDB oracle run on them unchanged. ``sf`` scales row
counts the way the testdata tiers do (sf0.1 = 600,000 line items).

:func:`write_tables` returns the sizes and stated shares of what it
made; the corpus and stream generators return their texts and planted
duplicate pairs, which the correctness checks use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]

#: Duplicate shares measured on the sf0.1 testdata ``documents``: 8 of
#: 5,000 are exact copies (same md5 of lower(trim(text))), and 236 more are
#: the later member of a word-3-shingle Jaccard >= 0.8 pair (the DuckDB
#: oracle of ``dedup_minhash_lsh``).
EXACT_SHARE, NEAR_SHARE = 8 / 5000, 236 / 5000

#: Order dates span 1995-01 .. 2001-07: 79 full months plus 2001-08-01,
#: the 80 month partitions of the sf0.1 testdata.
DAY0 = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - DAY0).astype(int)) + 1


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_text(rng: np.random.Generator, n: int) -> list[str]:
    """Random word-salad documents of 10-100 words over the testdata
    vocabulary (the quality gate scores stopword/length ratios on it)."""
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[at : at + k]))
        at += k
    return out


def plant_duplicates(
    rng: np.random.Generator, texts: list[str], exact_share: float, near_share: float
) -> tuple[list[str], list[tuple[int, int]], list[tuple[int, int]]]:
    """Overwrite a stated share of documents with copies of earlier ones:
    exact copies, and near copies (one word replaced, plus a trailing
    marker word — 3-shingle Jaccard well above the 0.8 threshold for
    documents of 40+ words). Returns the texts and the planted
    ``(source, copy)`` index pairs of each kind."""
    n = len(texts)
    texts = list(texts)
    slots = rng.permutation(np.arange(n // 2, n))
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    exact, near = [], []
    for j in slots[:n_exact]:
        i = int(rng.integers(0, n // 2))
        texts[j] = texts[i]
        exact.append((i, int(j)))
    long_src = [i for i in range(n // 2) if len(texts[i].split()) >= 40]
    for j in slots[n_exact : n_exact + n_near]:
        i = long_src[int(rng.integers(0, len(long_src)))]
        w = texts[i].split()
        w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[j] = " ".join(w) + " dup"
        near.append((i, int(j)))
    return texts, exact, near


def write_documents(path: str, texts: list[str], doc_ids: np.ndarray, rng) -> None:
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(_pick(rng, LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )


def write_embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    """Unit-norm 64-d vectors around 10 cluster centres, as in the testdata."""
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    emb = centers[labels] + rng.normal(0, 0.8, (n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """All ten testdata tables at scale ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(200, int(20_000 * sf))
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(rng, [f"{a} {b}" for a in ADJ for b in NOUN], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, N_DAYS, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(1, N_DAYS + 95, n_line))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], n_ev)})
    texts, exact, near = plant_duplicates(rng, documents_text(rng, n_doc), EXACT_SHARE,
                                          NEAR_SHARE)
    write_documents(os.path.join(out_dir, "documents.parquet"), texts, np.arange(n_doc), rng)
    write_embeddings(out_dir, rng, n_emb)
    return {
        "sf": sf, "lineitem_rows": n_line, "orders_rows": n_ord,
        "customers": n_cust, "documents": n_doc,
        "doc_exact_dup_share": len(exact) / n_doc,
        "doc_near_dup_share": len(near) / n_doc,
    }


def write_corpus(out_dir: str, seed: int, n_docs: int, exact_share: float, near_share: float) -> dict:
    """One fresh cleaning corpus (``documents`` only) with the stated
    exact- and near-duplicate shares; returns its texts and the planted
    exact pairs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts, exact, _ = plant_duplicates(
        rng, documents_text(rng, n_docs), exact_share, near_share)
    write_documents(os.path.join(out_dir, "documents.parquet"), texts, np.arange(n_docs), rng)
    return {"exact_pairs": exact, "texts": texts}


def stream_delivery(out_dir: str, seed: int, n_batches: int, batch_docs: int, first_id: int) -> dict:
    """A delivery of ``n_batches`` parquet files of fresh documents (one
    micro-batch each under ``maxFilesPerTrigger=1``), doc ids starting at
    ``first_id`` so they never collide with the seeded corpus."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts, _, _ = plant_duplicates(rng, documents_text(rng, n_batches * batch_docs),
                                  EXACT_SHARE, NEAR_SHARE)
    ids = np.arange(first_id, first_id + len(texts))
    for b in range(n_batches):
        sub = slice(b * batch_docs, (b + 1) * batch_docs)
        write_documents(os.path.join(out_dir, f"batch-{b:05d}.parquet"),
                        texts[sub], ids[sub], rng)
    return {"texts": texts, "ids": ids}


def lake_ops(seed: int, kinds: tuple[str, ...], months: list[str],
             multi_writes: int, span: int, recent_months: int) -> list[dict]:
    """A seeded pass of table operations in the given order. Inserts and
    single-partition upserts/deletes pick one of the ``recent_months``
    newest months (the recency skew); a seeded ``multi_writes`` of the
    upserts and deletes instead touch ``span`` months drawn from the
    whole table, each of which is a copy-on-write rewrite; optimize
    compacts the recent months."""
    rng = np.random.default_rng(seed)
    writes = [i for i, k in enumerate(kinds) if k in ("upsert", "delete_where")]
    multi = set(rng.choice(writes, size=multi_writes, replace=False).tolist())
    recent = months[-recent_months:]
    ops = []
    for i, kind in enumerate(kinds):
        op = {"kind": kind, "seed": int(rng.integers(0, 2**31)), "multi": i in multi}
        if op["multi"]:
            op["months"] = sorted(rng.choice(months, size=span, replace=False).tolist())
        elif kind == "optimize":
            op["months"] = list(recent)
        else:
            op["months"] = [recent[int(rng.integers(0, len(recent)))]]
        ops.append(op)
    return ops


def month_list() -> list[str]:
    """The 80 order-date months, 1995-01 .. 2001-08."""
    return [f"{1995 + m // 12}-{m % 12 + 1:02d}" for m in range(80)]
