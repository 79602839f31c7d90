"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files. Nothing imports adam_spark; the program under test
only ever sees the files written here.

- ``write_tables`` writes the ten contract tables (TPC-H-like star
  schema, an ``events`` stream, ``documents`` with planted near-copies,
  unit-norm ``embeddings``) in the schema ``__spark_entry__`` queries
  read, at a given scale factor.
- ``write_sam`` writes a coordinate-unsorted paired-end SAM file with a
  known number of planted duplicate pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMB_DIM = 64


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random 10-99 word texts over a small vocabulary; about 5% are an
    earlier text with `` dup`` appended, so dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the contract tables at scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_embs = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    l_num = (np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    perm = rng.permutation(n_lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order[perm],
        "l_partkey": rng.integers(0, n_part, n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines, dtype=np.int64),
        "l_linenumber": l_num[perm],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(_EPOCH_1995 + (order_days[l_order[perm]] + rng.integers(1, 122, n_lines)) * _US_PER_DAY),
    })
    gaps = rng.integers(1, 2 * 30 * _US_PER_DAY // n_events, n_events)
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_embs, _EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_embs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_embs, dtype=np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_orders,
        "lineitem": n_lines, "events": n_events, "documents": n_docs, "embeddings": n_embs,
    }


def write_sam(path: str, seed: int, pairs: int, dup_pairs: int,
              read_len: int = 100) -> dict[str, int]:
    """Write ``pairs`` properly paired, fully matched read pairs plus
    ``dup_pairs`` lower-quality copies of randomly chosen pairs. Every
    original pair starts at a distinct position, so the duplicate reads
    a correct duplicate marker finds are exactly ``2 * dup_pairs``."""
    rng = np.random.default_rng(seed)
    contigs = [(f"chr{i}", 5_000_000) for i in range(1, 5)]
    slots = rng.choice(len(contigs) * 5_000_000 // 10 - 200, pairs, replace=False) * 10
    ref_idx = slots // 5_000_000
    pos1 = slots % 5_000_000 + 1
    insert = rng.integers(2 * read_len, 5 * read_len, pairs)
    pos2 = pos1 + insert - read_len
    copies = rng.choice(pairs, dup_pairs, replace=False)
    rows = [(i, f"p{i:08d}", "I") for i in range(pairs)]
    rows += [(int(c), f"d{k:08d}", "5") for k, c in enumerate(copies)]
    order = rng.permutation(len(rows))
    seqs = np.frombuffer(b"ACGT", dtype=np.uint8)[rng.integers(0, 4, (2 * len(rows), read_len))]
    seqs = seqs.view(f"S{read_len}").ravel()
    cigar = f"{read_len}M"
    start_sum = 0
    with open(path, "w") as out:
        out.write("@HD\tVN:1.6\tSO:unsorted\n")
        for name, length in contigs:
            out.write(f"@SQ\tSN:{name}\tLN:{length}\n")
        out.write("@RG\tID:rg1\tSM:sample1\tLB:lib1\tPL:ILLUMINA\n")
        for k, j in enumerate(order):
            i, qname, qchar = rows[j]
            ref = contigs[ref_idx[i]][0]
            qual = qchar * read_len
            p1, p2, tlen = int(pos1[i]), int(pos2[i]), int(insert[i])
            start_sum += p1 + p2 - 2
            s1, s2 = seqs[2 * k].decode(), seqs[2 * k + 1].decode()
            out.write(f"{qname}\t99\t{ref}\t{p1}\t60\t{cigar}\t=\t{p2}\t{tlen}\t{s1}\t{qual}\tRG:Z:rg1\n")
            out.write(f"{qname}\t147\t{ref}\t{p2}\t60\t{cigar}\t=\t{p1}\t{-tlen}\t{s2}\t{qual}\tRG:Z:rg1\n")
    return {"reads": 2 * len(rows), "names": len(rows), "start_sum": start_sum,
            "duplicates": 2 * dup_pairs}
