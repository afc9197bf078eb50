"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program is made here from a seed, so the
same seed gives the same inputs:

* ``blob_batches`` — the lake workloads' put batches, covering the three
  size tiers (raw <= 128 B, single chunk <= 1 MiB, chunk tree > 1 MiB), with a
  share of each fresh batch repeating earlier content;
* ``expected_chunk_count`` — the chunk rows a store must hold after those
  blobs are put (distinct stored contents + tree children + 1 sentinel);
* ``zipf_ranks`` — Zipf-popular key draws;
* ``write_tables`` — the analytics tables (TPC-H-like star schema, events,
  documents, embeddings) with the column types and value distributions of
  the repo's sf0.1 fixtures (FIXTURES.md), at a chosen row scale.
"""

from __future__ import annotations

import hashlib
import os
import numpy as np

RAW_MAX = 128  # store.MAX_SIZE_RAW: blobs up to here are inline hkeys
MAX_SINGLE = 1 << 20  # store.MAX_DECRYPTED_SIZE: single-chunk ceiling
TREE_CHUNK = 256 << 10  # store.TREE_CHUNK_SIZE: tree child size


# Shape of one put batch.
N_RAW = 3
N_SMALL = 20  # single-chunk, 1-64 KiB
LARGE_EVERY = 4  # one 64 KiB-1 MiB blob in every n-th batch
TREE_EVERY = 3  # one tree blob (> 1 MiB) in every n-th batch
REPEAT_SHARE = 0.3  # of each batch after the first
ZIPF_S = 0.8


def _payload(rng: np.random.Generator, size: int) -> bytes:
    return rng.integers(0, 256, size, dtype=np.uint8).tobytes()


def blob_batches(seed: int, n_batches: int) -> list[list[bytes]]:
    """``n_batches`` lists of blobs. About ``repeat_share`` of every batch
    after the first repeats content from earlier batches verbatim."""
    rng = np.random.default_rng(seed)
    seen: list[bytes] = []
    batches = []
    for b in range(n_batches):
        # tiered blobs first and 1-64 KiB ones last, so the repeats below
        # replace small blobs and every batch keeps its tree/large tiers
        fresh = []
        if b % TREE_EVERY == TREE_EVERY - 1:
            fresh.append(_payload(rng, int(rng.integers(MAX_SINGLE + 1, 2 * MAX_SINGLE))))
        if b % LARGE_EVERY == LARGE_EVERY - 1:
            fresh.append(_payload(rng, int(np.exp(rng.uniform(np.log(64 << 10), np.log(MAX_SINGLE))))))
        fresh += [_payload(rng, int(rng.integers(0, RAW_MAX + 1))) for _ in range(N_RAW)]
        # most bytes in 1-64 KiB: log-uniform sizes there
        fresh += [
            _payload(rng, int(np.exp(rng.uniform(np.log(1 << 10), np.log(64 << 10)))))
            for _ in range(N_SMALL)
        ]
        n_rep = int(round(REPEAT_SHARE * len(fresh))) if seen else 0
        reps = [seen[int(i)] for i in rng.integers(0, len(seen), n_rep)] if n_rep else []
        batch = fresh[: len(fresh) - n_rep] + reps
        order = rng.permutation(len(batch))
        batch = [batch[int(i)] for i in order]
        seen.extend(fresh[: len(fresh) - n_rep])
        batches.append(batch)
    return batches


def expected_chunk_count(blobs: list[bytes]) -> int:
    """Chunk rows a fresh store holds after ``blobs`` are put: one row per
    distinct stored content (a single-chunk blob or a tree child), plus the
    sentinel. Raw blobs store nothing. Encryption is convergent, so equal
    plaintexts give one row and distinct ones distinct rows."""
    stored: set[bytes] = set()
    for blob in blobs:
        if len(blob) <= RAW_MAX:
            continue
        if len(blob) <= MAX_SINGLE:
            stored.add(hashlib.sha256(blob).digest())
        else:
            for off in range(0, len(blob), TREE_CHUNK):
                stored.add(hashlib.sha256(blob[off : off + TREE_CHUNK]).digest())
    return len(stored) + 1


def zipf_ranks(rng: np.random.Generator, n_keys: int, n_draws: int) -> np.ndarray:
    """``n_draws`` indices into ``n_keys`` keys, Zipf(ZIPF_S)-popular by index, in
    a seeded order. Each index is drawn its Zipf share of ``n_draws``, rounded
    by largest remainder, so the counts per index are the same for every seed
    and only the order varies: a run with few draws then sees the same mix
    of popular and tail keys every time."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    want = n_draws * p / p.sum()
    counts = np.floor(want).astype(int)
    short = n_draws - counts.sum()
    counts[np.argsort(-(want - counts), kind="stable")[:short]] += 1
    return rng.permutation(np.repeat(np.arange(n_keys), counts))


# -- analytics tables ---------------------------------------------------------

# sf0.1 row counts of the repo fixtures; ``write_tables`` scales them.
SF01_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["signup", "purchase", "view", "click", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(days_from: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(days_from, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten analytics tables as ``<out_dir>/<name>.parquet``;
    returns row counts. ``scale`` multiplies the sf0.1 row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in SF01_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    tables = {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": i32(rng.integers(0, 25, c)),
            "c_acctbal": money(-999.99, 9999.99, c),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": i32(rng.integers(0, 25, s)),
            "s_acctbal": money(-999.99, 9999.99, s),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, p)],
            "p_size": i32(rng.integers(1, 51, p)),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
            "o_totalprice": money(1000.0, 500000.0, o),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o)),
            "o_orderpriority": [_PRIOS[i] for i in rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, li)),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, li)),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.integers(0, span_us, e))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, e * 15 // 1000), e).astype(np.int64),
            "event_type": [_ETYPES[i] for i in rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        r = rng.random()
        if i >= 20 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, d, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    # unclustered unit vectors, like the fixtures (label centroids ~0)
    vecs = rng.normal(0.0, 1.0, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": i32(labels),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
