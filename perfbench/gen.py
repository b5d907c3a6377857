"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``celeborn_spark.catalog.TABLES``) with
the schemas the query registry and its DuckDB oracles expect: a
TPC-H-ish star schema, an ``events`` stream table, a ``documents``
corpus and an ``embeddings`` table.

Two things are kept apart on purpose:

- the *shape* of the data — row counts, group sizes, vocabulary,
  filter selectivity — comes from a fixed internal RNG and is the same
  for every benchmark seed;
- the benchmark ``seed`` changes only the bytes: a key offset on every
  surrogate key, a per-replica vocabulary permutation of the corpus
  text (same-length content words only, so token counts, character
  counts and stopword ratios are unchanged), and a per-replica signed
  permutation of the embedding dimensions (pairwise cosines unchanged).

A ``copies``-fold replica is ``copies`` disjoint populations: every
surrogate key is shifted per copy, each copy's text uses its own
vocabulary permutation (no exact duplicates across copies) and its own
embedding rotation (no near-duplicates across copies), so per-key group
sizes stay as in the base while key cardinality and row mass grow.
Dimension tables with fixed names (``region``, ``nation``) are not
replicated. The writer is pyarrow with fixed settings, so the same
arguments give identical bytes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor (sf0.01 -> lineitem 60k rows).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
USERS_PER_SF = 15_000
EMBED_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# Corpus vocabulary. Stopwords and the near-duplicate marker are never
# permuted (the quality score and language heuristic read stopword
# ratios); content words are permuted only within equal-length groups,
# so a permuted document keeps its character count.
STOPWORDS = ("the", "a")
DUP_MARKER = "dup"
CONTENT_WORDS = (
    "agg", "big", "key", "row",
    "data", "fast", "hash", "join", "line", "part", "scan", "slow", "sort",
    "batch", "group", "merge", "order", "query", "small", "spark", "table", "value",
    "column", "filter", "stream", "vector", "window",
    "customer",
)
VOCAB = CONTENT_WORDS + STOPWORDS
DUP_FRACTION = 0.05

# Every surrogate key moves by a multiple of KEY_STEP: it is divisible by
# every integer up to 16, so key parity and small-modulus buckets are the
# same for every seed and every replica copy.
KEY_STEP = 7_207_200
COPY_SHIFT = 100 * KEY_STEP
SEED_OFFSETS = 97

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# (table, column) pairs shifted by the seed and per replica copy.
KEY_COLUMNS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
REPLICATED = tuple(KEY_COLUMNS)
FIXED = ("region", "nation")


def _rng(*parts: object) -> np.random.Generator:
    digest = hashlib.sha256(repr(parts).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _rows(sf: float, table: str) -> int:
    return max(1, int(round(ROWS_PER_SF[table] * sf)))


def key_offset(seed: int) -> int:
    return (1 + seed % SEED_OFFSETS) * KEY_STEP


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The seed-independent base population at scale factor ``sf``
    (keys start at 0, text uses the identity vocabulary)."""
    n_cust, n_supp, n_part = _rows(sf, "customer"), _rows(sf, "supplier"), _rows(sf, "part")
    n_ord, n_li, n_ev = _rows(sf, "orders"), _rows(sf, "lineitem"), _rows(sf, "events")
    n_doc, n_vec = _rows(sf, "documents"), _rows(sf, "embeddings")
    n_users = max(1, int(round(USERS_PER_SF * sf)))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    r = _rng("customer", sf)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng("supplier", sf)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng("part", sf)
    keys = np.arange(n_part)
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", (r.integers(1, 26, n_part)).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r = _rng("orders", sf)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(ORDER_STATUS)[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(r, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng("lineitem", sf)
    flag = r.integers(0, 6, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "A", "N", "N", "R", "R"))[flag],
        "l_linestatus": np.array(("F", "O", "F", "O", "F", "O"))[flag],
        "l_shipdate": _ts(_days(r, "1995-01-02", "2001-11-04", n_li)),
    })

    r = _rng("events", sf)
    gaps = r.exponential(30 * _DAY_US / n_ev, n_ev)
    ts = _EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng("documents", sf)
    docs = []
    for _ in range(n_doc):
        idx = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
        docs.append([VOCAB[i] for i in idx])
    # a fixed share of documents are near-duplicates: another document's
    # text plus a marker token (some pairs share a base, so exact
    # duplicates also occur)
    dups = r.choice(n_doc, int(n_doc * DUP_FRACTION), replace=False)
    for d in dups:
        docs[d] = docs[int(r.integers(0, n_doc))] + [DUP_MARKER]
    text = [" ".join(w) for w in docs]
    lang = np.array(("en", "en", "en", "en", "en", "en", "en", "en",
                     "de", "de", "de", "es", "es", "es", "fr", "fr", "fr",
                     "zh", "zh", "zh"))[r.integers(0, 20, n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": text,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })

    r = _rng("embeddings", sf)
    x = r.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": _vectors(x),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def _vectors(x: np.ndarray) -> pa.Array:
    n, dim = x.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1), pa.float32()))


def vocab_permutation(seed: int, copy: int) -> dict[str, str]:
    """The copy's content-word mapping: a seeded permutation inside each
    equal-length group (stopwords and the marker map to themselves)."""
    r = _rng("vocab", seed, copy)
    mapping = {w: w for w in STOPWORDS + (DUP_MARKER,)}
    by_len: dict[int, list[str]] = {}
    for w in CONTENT_WORDS:
        by_len.setdefault(len(w), []).append(w)
    for group in by_len.values():
        for src, dst in zip(group, r.permutation(group)):
            mapping[src] = str(dst)
    return mapping


def _signed_permutation(seed: int, copy: int) -> tuple[np.ndarray, np.ndarray]:
    r = _rng("embed", seed, copy)
    return r.permutation(EMBED_DIM), r.choice(np.array([-1.0, 1.0], np.float32), EMBED_DIM)


def _copy(table: str, base: pa.Table, seed: int, copy: int) -> pa.Table:
    shift = key_offset(seed) + copy * COPY_SHIFT
    cols = {name: base.column(name) for name in base.column_names}
    for c in KEY_COLUMNS[table]:
        cols[c] = pa.array(cols[c].to_numpy() + shift, pa.int64())
    if table == "documents":
        m = vocab_permutation(seed, copy)
        cols["text"] = pa.array(
            [" ".join(m[w] for w in s.split(" ")) for s in cols["text"].to_pylist()]
        )
    elif table == "embeddings":
        perm, sign = _signed_permutation(seed, copy)
        x = np.stack(cols["embedding"].to_numpy(zero_copy_only=False))
        cols["embedding"] = _vectors((x[:, perm] * sign).astype(np.float32))
    return pa.table(cols, schema=base.schema)


def seeded_tables(base: dict[str, pa.Table], seed: int, copies: int) -> dict[str, pa.Table]:
    """``copies`` disjoint seeded copies of ``base`` (``copies=1`` is the
    seeded 1x input)."""
    out = {name: base[name] for name in FIXED}
    for table in REPLICATED:
        out[table] = pa.concat_tables(
            [_copy(table, base[table], seed, i) for i in range(copies)]
        )
    docs = out["documents"].column("text")
    distinct_base = len(set(base["documents"].column("text").to_pylist()))
    if len(set(docs.to_pylist())) != copies * distinct_base:
        raise ValueError("replica copies share document text; pick another seed")
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write one parquet file per table; return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
        total += os.path.getsize(path)
    return total


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> int:
    """Generate the seeded ``copies``-fold input at base scale ``sf``
    into ``out_dir``; return the bytes written."""
    return write_tables(seeded_tables(base_tables(sf), seed, copies), out_dir)
