"""Seeded input generator for the benchmark.

Writes the ten fixture tables (``region`` … ``embeddings``) at ``k`` times
the sf0.1 row counts, and the ``redact`` batch of customer-shaped PII files.
Schemas and value domains follow FIXTURES.md; every value is drawn from a
``numpy`` PCG64 stream seeded by ``--seed``, so the same seed writes
byte-identical files and another seed writes other files.  Keys are dense
``0..n-1`` per table and every foreign key is drawn inside its parent's key
range, so joins stay consistent at any ``k``.  Rows are written in a seeded
shuffled order (``events`` stays in event-time order, as the fixture does),
and large tables are cut into several row groups so a scan can split.

Nothing here imports Spark or the package under test.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_ROWS = {  # sf0.1 row counts (FIXTURES.md)
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
ROW_GROUPS = 16  # per table above SPLIT_ROWS rows
SPLIT_ROWS = 100_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "batch sort value hash filter big data dup query row stream the spark "
    "line small fast group customer part column order scan a slow agg key "
    "window table merge vector join"
).split()
STREETS = ["Oak", "Elm", "Main", "Pine", "Lake", "Hill", "Park", "Mill"]
FIRST = ["ann", "bob", "cy", "dee", "eli", "fay", "gus", "hal", "ida", "jo"]
DOMAINS = ["example.com", "mail.test", "corp.invalid", "post.example"]

# the redact batch: many ~1 MB single-row-group files, a few large
# many-row-group files, and a seeded choice of small files whose columns
# are upper-cased
REDACT_SMALL = (6, 12_000)  # files, rows
REDACT_LARGE = (2, 300_000, 8)  # files, rows, row groups
REDACT_UPPER = 2  # files written with upper-cased column names


def _day_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, lo: tuple, hi: tuple, n: int) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi] (inclusive days)."""
    a, b = _day_us(*lo), _day_us(*hi)
    day = 86_400_000_000
    return pa.array(a + rng.integers(0, (b - a) // day + 1, n) * day, pa.timestamp("us"))


def _pick(rng, words: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.choice(len(words), n, p=p)], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _num_str(values, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(values), pa.string())
    return pc.utf8_lpad(s, width, "0") if width else s


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _sentences(rng, n: int, lo: int, hi: int, vocab: list[str]) -> pa.Array:
    """``n`` strings of lo..hi words drawn from ``vocab``."""
    lens = rng.integers(lo, hi + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    words = pa.array(vocab, pa.string()).take(pa.array(rng.integers(0, len(vocab), offsets[-1])))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), words), " ")


def _rows(table: str, k: float) -> int:
    return max(1, int(round(BASE_ROWS[table] * k)))


def _write(tbl: pa.Table, path: str, rng=None, row_groups: int | None = None) -> None:
    if rng is not None:
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
    if row_groups is None:
        row_groups = ROW_GROUPS if tbl.num_rows > SPLIT_ROWS else 1
    pq.write_table(tbl, path, row_group_size=-(-tbl.num_rows // row_groups))


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten label centroids; ~2 % are perturbed copies
    of another vector, so the near-duplicate ops have work to find."""
    dim = 64
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, dim))
    vec = centroids[labels] + rng.normal(0, 1.2, (n, dim))
    dup = rng.random(n) < 0.02
    src = rng.integers(0, n, n)
    vec[dup] = vec[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), dim))
    labels[dup] = labels[src[dup]]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel(), pa.float32()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _documents(rng, n: int) -> pa.Table:
    """Word-salad texts; a few exact duplicates and one-word near-duplicates."""
    text = _sentences(rng, n, 10, 100, VOCAB).to_numpy(zero_copy_only=False).astype(object)
    idx = rng.permutation(n)
    n_exact, n_near = max(1, n // 600), max(1, n // 100)
    for a, b in zip(idx[:n_exact], idx[n_exact:2 * n_exact]):
        text[b] = text[a]
    for a, b in zip(idx[2 * n_exact:2 * n_exact + n_near], idx[2 * n_exact + n_near:2 * (n_exact + n_near)]):
        words = text[a].split(" ")
        words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        text[b] = " ".join(words)
    text = pa.array(text, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": _join("src", _num_str(rng.integers(0, 20, n))),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def write_tables(out: str, seed: int, k: float) -> None:
    """The ten fixture tables at ``k`` × sf0.1 under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {t: _rows(t, k) for t in BASE_ROWS}
    users = max(1, int(round(EVENT_USERS * k)))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    c = n["customer"]
    ck = np.arange(c)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _join("Customer#", _num_str(ck, 9)),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    }), f"{out}/customer.parquet", rng)

    s = n["supplier"]
    sk = np.arange(s)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _join("Supplier#", _num_str(sk, 9)),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), f"{out}/supplier.parquet", rng)

    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _join(_pick(rng, COLORS, p), " ", _pick(rng, NOUNS, p)),
        "p_brand": _join("Brand#", _num_str(rng.integers(1, 26, p))),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, p) / 10.0, 1),
    }), f"{out}/part.parquet", rng)

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    }), f"{out}/orders.parquet", rng)

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), li),
    }), f"{out}/lineitem.parquet", rng)

    e = n["events"]
    t0, span = _day_us(2024, 1, 1), 30 * 86_400_000_000
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, e)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": _join('{"k": ', _num_str(rng.integers(0, 100, e)), "}"),
    }), f"{out}/events.parquet")

    _write(_documents(rng, n["documents"]), f"{out}/documents.parquet", rng)
    _write(_embeddings(rng, n["embeddings"]), f"{out}/embeddings.parquet", rng)


def _pii_table(rng, n: int, key0: int) -> pa.Table:
    keys = np.arange(key0, key0 + n)
    first = _pick(rng, FIRST, n)
    num = _num_str(rng.integers(0, 10_000, n))
    phone = [_num_str(rng.integers(lo, hi, n)) for lo, hi in ((10, 35), (100, 1000), (100, 1000), (1000, 10_000))]
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": _join("Customer#", _num_str(keys, 9)),
        "c_address": _join(_num_str(rng.integers(1, 9999, n)), " ", _pick(rng, STREETS, n), " St"),
        "c_phone": pc.binary_join_element_wise(*phone, "-"),
        "c_email": _join(first, ".", num, "@", _pick(rng, DOMAINS, n)),
        "c_comment": _join(_sentences(rng, n, 4, 12, VOCAB), " ref ", _num_str(rng.integers(0, 10**6, n))),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def write_redact_batch(out: str, seed: int) -> list[str]:
    """The redact batch under ``out``; returns the file paths in call order.

    The order of small and large files is fixed and the upper-cased files
    are drawn among the small ones, so every seed gives the same amount of
    work; the seed picks the contents and which small files are
    upper-cased."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_small, n_large = REDACT_SMALL[0], REDACT_LARGE[0]
    every = (n_small + n_large) // n_large  # one large file closes each run of small ones
    large = {i for i in range(n_small + n_large) if i % every == every - 1}
    small = sorted(set(range(n_small + n_large)) - large)
    upper = set(rng.choice(small, REDACT_UPPER, replace=False).tolist())
    paths, key0 = [], 0
    for i in range(n_small + n_large):
        rows, groups = REDACT_LARGE[1:] if i in large else (REDACT_SMALL[1], 1)
        tbl = _pii_table(rng, rows, key0)
        key0 += rows
        if i in upper:
            tbl = tbl.rename_columns([c.upper() for c in tbl.column_names])
        path = f"{out}/pii_{i:02d}.parquet"
        _write(tbl, path, row_groups=groups)
        paths.append(path)
    return paths

