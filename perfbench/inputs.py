"""Seeded benchmark inputs, generated once per (seed, scale) and cached.

Two kinds of input:

* ``tables``: the ten fixture tables the query registry reads
  (``catalog.TABLES``). A base copy is generated once per scale factor with
  the fixture schema, the fixture row counts and the fixture value
  distributions (uniform keys, a 30-word document vocabulary, 64-d unit
  embeddings, 30 days of events). Each seed gets a row permutation of every
  base table, written with the same schema and one row group per file, so
  scans get the same task counts and ``catalog.spread`` makes the same
  decisions as on the base copy.
* ``corpus``: the ``run_job`` WordCount input, Zipf-distributed words that
  start with a-z, plus a locality file with one line per map chunk.

Everything is written under the cache directory, then renamed into place,
so an interrupted generation never leaves a half-written input behind.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import TABLES

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_TS = pa.timestamp("us")


def row_counts(sf: float) -> dict[str, int]:
    """Fixture row counts at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: dt.date, ndays: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, ndays, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, _TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


#: Seed of the base tables; run seeds only permute their rows.
BASE_SEED = 0


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every fixture table for one seed; pure function of its args."""
    rng = np.random.default_rng([seed, 1])
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    keys = np.arange(np_)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + 0.1 * (keys % 1000), 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, no),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, nl),
    })
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), ne), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # a few exact duplicates (the fixture has 8 pairs per 5000 documents)
    for _ in range(max(1, nd // 625)):
        a, b = rng.choice(nd, 2, replace=False)
        texts[b] = texts[a]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return out


#: Seeded copies kept per kind; older ones are removed so that many seeds
#: do not fill the disk.
KEEP_SEEDS = 8


def _publish(tmp: str, final: str) -> str:
    if os.path.isdir(final):  # a concurrent run got there first
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    if "-seed" in final:
        cache, kind = os.path.split(final.rsplit("-seed", 1)[0] + "-seed")
        old = sorted(
            (os.path.join(cache, d) for d in os.listdir(cache)
             if d.startswith(kind) and ".tmp" not in d),
            key=os.path.getmtime,
        )
        for path in old[:-KEEP_SEEDS]:
            if path != final:
                shutil.rmtree(path, ignore_errors=True)
    return final


def _write(tmp: str, name: str, tbl: pa.Table) -> pq.FileMetaData:
    path = os.path.join(tmp, f"{name}.parquet")
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
    return pq.ParquetFile(path).metadata


def base_dir(cache: str, sf: float) -> str:
    """Directory holding the base ``<table>.parquet`` files at ``sf``."""
    final = os.path.join(cache, f"tables-sf{sf:g}-base")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    expected = row_counts(sf)
    for name, tbl in make_tables(BASE_SEED, sf).items():
        meta = _write(tmp, name, tbl)
        if meta.num_row_groups != 1 or meta.num_rows != expected[name]:
            raise RuntimeError(
                f"{name}: {meta.num_rows} rows in {meta.num_row_groups} row "
                f"groups, want {expected[name]} rows in 1"
            )
    return _publish(tmp, final)


def permuted_dir(cache: str, seed: int, sf: float) -> str:
    """Directory holding a seeded row permutation of every base table."""
    base = base_dir(cache, sf)
    final = os.path.join(cache, f"tables-sf{sf:g}-seed{seed}")
    if os.path.isdir(final):
        return final
    rng = np.random.default_rng([seed, 3])
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name in TABLES:
        src = pq.ParquetFile(os.path.join(base, f"{name}.parquet"))
        tbl = src.read()
        meta = _write(tmp, name, tbl.take(rng.permutation(tbl.num_rows)))
        if (
            meta.num_row_groups != src.metadata.num_row_groups
            or meta.num_rows != src.metadata.num_rows
            or not meta.schema.to_arrow_schema().equals(src.schema_arrow)
        ):
            raise RuntimeError(f"{name}: permuted copy differs from the base in schema or layout")
    return _publish(tmp, final)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words, first letters spread over a-z."""
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < size:
        lens = rng.integers(2, 10, size)
        for k in lens:
            words.add("".join(rng.choice(letters, k)))
            if len(words) == size:
                break
    out = sorted(words)
    rng.shuffle(out)  # popularity rank is independent of spelling
    return out


def corpus_dir(
    cache: str, seed: int, lines: int, tokens: int, vocab: int, chunk_size: int
) -> str:
    """Directory with ``corpus.txt`` and ``locality.txt`` for ``run_job``.

    Each line holds ``tokens`` Zipf(1.2)-ranked words; half the lines end
    with a space, so the reference's fused-line quirk changes some words.
    """
    final = os.path.join(
        cache, f"corpus-{lines}x{tokens}-v{vocab}-c{chunk_size}-seed{seed}"
    )
    if os.path.isdir(final):
        return final
    rng = np.random.default_rng([seed, 2])
    words = np.array(_vocabulary(rng, vocab))
    p = 1.0 / np.arange(1, vocab + 1) ** 1.2
    ids = rng.choice(vocab, size=(lines, tokens), p=p / p.sum())
    trail = rng.random(lines) < 0.5
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(tmp, "corpus.txt"), "w") as f:
        for row, t in zip(words[ids], trail):
            f.write(" ".join(row) + (" \n" if t else "\n"))
    nchunks = -(-lines // chunk_size)
    nodes = rng.integers(1, 9, nchunks)
    with open(os.path.join(tmp, "locality.txt"), "w") as f:
        f.writelines(f"{c + 1} {k}\n" for c, k in enumerate(nodes))
    return _publish(tmp, final)
