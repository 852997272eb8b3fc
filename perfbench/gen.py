"""Seeded input generators for the benchmark.

Two inputs, both written as parquet with a fixed writer configuration so the
same arguments always give byte-identical files:

* ``fixture``: the star-schema tables the relational queries read (region,
  nation, customer, supplier, part, orders, lineitem, events), one file each,
  with the schema and value domains of the engine's test tables.
* ``corpus``: a ``documents``-schema text corpus for the MapReduce workload,
  split over several files so every scan has one split per core. Token ranks
  follow a Zipf law over a generated vocabulary.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WRITE_OPTS = dict(compression="snappy", use_dictionary=True,
                  write_statistics=True, store_schema=False)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "large", "small", "red"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve",
             "screw", "nut", "pipe", "cog", "rod", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, **WRITE_OPTS)
    os.replace(tmp, path)


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days_us(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def fixture_tables(sf: float, seed: int) -> dict:
    """The relational tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    rng = np.random.Generator(np.random.PCG64(seed % 2**64))
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    users = max(int(15000 * sf), 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_us(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days_us(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def write_fixture(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(sf, seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def vocabulary(rng, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 2-10 letters."""
    words, seen = [], set()
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 11, n)
        letters = LETTERS[rng.integers(0, 26, int(lens.sum()))]
        pos = 0
        for ln in lens:
            w = "".join(letters[pos:pos + ln])
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words)


def corpus_tables(seed: int, docs: int, vocab: int, zipf_s: float,
                  files: int) -> tuple:
    """The corpus as ``files`` tables plus its size statistics."""
    rng = np.random.Generator(np.random.PCG64(seed % 2**64))
    words = vocabulary(rng, vocab)
    weights = np.arange(1, vocab + 1, dtype=np.float64) ** -zipf_s
    cdf = np.cumsum(weights / weights.sum())
    lengths = rng.integers(20, 100, docs)
    ranks = np.searchsorted(cdf, rng.random(int(lengths.sum())), side="right")
    ranks = np.minimum(ranks, vocab - 1)
    tokens = words[ranks]
    ends = np.cumsum(lengths)
    texts = [" ".join(tokens[e - n:e]) for e, n in zip(ends, lengths)]
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), docs)]
    source = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, docs)]
    n_chars = np.fromiter((len(x) for x in texts), np.int64, docs)
    counts = np.bincount(ranks, minlength=vocab)
    stats = {
        "docs": docs,
        "tokens": int(lengths.sum()),
        "text_bytes": int(n_chars.sum()),
        "vocab": vocab,
        "distinct_words": int((counts > 0).sum()),
        "zipf_s": zipf_s,
        # share of all tokens taken by the most frequent word
        "top_word_share": round(float(counts.max()) / float(lengths.sum()), 6),
        "files": files,
    }
    bounds = np.linspace(0, docs, files + 1).astype(int)
    parts = [pa.table({
        "doc_id": pa.array(np.arange(lo, hi), pa.int64()),
        "text": texts[lo:hi],
        "lang": lang[lo:hi],
        "source": source[lo:hi],
        "n_chars": pa.array(n_chars[lo:hi], pa.int64())})
        for lo, hi in zip(bounds[:-1], bounds[1:])]
    return parts, stats


def write_corpus(out_dir: str, seed: int, docs: int, vocab: int,
                 zipf_s: float, files: int) -> dict:
    """Writes ``documents.parquet/part-NNNNN.parquet`` under ``out_dir``."""
    parts, stats = corpus_tables(seed, docs, vocab, zipf_s, files)
    ddir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(ddir, exist_ok=True)
    for i, table in enumerate(parts):
        _write(table, os.path.join(ddir, f"part-{i:05d}.parquet"))
    return stats
