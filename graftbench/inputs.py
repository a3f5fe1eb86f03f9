"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical files, another seed writes different bytes of about the
same size. Nothing is read from outside the output directory, so the
benchmark runs from a bare checkout.

The properties that set each workload's cost are module constants, so
the numbers a run reports can be traced back to them:

* ``wordcount`` -- ``WC_TOKENS`` tokens drawn from a ``WC_VOCAB``-word
  vocabulary with Zipf exponent ``WC_ZIPF_S``, split over ``WC_FILES``
  text files. The token count sets the scan and tokenize work; the
  vocabulary size sets the rows that cross the shuffle and land in the
  parquet sink (~10^5 distinct words survive the map-side combine);
  the skew sets how much the partial aggregate absorbs.
* ``iterative`` -- the ten tables at the row counts of the engine's
  sf0.1 test data (``IT_ROWS``), with its schemas and value domains
  (see ``sources.tables.TABLES``). The queries read ``part`` (20k keys:
  the recursive CTE's frontier), ``documents`` (5k texts of 10-100
  words from the test data's 30-word vocabulary: the BPE pair counts),
  ``lineitem`` (600k rows over 150k orders and 20k parts: the PageRank
  edges), ``embeddings`` (2k 64-d vectors around 10 centroids: the
  k-means rounds) and ``events`` (100k rows over 30 days: the stream's
  files and windows). Even at these sizes per-job overhead, not scan
  size, sets most of the cost. ``DOC_DUP_SHARE`` of the documents
  belong to planted near-duplicate clusters of ``DOC_CLUSTER_SIZES``
  members (the base plus copies that each replace ``DOC_EDIT_SHARE`` of
  its words), as in the test data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WC_TOKENS = 6_000_000
WC_VOCAB = 100_000
WC_ZIPF_S = 1.1
WC_FILES = 8
WC_LINE_TOKENS = (6, 24)

DOC_DUP_SHARE = 0.10
DOC_CLUSTER_SIZES = (2, 3, 4, 5)
DOC_EDIT_SHARE = 0.04
DOC_WORDS_RANGE = (10, 100)

# Row counts of the sf0.1 test data (nation and region are fixed).
IT_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# The engine's test data draws every document word from this list.
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
EMB_LABELS = 10

_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def write_wordcount(seed: int, out_dir: str) -> str:
    """Write the Zipf text corpus as ``WC_FILES`` files; return its dir."""
    rng = np.random.default_rng([seed, 1])
    # Word length is fixed by frequency rank (4..11 letters), so the
    # bytes scanned and shuffled do not depend on which letters a seed
    # gives the most frequent words; only the letters change.
    lengths = 4 + np.arange(WC_VOCAB) % 8
    letters = rng.integers(0, 26, size=(WC_VOCAB, 11), dtype=np.uint8) + ord("a")
    words, seen = [], set()
    for row, n in zip(letters, lengths):
        word = row[:n].tobytes().decode()
        while word in seen:
            word = (rng.integers(0, 26, size=int(n), dtype=np.uint8) + ord("a")).tobytes().decode()
        seen.add(word)
        words.append(word)
    words = np.array(words, dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, WC_VOCAB + 1) ** WC_ZIPF_S)
    ranks = np.searchsorted(cdf, rng.random(WC_TOKENS) * cdf[-1])
    # Tokens interleaved with their separators: a space inside a line,
    # a full stop and newline at its end.
    line_lens = rng.integers(*WC_LINE_TOKENS, size=WC_TOKENS // WC_LINE_TOKENS[0] + 1)
    ends = np.cumsum(line_lens)
    ends = np.append(ends[ends < WC_TOKENS], WC_TOKENS)
    pieces = np.empty(2 * WC_TOKENS, dtype=object)
    pieces[0::2] = words[np.minimum(ranks, WC_VOCAB - 1)]
    pieces[1::2] = " "
    pieces[2 * ends - 1] = ".\n"
    text_dir = os.path.join(out_dir, "corpus")
    os.makedirs(text_dir, exist_ok=True)
    start = 0
    for i, lines in enumerate(np.array_split(ends, WC_FILES)):
        with open(os.path.join(text_dir, f"part-{i:03d}.txt"), "w") as f:
            f.write("".join(pieces[2 * start : 2 * lines[-1]].tolist()))
        start = lines[-1]
    return text_dir


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(DOC_WORDS, dtype=object)
    lo, hi = DOC_WORDS_RANGE
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), size=int(k))])
        for k in rng.integers(lo, hi + 1, size=n)
    ]
    # Near-duplicate clusters: the base keeps its text, every other
    # member is the base with DOC_EDIT_SHARE of its words replaced.
    n_dup = int(n * DOC_DUP_SHARE)
    ids = rng.permutation(n)
    pos = 0
    while pos < n_dup:
        size = int(rng.choice(DOC_CLUSTER_SIZES))
        members = ids[pos : pos + size]
        pos += size
        base = texts[members[0]].split(" ")
        for m in members[1:]:
            words = list(base)
            for j in rng.choice(len(words), size=max(1, int(len(words) * DOC_EDIT_SHARE)), replace=False):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts[m] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _ts(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = np.sort(rng.integers(0, days * _DAY_US, size=n))
    return pa.array(_EPOCH_US + us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2), pa.float64())


def _tables(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev, n_emb = rows["orders"], rows["lineitem"], rows["events"], rows["embeddings"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = ("large", "hot", "blue", "small", "red", "green")
    noun = ("ring", "bolt", "nut", "screw", "gear", "valve")
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(_pick(rng, adj, n_part), _pick(rng, noun, n_part))], pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)], pa.string()),
            "p_type": pa.array(_pick(rng, ("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO"), n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2), pa.float64()),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ("O", "F", "P"), n_ord), pa.string()),
            "o_totalprice": _money(rng, n_ord, 900.0, 500000.0),
            "o_orderdate": _ts(rng, n_ord, 2500),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
        }
    )
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n_li), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0, pa.float64()),
            "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ("O", "F"), n_li), pa.string()),
            "l_shipdate": _ts(rng, n_li, 2500),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(rng, n_ev, 30),
            "user_id": pa.array(rng.integers(0, max(1, n_ev // 60), size=n_ev), pa.int64()),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
            "value": _money(rng, n_ev, 0.0, 560.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)], pa.string()),
        }
    )
    t["documents"] = _documents(rng, rows["documents"])
    # Embeddings: one centroid per label plus noise, so k-means
    # assignments sit far from ties in both engines.
    labels = rng.integers(0, EMB_LABELS, size=n_emb)
    centroids = rng.normal(0.0, 0.15, size=(EMB_LABELS, EMB_DIM))
    emb = (centroids[labels] + rng.normal(0.0, 0.06, size=(n_emb, EMB_DIM))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_iterative(seed: int, out_dir: str) -> str:
    """Write all ten tables as ``<name>.parquet``; return the dir."""
    rng = np.random.default_rng([seed, 2])
    sf_dir = os.path.join(out_dir, "tables")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in _tables(rng, IT_ROWS).items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir


GENERATORS = {
    "wordcount": write_wordcount,
    "iterative": write_iterative,
}
