"""Seeded input generation for the graft benchmark.

Every input the engine sees in a benchmark run is written here from the
run's seed: the same seed gives byte-identical files (see
tests/test_gendata.py).

- `mr_input`: text files for the MapReduce job workload, drawn line by
  line from the in-repo reference corpus (src/test/resources/refcorpus/
  input_large).
- `tables`: the ten analytics tables (TPC-H-ish star schema, events,
  documents, embeddings) for the query suite, with the column laws of
  the repository's test data (tools/gen_sf.py documents them; this is a
  compact copy so the benchmark does not depend on a probe tool).
- `corpus`: documents and embeddings only, for the ingest workload's
  base index.

Usage: python3 gendata.py {mr_input|tables|corpus} <outDir> <seed> [size]
"""
import json
import os
import sys
import textwrap

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
ADJ = ["small", "large", "hot", "cold", "red", "new", "blue", "old"]
NOUN = ["widget", "gizmo", "ring", "gear", "anvil", "bolt", "plate", "rod"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])

DAY_MS = 86400000
ORDER_EPOCH_LO = 788918400000   # 1995-01-01 UTC ms
ORDER_EPOCH_HI = 996624000000   # 2001-08-01 UTC ms
EVENT_EPOCH_LO = 1704067200000000000  # 2024-01-01 UTC ns
EVENT_SPAN_NS = 30 * 86400 * 10**9    # 30 days

REFCORPUS = os.path.join("src", "test", "resources", "refcorpus", "input_large")
MAX_LINE = 1000


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def corpus_lines(corpus_dir=REFCORPUS, width=MAX_LINE):
    """The reference corpus as lines, with the few very long ones (one is
    294 KB) wrapped at blanks into lines of at most `width` characters,
    so one draw cannot make a seed's input much larger than another's."""
    lines = []
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name), encoding="utf-8") as f:
            for line in f.read().split("\n"):
                lines.extend(textwrap.wrap(line, width) if len(line) > width else [line])
    return lines


def mr_input(out, seed, total_bytes, n_files=4):
    """`n_files` text files of `total_bytes` in all (to within a line),
    each a seeded draw, with replacement, of whole corpus lines."""
    lines = corpus_lines()
    rng = np.random.RandomState(seed)
    per_file = total_bytes // n_files
    for i in range(n_files):
        chunk, size = [], 0
        while size < per_file:
            line = lines[rng.randint(0, len(lines))]
            chunk.append(line)
            size += len(line) + 1
        with open(os.path.join(out, f"file{i + 1:02d}"), "w", encoding="utf-8") as f:
            f.write("\n".join(chunk) + "\n")


def _documents(rng, n_doc):
    texts, lang, src = [], [], []
    for i in range(n_doc):
        r = rng.rand()
        if i > 10 and r < 0.0016:            # exact copy, metadata re-rolled
            words = texts[rng.randint(0, i)].split(" ")
        elif i > 10 and r < 0.05:            # near-dup: 1-2 word mutations
            words = texts[rng.randint(0, i)].split(" ")
            for _ in range(rng.randint(1, 3)):
                words[rng.randint(0, len(words))] = VOCAB[rng.randint(0, 31)]
        else:
            words = [VOCAB[w] for w in rng.randint(0, 31, rng.randint(10, 101))]
        texts.append(" ".join(words))
        lang.append(LANGS[np.searchsorted(LANG_P.cumsum(), rng.rand())])
        src.append(f"src{rng.randint(0, 20)}")
    return pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": lang,
        "source": src,
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n_emb):
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb).astype(np.int32)),
    })


def corpus(out, seed, n_doc):
    rng = np.random.RandomState(seed)
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_doc))


def tables(out, seed, sf):
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.randint(0, 5, n_cust)]),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(0, 25, n_part)],
        "p_type": pa.array(np.array(TYPES)[rng.randint(0, 6, n_part)]),
        "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }))
    odate = rng.randint(ORDER_EPOCH_LO // DAY_MS, ORDER_EPOCH_HI // DAY_MS,
                        n_ord, dtype=np.int64) * DAY_MS
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUS)[rng.randint(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate * 1000, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITY)[rng.randint(0, 5, n_ord)]),
    }))
    sdate = (rng.randint(ORDER_EPOCH_LO // DAY_MS, ORDER_EPOCH_HI // DAY_MS,
                         n_li, dtype=np.int64)
             + rng.randint(1, 96, n_li, dtype=np.int64)) * DAY_MS
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.randint(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.randint(0, 2, n_li)]),
        "l_shipdate": pa.array(sdate * 1000, pa.timestamp("us")),
    }))
    ts = np.sort(EVENT_EPOCH_LO + rng.randint(0, EVENT_SPAN_NS, n_ev, dtype=np.int64))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts // 1000, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"])[
            rng.randint(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n_ev)],
    }))
    _write(out, "documents", _documents(rng, max(500, int(50000 * sf))))
    _write(out, "embeddings", _embeddings(rng, max(500, int(20000 * sf))))


def generate(kind, out, seed, size):
    os.makedirs(out, exist_ok=True)
    if kind == "mr_input":
        mr_input(out, seed, int(size))
    elif kind == "tables":
        tables(out, seed, float(size))
    elif kind == "corpus":
        corpus(out, seed, int(size))
    else:
        raise ValueError(f"unknown input kind {kind}")


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
