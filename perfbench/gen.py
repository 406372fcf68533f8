"""Seeded input generator for the benchmark workloads.

Each workload's inputs are a directory of parquet files in the same
schemas as the library's fixture tables (`Tables` loads them by name),
plus `manifest.json` recording what was generated and what was planted.
The same (workload, seed, scale) always yields byte-identical tables.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [scale]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Ranks switches from the driver-local to the distributed GraphX path
# above this many distinct edges (graph/Ranks.scala, LocalEdgeThreshold).
LOCAL_EDGE_THRESHOLD = 100_000

# One vocabulary for every text workload: 400 lower-case words of 3-9
# letters, so generated documents pass the Gopher shape rules unless a
# defect is planted on purpose.
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, n=400):
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, k)))
    return np.array(sorted(words))


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- trade_graph

def gen_trade_graph(rng, out, scale):
    n_regions = 20
    n_nations = int(400 * scale) if scale < 1 else 400
    n_cust, n_supp = n_nations * 4, n_nations * 2
    n_orders = int(50_000 * scale)
    n_lines = n_orders * 4
    _write(out, "region", {
        "r_regionkey": np.arange(n_regions, dtype=np.int32),
        "r_name": [f"REGION_{i:02d}" for i in range(n_regions)],
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    n_region = rng.integers(0, n_regions, n_nations).astype(np.int32)
    _write(out, "nation", {
        "n_nationkey": np.arange(n_nations, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(n_nations)],
        "n_regionkey": n_region,
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    # every nation gets the same number of customers and suppliers, so
    # the distinct trade pairs depend only on the lineitem count
    c_nation = rng.permutation(np.arange(n_cust) % n_nations).astype(np.int32)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i}" for i in range(n_cust)],
        "c_nationkey": c_nation,
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    s_nation = rng.permutation(np.arange(n_supp) % n_nations).astype(np.int32)
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i}" for i in range(n_supp)],
        "s_nationkey": s_nation,
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    o_cust = rng.integers(0, n_cust, n_orders).astype(np.int64)
    base = np.datetime64("2020-01-01T00:00:00", "us")
    o_date = base + rng.integers(0, 3 * 365 * 86400, n_orders) * np.timedelta64(1, "s")
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": o_cust,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), 4)
    l_supp = rng.integers(0, n_supp, n_lines).astype(np.int64)
    # lognormal prices: each nation's top partners are well separated,
    # so the top-3 backbone has no amount ties
    price = np.round(rng.lognormal(8.0, 1.2, n_lines), 2)
    disc = np.round(rng.integers(0, 11, n_lines) / 100.0, 2)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, 2000, n_lines).astype(np.int64),
        "l_suppkey": l_supp,
        "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), n_orders),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": np.repeat(o_date, 4),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))
    src = s_nation[l_supp]
    dst = c_nation[o_cust[l_order]]
    cross = src != dst
    pairs = np.unique(src[cross].astype(np.int64) * n_nations + dst[cross])
    rsrc, rdst = n_region[pairs // n_nations], n_region[pairs % n_nations]
    region_pairs = np.unique((rsrc * n_regions + rdst)[rsrc != rdst])
    if scale >= 1:
        assert len(pairs) > LOCAL_EDGE_THRESHOLD, "trade graph too small for the GraphX path"
    return {
        "input_rows": int(n_lines), "input_table": "lineitem",
        "rows": {"region": n_regions, "nation": n_nations, "customer": n_cust,
                 "supplier": n_supp, "orders": n_orders, "lineitem": n_lines},
        "distinct_trade_pairs": int(len(pairs)),
        "distinct_region_pairs": int(len(region_pairs)),
        "local_edge_threshold": LOCAL_EDGE_THRESHOLD,
    }


# --------------------------------------------------------------- text corpus

def _doc(rng, vocab, lo=30, hi=70):
    # Zipf-ish word choice: a realistic skew without tipping the
    # within-document repeated-3-gram fraction over the Gopher cut
    n = int(rng.integers(lo, hi))
    idx = np.minimum(rng.zipf(1.3, n) - 1, len(vocab) - 1)
    idx = (idx + rng.integers(0, len(vocab), n) * (rng.random(n) < 0.7)) % len(vocab)
    return list(vocab[idx])


def _near_copy(rng, toks, vocab, frac=0.04):
    out = list(toks)
    for i in np.nonzero(rng.random(len(out)) < frac)[0]:
        out[i] = vocab[rng.integers(0, len(vocab))]
    return out


def _corpus(rng, n_docs, vocab):
    """Documents with planted exact, near-duplicate and contaminating
    rows. Returns (columns, planted counts)."""
    texts, planted = [], {"exact_dup": 0, "near_dup": 0, "span_copy": 0,
                          "low_quality": 0}
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.06:                       # exact re-post
            src = texts[int(rng.integers(max(0, len(texts) - 2000), len(texts)))]
            t = src.upper() if rng.random() < 0.3 else src
            planted["exact_dup"] += 1
        elif texts and r < 0.16:                     # near duplicate
            src = texts[int(rng.integers(max(0, len(texts) - 2000), len(texts)))]
            t = " ".join(_near_copy(rng, src.lower().split(), vocab))
            planted["near_dup"] += 1
        elif texts and r < 0.19:                     # shares a 20-token span
            src = texts[int(rng.integers(0, len(texts)))].lower().split()
            a = int(rng.integers(0, max(1, len(src) - 20)))
            t = " ".join(_doc(rng, vocab, 15, 30) + src[a:a + 20])
            planted["span_copy"] += 1
        elif r < 0.21:                               # Gopher rejects
            t = " ".join(["aa", "bb"] * int(rng.integers(1, 3)))
            planted["low_quality"] += 1
        else:
            t = " ".join(_doc(rng, vocab))
        texts.append(t)
    ids = np.arange(n_docs, dtype=np.int64)
    cols = {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, planted


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _embeddings(rng, n, centers, dup_frac=0.05):
    dims = centers.shape[1]
    label = rng.integers(0, len(centers), n)
    vec = centers[label] + rng.normal(0, 0.35, (n, dims))
    # planted semantic near-duplicates: a small perturbation of an
    # earlier vector
    dup = np.nonzero(rng.random(n) < dup_frac)[0]
    dup = dup[dup > 0]
    srcs = (rng.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[srcs] + rng.normal(0, 0.01, (len(dup), dims))
    label[dup] = label[srcs]
    vec = vec.astype(np.float32)
    cols = {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vec), "label": label.astype(np.int32)}
    return cols, int(len(dup))


def gen_curate_batch(rng, out, scale):
    n_docs = int(4_000 * scale)
    n_emb = int(1_000 * scale)
    vocab = _vocab(rng)
    docs, planted = _corpus(rng, n_docs, vocab)
    _write(out, "documents", docs, DOC_SCHEMA)
    centers = rng.normal(0, 1, (16, 64))
    emb, n_dup = _embeddings(rng, n_emb, centers)
    _write(out, "embeddings", emb, EMB_SCHEMA)
    doc_bytes = sum(len(t) for t in docs["text"])
    return {
        "input_rows": n_docs + n_emb, "input_table": "documents+embeddings",
        "rows": {"documents": n_docs, "embeddings": n_emb},
        "planted": planted, "planted_rates": {k: v / n_docs for k, v in planted.items()},
        "planted_semantic_dups": n_dup,
        "eval_holdout_pct": 10, "text_bytes": doc_bytes,
    }


GENERATORS = {
    "trade_graph": gen_trade_graph,
    "curate_batch": gen_curate_batch,
}


def generate(workload, seed, out, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = GENERATORS[workload](rng, out, scale)
    manifest.update({"workload": workload, "seed": seed, "scale": scale,
                     "input_mb": sum(os.path.getsize(os.path.join(out, f))
                                     for f in os.listdir(out)) / 2**20})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, s, o, float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)))
