"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --workload graph_reduce --seed 7 --out DIR

Writes one parquet file per input table under DIR (never anywhere
else) plus ``inputs.json``, which states rows and bytes per table so the
input size of every run is on record. The same seed gives byte-identical
files; the generator reads nothing but its arguments.

The tables keep the column names and types of the engine's TPC-H-style
test tables, so the registered queries run on them unchanged:

* graph_reduce: ``orders`` whose per-customer chains (the graph the
  g-family queries build) have a long-tailed length distribution with a
  fixed maximum, so the number of iteration rounds varies between
  operations but not between seeds; ``documents`` for the overlap stage.
* corpus_dedup: ``documents`` with exact clones and copies carrying a
  few seeded token edits, plus clustered ``embeddings``.
* warehouse: the star schema (region .. lineitem) and ``wh_batches``,
  the row batches the commit stream inserts and merges. Some batches are
  empty, as incremental pipelines produce them. ``stream.json`` holds
  the seeded operation list.
"""
import argparse
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("graph_reduce", "corpus_dedup", "warehouse")

# Longest per-customer order chain: round counts grow with it, and 5
# keeps a graph_reduce pass within seconds. The g16 oracle unrolls 26
# Bellman-Ford rounds, so no chain may ever need more.
MAX_CHAIN = 5
EPOCH0 = dt.datetime(1995, 1, 1)
DAYS = 2404  # 1995-01-01 .. 2001-08-01, the test tables' date range
LANGS = ("de", "en", "es", "fr", "zh")
SYLLABLES = {
    "en": "th er an in on re at en ed es or te of it is ar".split(),
    "de": "ch ei en er ie un de ge be sch au st ung ich".split(),
    "es": "de la os es en el ar ci on ue ra co ad nt".split(),
    "fr": "es le de en re nt on ou la ai er ion eu que".split(),
    "zh": "zh ang ing shi xi yu wo ren ge da ni hao qu mei".split(),
}


def rng_for(seed, table):
    """An independent stream per (seed, table): adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, table)) * 7919 + len(table)])


def dates(r, n):
    d = r.integers(0, DAYS, n)
    return pa.array([EPOCH0 + dt.timedelta(days=int(x)) for x in d],
                    pa.timestamp("us"))


def vocabulary(r, n_per_lang):
    """Words made of 2-4 syllables of each language; distinct per lang."""
    out = {}
    for lang in LANGS:
        syl = SYLLABLES[lang]
        words = set()
        while len(words) < n_per_lang:
            k = int(r.integers(2, 5))
            words.add("".join(syl[int(i)] for i in r.integers(0, len(syl), k)))
        out[lang] = sorted(words)
    return out


def documents(r, n_base, n_near, n_clones, min_tok, max_tok, chain=0):
    """Base documents plus near-duplicates (copies with 1-3 seeded token
    substitutions) and exact clones, shuffled together.

    `chain` plants a path of that many near-duplicates: 60 distinct
    words, each document one substitution away from the one before
    (Jaccard 59/61 >= 0.95 to its neighbours, below 0.95 to the rest).
    The path takes the lowest ids in path order, so it is the deepest
    component the fuzzy-cluster stage has to close, whatever the seed,
    and that stage's round count does not vary between seeds."""
    vocab = vocabulary(r, 400)
    zipf = 1.0 / np.arange(1, 401) ** 1.1
    zipf /= zipf.sum()
    base = []
    for _ in range(n_base):
        lang = LANGS[int(r.integers(0, len(LANGS)))]
        n = int(r.integers(min_tok, max_tok + 1))
        toks = [vocab[lang][int(i)] for i in r.choice(400, n, p=zipf)]
        base.append((lang, toks))
    docs = list(base)
    for _ in range(n_near):
        lang, toks = base[int(r.integers(0, n_base))]
        toks = list(toks)
        for _ in range(int(r.integers(1, 4))):
            toks[int(r.integers(0, len(toks)))] = vocab[lang][int(r.integers(0, 400))]
        docs.append((lang, toks))
    for _ in range(n_clones):
        docs.append(base[int(r.integers(0, n_base))])
    path = []
    if chain:
        lang = LANGS[int(r.integers(0, len(LANGS)))]
        words = [vocab[lang][int(i)] for i in r.permutation(400)]
        toks, spare = words[:60], words[60:]
        for i, pos in enumerate(r.permutation(60)[:chain]):
            path.append((lang, list(toks)))
            toks[int(pos)] = spare[i]
    docs = path + docs
    order = np.concatenate([np.arange(len(path)), len(path) + r.permutation(len(docs) - len(path))])
    text = [" ".join(docs[i][1]) for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([docs[i][0] for i in order], pa.string()),
        "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, len(docs))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(r, n, dim=64, clusters=16):
    centers = r.normal(0, 1, (clusters, dim))
    label = r.integers(0, clusters, n)
    v = centers[label] + r.normal(0, 0.35, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def chain_lengths(r, n_cust):
    """Long-tailed chain lengths in 1..MAX_CHAIN, P(L) ~ L^-1.2, with a
    fixed number of full-length chains so the deepest chain (and so the
    round count of the iterative stages) is the same for every seed."""
    ls = np.arange(1, MAX_CHAIN + 1)
    p = ls ** -1.2
    p /= p.sum()
    out = r.choice(ls, n_cust, p=p)
    out[:8] = MAX_CHAIN
    return r.permutation(out)


def orders(r, per_cust):
    """Orders with one row per chain element; keys are a seeded
    permutation, so chain structure differs between seeds."""
    cust = np.repeat(np.arange(len(per_cust)), per_cust)
    n = len(cust)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(r.permutation(n), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array(status[r.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(r.uniform(900, 500000, n), 2), pa.float64()),
        "o_orderdate": dates(r, n),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, n)], pa.string()),
    })


def star_schema(seed, n_cust, n_part, n_supp, n_orders, lines_per_order):
    r = rng_for(seed, "region")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
    }
    r = rng_for(seed, "customer")
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(seg[r.integers(0, 5, n_cust)]),
    })
    r = rng_for(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2), pa.float64()),
    })
    r = rng_for(seed, "part")
    adj = np.array(["small", "red", "large", "blue", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    ptype = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj[r.integers(0, 6, n_part)],
                                                         noun[r.integers(0, 6, n_part)])]),
        "p_brand": pa.array([f"Brand#{int(x)}" for x in r.integers(1, 26, n_part)]),
        "p_type": pa.array(ptype[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
                                  pa.float64()),
    })
    r = rng_for(seed, "orders")
    per_cust = np.bincount(r.integers(0, n_cust, n_orders), minlength=n_cust)
    tables["orders"] = orders(r, per_cust)
    r = rng_for(seed, "lineitem")
    nl = r.integers(1, 2 * lines_per_order, n_orders)
    ok = np.repeat(np.arange(n_orders), nl)
    n = len(ok)
    ln = np.concatenate([np.arange(1, k + 1) for k in nl])
    qty = r.integers(1, 51, n).astype(np.float64)
    flag = np.array(["A", "N", "R"])
    stat = np.array(["F", "O"])
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        # Prices are multiples of 1/4 and rates multiples of 1/64, so
        # every sum and product the queries take is exact in binary
        # floating point: the engine and DuckDB then agree to the last
        # bit in any summation order, and a rounded aggregate can only
        # differ if the engine computed a different value.
        "l_extendedprice": pa.array(qty * r.integers(3600, 8000, n) / 4, pa.float64()),
        "l_discount": pa.array(r.integers(0, 7, n) / 64, pa.float64()),
        "l_tax": pa.array(r.integers(0, 6, n) / 64, pa.float64()),
        "l_returnflag": pa.array(flag[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(stat[r.integers(0, 2, n)]),
        "l_shipdate": dates(r, n),
    })
    return tables


# Warehouse commit stream. Keys of the versioned table `wh` (k, c, p):
# the initial load holds keys [0, WH_INIT); each INSERT batch brings
# fresh keys, each MERGE batch mixes existing and fresh keys.
WH_INIT = 4000
WH_BATCH_ROWS = 40
# One block is one pass: every block holds the same operations in a
# seeded order, so the op mix of a pass does not depend on the seed.
# Each block ends with CALL graft.optimize, so compaction is periodic and
# every pass starts from a compacted table. One of its two INSERT
# batches is empty, as incremental pipelines produce them.
WH_BLOCK = ("q1_agg", "q3_join_agg", "q5_multijoin", "q10_topk_pergroup",
            "wh_current", "wh_asof", "wh_asof",
            "insert", "insert", "merge", "update", "delete")
WH_BLOCKS = 40  # more than a run executes
WH_COMMITS = ("insert", "merge", "update", "delete", "optimize")


def warehouse_stream(seed):
    """The seeded operation list and the batch table its INSERT/MERGE
    statements read."""
    r = rng_for(seed, "stream")
    ops, rows = [], []
    next_key = WH_INIT
    for _ in range(WH_BLOCKS):
        block = [WH_BLOCK[int(i)] for i in r.permutation(len(WH_BLOCK))] + ["optimize"]
        inserts = 0
        for name in block:
            op = {"kind": "commit" if name in WH_COMMITS else "read", "name": name}
            if name == "wh_asof":
                op["back"] = int(r.integers(1, 9))  # versions before current
            elif name in ("insert", "merge"):
                op["batch"] = b = len(ops)
                if name == "merge" or inserts == 0:
                    n = int(r.integers(WH_BATCH_ROWS // 2, WH_BATCH_ROWS * 3 // 2))
                    if name == "merge":
                        old = r.integers(0, next_key, n // 2)
                        keys = np.unique(np.concatenate(
                            [old, np.arange(next_key, next_key + n - n // 2)]))
                    else:
                        keys = np.arange(next_key, next_key + n)
                    next_key += n
                    rows += [(b, int(k), int(r.integers(0, 600)), int(r.integers(0, 100000)))
                             for k in keys]
                inserts += name == "insert"
            elif name == "update":
                op["mod"], op["rem"], op["delta"] = 37, int(r.integers(0, 37)), \
                    int(r.integers(1, 100))
            elif name == "delete":
                # about as many rows as the block's batches add
                op["mod"], op["rem"] = 37, int(r.integers(0, 37))
            ops.append(op)
    b, k, c, p = zip(*rows)
    batches = pa.table({
        "batch": pa.array(b, pa.int64()), "k": pa.array(k, pa.int64()),
        "c": pa.array(c, pa.int64()), "p": pa.array(p, pa.int64()),
    })
    return ops, batches


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    tables, stream = {}, None
    if workload == "graph_reduce":
        r = rng_for(seed, "orders")
        tables["orders"] = orders(r, chain_lengths(r, 600))
        tables["documents"] = documents(rng_for(seed, "documents"), 150, 0, 0, 50, 90)
    elif workload == "corpus_dedup":
        tables["documents"] = documents(rng_for(seed, "documents"), 200, 80, 30, 30, 80, chain=6)
        tables["embeddings"] = embeddings(rng_for(seed, "embeddings"), 300)
    elif workload == "warehouse":
        tables = star_schema(seed, n_cust=600, n_part=800, n_supp=40,
                             n_orders=6000, lines_per_order=4)
        stream, tables["wh_batches"] = warehouse_stream(seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    info = {"workload": workload, "seed": seed, "tables": {}}
    for name, t in sorted(tables.items()):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t.replace_schema_metadata(None), path,
                       compression="snappy", row_group_size=1 << 20)
        info["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    if stream is not None:
        with open(os.path.join(out, "stream.json"), "w") as f:
            json.dump(stream, f)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    info = generate(a.workload, a.seed, a.out)
    json.dump(info, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
