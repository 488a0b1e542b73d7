#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Writes the ten tables graft's query builders read (the TPC-H-like star
schema plus `events`, `documents` and `embeddings`), with the schemas and
value domains of the repository's reference test data. Key cardinalities
are the strides of the `SHIFTS` table in `tools/gen_scale.py` (the key
cardinalities of the sf0.1 reference set) times the workload's `scale`.

The seed drives everything: the values and row order of the relational
tables, the near-duplicate variants and vector noise (curate) and the
increment keys (refresh). The same (workload, seed) gives byte-identical
files.

Usage: gen.py <workload> <seed> <outDir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, "tools")
from gen_scale import SHIFTS  # noqa: E402  (key cardinalities of sf0.1)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# scale multiplies the sf0.1 key cardinalities; docs/vectors are base
# corpus sizes; variants/vector_copies are near-duplicates added on top.
SPECS = {
    "curate": dict(scale=0.01, docs=300, variants=300, vectors=200,
                   vector_copies=200, increments=0),
    "refresh": dict(scale=0.02, docs=250, variants=0, vectors=100,
                    vector_copies=0, increments=2),
}

# Share of curate's variants that are exact copies; the rest carry 1-3
# substituted words.
EXACT_SHARE = 0.2
INCREMENT_SHARE = 0.01
VECTOR_NOISE = 0.01
DIM = 64

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def card(table, key, scale):
    return max(1, int(round(SHIFTS[table][key] * scale)))


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, lo, hi, n):
    """Timestamps at midnight, uniform over [lo, hi] days from 1995-01-01."""
    return EPOCH_1995 + rng.integers(lo, hi + 1, n) * US_PER_DAY


def permute(rng, cols):
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return {k: v[order] for k, v in cols.items()}


def relational(rng, scale):
    n_cust = card("customer", "c_custkey", scale)
    n_supp = card("supplier", "s_suppkey", scale)
    n_part = card("part", "p_partkey", scale)
    n_ord = card("orders", "o_orderkey", scale)
    n_line = 4 * n_ord
    out = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": np.array(REGIONS, dtype=object)}
    out["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": np.array([f"NATION_{i}" for i in range(25)],
                                        dtype=object),
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)}
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = {
        "p_partkey": pk,
        "p_name": (pick(rng, ADJ, n_part) + " " + pick(rng, NOUN, n_part)),
        "p_brand": np.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_part)], dtype=object),
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, 0, 2404, n_ord),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)}
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days(rng, 1, 2499, n_line)}
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        out[t] = permute(rng, out[t])
    return out


def events(rng, scale):
    n = card("events", "event_id", scale)
    users = card("events", "user_id", scale)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + start
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          dtype=object)}


def documents(rng, n_base, n_variants):
    """Base docs of 10-100 vocabulary words, plus variants of random base
    docs: EXACT_SHARE exact copies, the rest with 1-3 words substituted."""
    words = [list(pick(rng, VOCAB, k)) for k in rng.integers(10, 101, n_base)]
    langs = list(rng.choice(LANGS, n_base, p=LANG_P))
    exact = near = 0
    for _ in range(n_variants):
        src = int(rng.integers(0, n_base))
        w = list(words[src])
        if rng.random() >= EXACT_SHARE:
            near += 1
            for pos in rng.choice(len(w), int(rng.integers(1, 4)),
                                  replace=False):
                choices = [v for v in VOCAB if v != w[pos]]
                w[pos] = choices[int(rng.integers(0, len(choices)))]
        else:
            exact += 1
        words.append(w)
        langs.append(langs[src])
    n = len(words)
    text = np.array([" ".join(w) for w in words], dtype=object)
    cols = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(langs, dtype=object),
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}
    return cols, {"exact_copies": exact, "near_duplicates": near}


def unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng, n_base, n_copies):
    base = unit(rng.standard_normal((n_base, DIM)))
    labels = rng.integers(0, 10, n_base).astype(np.int32)
    src = rng.integers(0, n_base, n_copies)
    noisy = unit(base[src] + rng.normal(0.0, VECTOR_NOISE, (n_copies, DIM)))
    vecs = np.concatenate([base, noisy])
    n = len(vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": np.concatenate([labels, labels[src]])}


def increments(rng, orders, k):
    """k batches of ~INCREMENT_SHARE of the orders keys each: half updates
    of base keys (new status/price and a shifted date), half new keys."""
    n = len(orders["o_orderkey"])
    per = max(2, int(round(n * INCREMENT_SHARE)))
    by_key = np.argsort(orders["o_orderkey"])
    next_key = n
    batches = []
    for _ in range(k):
        upd = np.sort(rng.choice(n, per // 2, replace=False))
        rows = by_key[upd]
        n_new = per - len(upd)
        new_keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        batches.append({
            "o_orderkey": np.concatenate([upd.astype(np.int64), new_keys]),
            "o_custkey": np.concatenate([
                orders["o_custkey"][rows],
                rng.integers(0, int(orders["o_custkey"].max()) + 1,
                             n_new).astype(np.int64)]),
            "o_orderstatus": pick(rng, ["P", "O", "F"], per),
            "o_totalprice": money(rng, 1000.0, 500000.0, per),
            "o_orderdate": np.concatenate([
                orders["o_orderdate"][rows] + 7 * US_PER_DAY,
                days(rng, 2405, 2499, n_new)])})
    return batches


def write(cols, path):
    t = pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                  for k, v in cols.items()})
    pq.write_table(t, path, compression="snappy")
    return {"rows": t.num_rows, "bytes": os.path.getsize(path)}


def generate(workload, seed, out_dir):
    """Write the workload's inputs under out_dir/tables (and
    out_dir/increments for refresh); return the manifest."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, list(SPECS).index(workload)])
    tdir = os.path.join(out_dir, "tables")
    os.makedirs(tdir, exist_ok=True)
    data = relational(rng, spec["scale"])
    data["events"] = events(rng, spec["scale"])
    data["documents"], doc_stats = documents(rng, spec["docs"],
                                             spec["variants"])
    data["embeddings"] = embeddings(rng, spec["vectors"],
                                    spec["vector_copies"])
    tables = {t: write(data[t], os.path.join(tdir, f"{t}.parquet"))
              for t in TABLES}
    manifest = {"workload": workload, "seed": seed, "spec": spec,
                "tables": tables, "increments": []}
    if spec["variants"]:
        n = spec["docs"] + spec["variants"]
        manifest["corpus"] = {
            "docs": n, **doc_stats,
            "exact_share": round(doc_stats["exact_copies"] / n, 4),
            "near_share": round(doc_stats["near_duplicates"] / n, 4),
            "vectors": spec["vectors"] + spec["vector_copies"],
            "noisy_vector_copies": spec["vector_copies"]}
    if spec["increments"]:
        idir = os.path.join(out_dir, "increments")
        os.makedirs(idir, exist_ok=True)
        orders = data["orders"]
        for i, b in enumerate(increments(rng, orders, spec["increments"])):
            manifest["increments"].append(
                {"path": f"increments/batch_{i}.parquet",
                 **write(b, os.path.join(idir, f"batch_{i}.parquet"))})
    manifest["input_bytes"] = (
        sum(t["bytes"] for t in tables.values()) +
        sum(b["bytes"] for b in manifest["increments"]))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({t: v["rows"] for t, v in m["tables"].items()}))
