"""Seeded input generators for the perfbench workloads.

Every generator takes a numpy Generator built from the run's --seed and
writes files under a directory it is given; the same seed yields
byte-identical inputs. Table schemas follow the TPC-H-like star schema
plus the events / documents / embeddings tables that graft's query
library reads (see TESTDATA.md), so every graft query and its DuckDB
oracle run unchanged on the generated tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
# Zipf exponent of the provenance pipeline's keys: YCSB's default
# request skew (zipfian constant 0.99, Cooper et al., SoCC 2010)
ZIPF_S = 0.99

US_PER_DAY = 86_400_000_000


def _ts(days_from, days_to, n, rng, base="1995-01-01"):
    """n day-granular timestamps (µs) in [base+days_from, base+days_to]."""
    b = np.datetime64(base, "us").astype(np.int64)
    d = rng.integers(days_from, days_to + 1, n).astype(np.int64)
    return pa.array(b + d * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path), table.num_rows


def tables(rng, sf):
    """The ten tables at scale factor `sf` as pyarrow Tables."""
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(0, 2404, n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(1, 2499, n_line, rng)})
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + ev_base
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_doc)
    t["embeddings"] = embeddings(rng, n_emb)
    return t


def documents(rng, n, id_base=0):
    """Bag-of-words documents; ~5% are near-duplicates of an earlier
    document (its text plus a trailing " dup") so the dedup and
    decontamination queries have matches to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def embeddings(rng, n, id_base=0):
    """Unit vectors in 10 weakly separated label clusters."""
    centers = rng.normal(0, 1, (10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    x = 0.6 * centers[labels] + rng.normal(0, 1, (n, EMB_DIM)) / 8
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return emb_table(np.arange(id_base, id_base + n, dtype=np.int64),
                     x.astype(np.float32), labels)


def emb_table(ids, x, labels):
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (len(ids) + 1) * EMB_DIM, EMB_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": ids,
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def jitter(base, copies, sigma, rng):
    """`copies` seeded jitters of an embeddings table: each copy keeps the
    label, perturbs every vector by N(0, sigma) and re-normalises."""
    x = np.stack(base["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    lab = base["label"].to_numpy()
    xs, ls = [], []
    for _ in range(copies):
        y = x + rng.normal(0, sigma, x.shape)
        xs.append(y / np.linalg.norm(y, axis=1, keepdims=True))
        ls.append(lab)
    x = np.concatenate(xs).astype(np.float32)
    return emb_table(np.arange(len(x), dtype=np.int64), x, np.concatenate(ls))


def write_tables(rng, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tab in tables(rng, sf).items():
        b, r = _write(tab, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = {"rows": r, "bytes": b}
    return sizes


def prov_inputs(rng, out_dir, n_rows, n_keys, sf):
    """`k;v` lines with Zipf-skewed keys, plus a lineitem table."""
    os.makedirs(out_dir, exist_ok=True)
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -ZIPF_S
    keys = rng.choice(n_keys, n_rows, p=p / p.sum()) + 1
    vals = rng.integers(0, 1000, n_rows)
    path = os.path.join(out_dir, "pairs.txt")
    with open(path, "w") as f:
        f.write("\n".join(f"k{k};{v}" for k, v in zip(keys, vals)))
        f.write("\n")
    sizes = {"pairs": {"rows": n_rows, "bytes": os.path.getsize(path)}}
    li = tables(rng, sf)["lineitem"]
    b, r = _write(li, os.path.join(out_dir, "lineitem.parquet"))
    sizes["lineitem"] = {"rows": r, "bytes": b}
    return sizes


def sciphy_inputs(rng, out_dir, n_groups, dup_share=0.25):
    """Fasta-like files of 1-30 KB; a seeded share repeats an earlier
    file's content under a new name, so content addressing can dedup."""
    os.makedirs(out_dir, exist_ok=True)
    contents, total = [], 0
    for i in range(n_groups):
        if i > 0 and rng.random() < dup_share:
            body = contents[int(rng.integers(0, i))]
        else:
            size = int(rng.integers(1024, 30 * 1024))
            lines, n = [], 0
            while n < size:
                seq = "".join(rng.choice(list("ACGT"), 60))
                lines.append(f">s{len(lines)}\n{seq}\n" if len(lines) % 8 == 0 else seq + "\n")
                n += len(lines[-1])
            body = "".join(lines)
        contents.append(body)
        with open(os.path.join(out_dir, f"G{i:04d}.fasta"), "w") as f:
            f.write(body)
        total += len(body)
    return {"fasta": {"rows": n_groups, "bytes": total,
                      "distinct": len(set(contents))}}


def vector_inputs(rng, out_dir, base_n, copies, doc_n, doc_copies, late_rows):
    """IVF corpus (seeded jitter of a base embeddings table), late
    append rows, BM25 corpus (replicated documents) and late docs."""
    os.makedirs(out_dir, exist_ok=True)
    base = embeddings(rng, base_n)
    corpus = jitter(base, copies, 0.05, rng)
    n = corpus.num_rows
    late = jitter(base, 1 + late_rows // base_n, 0.05, rng).slice(0, late_rows)
    late = emb_table(np.arange(n, n + late.num_rows, dtype=np.int64),
                     np.stack(late["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32),
                     late["label"].to_numpy())
    docs = documents(rng, doc_n * doc_copies)
    late_docs = documents(rng, max(1, doc_n // 2), id_base=doc_n * doc_copies)
    sizes = {}
    for name, tab in [("corpus", corpus), ("late", late), ("docs", docs),
                      ("late_docs", late_docs)]:
        b, r = _write(tab, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = {"rows": r, "bytes": b}
    return sizes
