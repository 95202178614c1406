#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables graft reads (`graft.Tables.names`) with
the column names and types of the TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables, at a given scale
factor. Row counts follow the usual scaling: lineitem 6M x sf, orders
1.5M x sf, part 200k x sf, customer 150k x sf, supplier 10k x sf,
events 1M x sf, documents max(500, 50k x sf), embeddings
max(500, 20k x sf).

The same (sf, seed) always gives byte-identical files: one numpy
PCG64 stream per table, one row group per file.

    python3 gen_data.py <out_dir> <sf> [--seed N]
    python3 gen_data.py --split-events <sf_dir> <out_dir> <n_files>
"""
import argparse
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
# a few stopwords per language, so language identification has signal
LANG_WORDS = {
    "en": [], "es": "el la de que y".split(), "zh": "的 是 在 了 和".split(),
    "de": "der die und das ist".split(), "fr": "le la et les des".split(),
}
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil widget rod plate ring gizmo".split()
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US = 1_000_000


def _rng(seed, table):
    # one independent stream per table: adding a table or changing one
    # table's generator leaves every other table's bytes unchanged
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, table))]))


def _ts(base, offsets_us):
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * US)
    return pa.array(start + np.asarray(offsets_us, dtype=np.int64),
                    pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet",
                   compression="snappy", row_group_size=1 << 30)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def generate(out, sf, seed):
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = _rng(seed, "supplier")
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})

    r = _rng(seed, "part")
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(price)})

    r = _rng(seed, "orders")
    days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, STATUS, n_ord),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           r.integers(0, days + 1, n_ord) * 86400 * US),
        "o_orderpriority": _pick(r, PRIORITY, n_ord)})

    r = _rng(seed, "lineitem")
    pk = r.integers(0, n_part, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pk], 2)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          r.integers(0, ship_days + 1, n_line) * 86400 * US)})

    r = _rng(seed, "events")
    # event ids follow time: sorted arrivals over 30 days
    span = 30 * 86400 * US
    ts = np.sort(r.integers(0, span, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ts),
        "user_id": pa.array(r.integers(0, n_user, n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    r = _rng(seed, "documents")
    langs = r.choice(len(LANGS), n_doc, p=LANG_P)
    texts = []
    for i in range(n_doc):
        kind = r.random()
        if i > 20 and kind < 0.06:
            # near duplicate of an earlier document: a few words edited
            words = texts[r.integers(0, i)].split()
            for j in r.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = "dup"
        elif i > 20 and kind < 0.09:
            # contained duplicate: a long slice of an earlier document
            words = texts[r.integers(0, i)].split()
            a = int(r.integers(0, max(1, len(words) // 4)))
            words = words[a:a + max(8, (len(words) * 2) // 3)]
        else:
            lw = LANG_WORDS[LANGS[langs[i]]]
            vocab = WORDS + lw * 3
            words = [vocab[j] for j in r.integers(0, len(vocab), r.integers(8, 90))]
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centers[labels] + r.normal(0.0, 1.2, (n_emb, 64))
    # planted near duplicates: a copy of an earlier vector, lightly perturbed
    dups = np.flatnonzero(r.random(n_emb) < 0.05)
    for i in dups[dups > 0]:
        src = int(r.integers(0, i))
        vecs[i] = vecs[src] + r.normal(0.0, 0.02, 64)
        labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def split_events(sf_dir, out, n_files):
    """Cut the events table by `ts` into n_files time-ordered parquet
    files (equal row counts, boundaries on ts order)."""
    out.mkdir(parents=True, exist_ok=True)
    t = pq.read_table(sf_dir / "events.parquet")
    t = t.take(pa.compute.sort_indices(t, [("ts", "ascending"),
                                           ("event_id", "ascending")]))
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       out / f"events_{i:05d}.parquet", compression="snappy")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--split-events", action="store_true")
    ap.add_argument("src")
    ap.add_argument("arg")
    ap.add_argument("n", nargs="?")
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    if a.split_events:
        split_events(Path(a.src), Path(a.arg), int(a.n))
    else:
        generate(Path(a.src), float(a.arg), a.seed)


if __name__ == "__main__":
    main()
