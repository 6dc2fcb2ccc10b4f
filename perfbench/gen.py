#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Usage: python3 perfbench/gen.py <out_dir> --seed N --workload W

Writes, under <out_dir>:
  sf/<table>.parquet    a TPC-H-shaped star schema plus events, documents
                        and embeddings (the schemas graft's catalog gates
                        read), about 0.02 of TPC-H scale factor 1
  windows/<i>/...       the ingest_maintain change windows, each over one
                        source: a Debezium-shaped CDC batch over orders;
                        document or embedding appends (small windows also
                        with DV-delete keys and a rewriting-delete key
                        range inside the appended ids); or a corpus
                        batch for the curation chain, with planted exact
                        duplicates, near duplicates and contamination
  params.json           window specs (source, size, rows, stated corpus
                        shares) and seeded probe/scan parameters
  inputs.json           digest of every generated table

The same seed always gives byte-identical table contents (the digest is
taken over the Arrow IPC stream of each table, not the parquet bytes).
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.02

# ingest_maintain windows: each changes one source and a cycle alternates
# small and large. Documents and embeddings come in both sizes: a small
# window (appends, DV deletes, a rewriting delete) keeps its maintenance
# writes under graft's observed-row cutovers (postings rows <=
# spark.graft.postingsDirectMaxRows, 200000; fresh doclen rows <= 10000;
# inserted IVF-PQ list rows <= spark.graft.smallCommitMaxRows, 10000) and
# a large one (a bulk append) takes them over.
# Every cycle has the same pattern (with fresh rows), so a run that
# completes more cycles still times the same mix of windows.
CYCLE = [("orders", "large"), ("docs", "small"), ("emb", "small"),
         ("corpus", "small"), ("docs", "large"), ("emb", "large")]
N_CYCLES = 2
# rows per window, by source and size
WINDOW_ROWS = {
    "orders": {"large": 14000},                    # CDC changes
    "docs": {"small": 400, "large": 10500},        # appended documents
    "emb": {"small": 300, "large": 10500},         # appended vectors
    "corpus": {"small": 800},                      # curated documents
}
NEAR_DUP_SHARE, EXACT_DUP_SHARE, CONTAM_SHARE = 0.10, 0.05, 0.05
N_PROBE_PARAMS = 8

MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es", "en", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
}
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]
DAY_US = 86400 * 1_000_000
ORDER_LO = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_HI = np.datetime64("2001-08-01", "us").astype(np.int64)
EVENTS_LO = np.datetime64("2024-01-01", "us").astype(np.int64)


def vocab(n=2000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    rng = np.random.default_rng(7)
    words = set()
    while len(words) < n:
        k = rng.integers(3, 9)
        words.add("".join(rng.choice(letters, k)))
    stop = {w for ws in MARKERS.values() for w in ws}
    return np.array(sorted(w for w in words if w not in stop))


VOCAB = vocab()
ZIPF_CDF = np.cumsum(1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9)
ZIPF_CDF /= ZIPF_CDF[-1]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, langs):
    """Zipf-distributed vocabulary tokens with 3-6 language markers
    mixed in (none for zh)."""
    lens = rng.integers(20, 90, len(langs))
    words = VOCAB[np.minimum(np.searchsorted(
        ZIPF_CDF, rng.random(int(lens.sum()))), len(VOCAB) - 1)]
    n_marks = rng.integers(3, 7, len(langs))
    mark_pick = rng.integers(0, 10, int(n_marks.sum()))
    texts, w, m = [], 0, 0
    for lang, n, k in zip(langs, lens, n_marks):
        toks = list(words[w:w + n])
        w += n
        if lang in MARKERS:
            for j in dict.fromkeys(mark_pick[m:m + k]):
                toks[j * n // 10] += " " + MARKERS[lang][j]
        m += k
        texts.append(" ".join(toks))
    return texts


def documents(rng, first_id, n):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    langs = rng.choice(LANGS, n)
    texts = doc_texts(rng, langs)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.astype(str),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, centers, first_id, n):
    labels = rng.integers(0, len(centers), n)
    v = centers[labels] + rng.normal(0, 0.06, (n, centers.shape[1]))
    v = v.astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * v.shape[1], v.shape[1],
                                 dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
        "label": labels.astype(np.int32),
    })


def star_schema(rng):
    n_cust, n_supp = int(150000 * SF), int(10000 * SF)
    n_part, n_ord = int(200000 * SF), int(1500000 * SF)
    n_events = int(1000000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "small", "green", "red"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2)})
    odate = ORDER_LO + rng.integers(0, (ORDER_HI - ORDER_LO) // DAY_US + 1,
                                    n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us"))})
    ts = np.sort(EVENTS_LO + rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n_events),
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return t


def cdc_window(rng, next_key, live, recent, n_changes, seq0):
    """Debezium-shaped change batch: creates of new keys, updates of
    recently created keys (a second update of a few keys in the same
    batch, ordered by seq), deletes of random old keys."""
    n_c = n_changes * 6 // 10
    n_u = n_changes * 3 // 10
    n_d = n_changes - n_c - n_u
    keys_c = np.arange(next_key, next_key + n_c, dtype=np.int64)
    pool = recent if len(recent) >= n_u else np.unique(
        np.concatenate([recent, live[-4 * n_u:]]))
    keys_u = rng.choice(pool, n_u, replace=False)
    keys_u = np.concatenate([keys_u, keys_u[: n_u // 10]])
    doomed = np.setdiff1d(live, keys_u)
    keys_d = rng.choice(doomed, n_d, replace=False)
    keys = np.concatenate([keys_c, keys_u, keys_d])
    ops = np.array(["c"] * n_c + ["u"] * len(keys_u) + ["d"] * n_d)
    n = len(keys)
    odate = ORDER_LO + rng.integers(0, (ORDER_HI - ORDER_LO) // DAY_US + 1,
                                    n) * DAY_US
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, int(150000 * SF), n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "price_cents": rng.integers(100000, 50000000, n).astype(np.int64),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
        "seq": np.arange(seq0, seq0 + n, dtype=np.int64),
        "op": ops})


def curation_corpus(rng, first_id, n):
    """A corpus with planted exact duplicates (same text up to case and
    punctuation), near duplicates (one token appended) and contaminated
    documents (an 8-token passage copied from a benchmark-slice doc,
    doc_id % 89 == 0)."""
    base = documents(rng, first_id, n).to_pydict()
    texts = base["text"]
    ids = base["doc_id"]
    bench = [i for i, d in enumerate(ids) if d % 89 == 0]
    kinds = rng.choice(["plain", "exact", "near", "contam"], n,
                       p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE - CONTAM_SHARE,
                          EXACT_DUP_SHARE, NEAR_DUP_SHARE, CONTAM_SHARE])
    planted = {"exact": 0, "near": 0, "contam": 0}
    for i in range(n):
        k = kinds[i]
        if k == "plain" or ids[i] % 89 == 0 or i < 10:
            continue
        if k in ("exact", "near"):
            j = int(rng.integers(0, i))
            if ids[j] % 89 == 0:
                continue
            src = texts[j]
            texts[i] = (src.upper() + " !") if k == "exact" else (
                src + " " + src.split()[0])
        else:
            b = bench[int(rng.integers(0, len(bench)))]
            toks = texts[b].split()
            s = int(rng.integers(0, max(1, len(toks) - 8)))
            texts[i] = texts[i] + " " + " ".join(toks[s:s + 8])
        planted[k] += 1
    base["text"] = texts
    base["n_chars"] = [len(t) for t in texts]
    return pa.table(base), planted


def digest(table):
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def write_windows(rng, write, centers, n_docs, n_emb):
    """The ingest_maintain change windows (see CYCLE)."""
    orders_live = np.arange(int(1500000 * SF), dtype=np.int64)
    next_key, seq = len(orders_live), 0
    recent = orders_live[-2000:]
    live = {"docs": np.arange(n_docs, dtype=np.int64),
            "emb": np.arange(n_emb, dtype=np.int64)}
    next_id = {"docs": n_docs, "emb": n_emb, "corpus": 10_000_000}
    windows = []
    for i, (src, size) in enumerate(CYCLE * N_CYCLES):
        n = WINDOW_ROWS[src][size]
        wd = f"windows/{i}"
        meta = {"source": src, "size": size}
        if src == "orders":
            cdc = cdc_window(rng, next_key, orders_live, recent, n, seq)
            write(f"{wd}/orders_cdc.parquet", cdc)
            ops = cdc.column("op").to_numpy(zero_copy_only=False)
            keys = cdc.column("o_orderkey").to_numpy()
            created = keys[ops == "c"]
            orders_live = np.setdiff1d(np.concatenate([orders_live, created]),
                                       keys[ops == "d"])
            recent, next_key = created, next_key + len(created)
            seq += cdc.num_rows
            meta["rows"] = cdc.num_rows
        elif src in ("docs", "emb"):
            idc = "doc_id" if src == "docs" else "vec_id"
            first = next_id[src]
            add = (documents(rng, first, n) if src == "docs"
                   else embeddings(rng, centers, first, n))
            next_id[src] += n
            write(f"{wd}/{src}_add.parquet", add)
            ids = np.concatenate([live[src], add.column(idc).to_numpy()])
            meta["rows"] = n
            if size == "small":
                # DV deletes of random live rows, then a rewriting delete
                # of an id range inside the segment this window appended,
                # so the rewrite (and the survivors the change feed
                # re-presents) stays the size of the window
                dv = np.sort(rng.choice(ids, n // 8, replace=False))
                write(f"{wd}/{src}_dv.parquet", pa.table({idc: dv}))
                ids = np.setdiff1d(ids, dv)
                lo, hi = first, first + n // 16
                n_rw = int(((ids >= lo) & (ids < hi)).sum())
                ids = ids[(ids < lo) | (ids >= hi)]
                meta["rewrite_range"] = [lo, hi]
                meta["rows"] += len(dv) + n_rw
            live[src] = ids
        else:
            corpus, planted = curation_corpus(rng, next_id["corpus"], n)
            meta["id_range"] = [next_id["corpus"], next_id["corpus"] + n]
            next_id["corpus"] += n
            write(f"{wd}/corpus.parquet", corpus)
            meta["rows"] = n
            meta["shares"] = {"exact_dup_share": planted["exact"] / n,
                              "near_dup_share": planted["near"] / n,
                              "contamination_share": planted["contam"] / n}
        windows.append(meta)
    return windows


PARTS = {
    "ingest_maintain": ("sf", "windows", "probes"),
    "query_mix": ("sf", "probes"),
}
# the base tables ingest_maintain reads (query_mix reads all of them)
INGEST_TABLES = ("orders", "documents", "embeddings")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(PARTS), required=True)
    a = ap.parse_args()
    parts = PARTS[a.workload]
    # one independent stream per part: a part's contents do not depend on
    # which other parts are generated
    rng = {p: np.random.default_rng([a.seed, i]) for i, p in enumerate(
        ("sf", "windows", "probes", "centers"))}
    out = a.out
    digests = {}

    def write(rel, table):
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        digests[rel] = digest(table)

    n_docs, n_emb = 2000, 2000
    centers = rng["centers"].normal(0, 0.125, (10, 64))
    params = {"seed": a.seed, "parts": list(parts), "windows": [],
              "probes": []}
    if "sf" in parts:
        tables = star_schema(rng["sf"])
        tables["documents"] = documents(rng["sf"], 0, n_docs)
        tables["embeddings"] = embeddings(rng["sf"], centers, 0, n_emb)
        for name, tab in tables.items():
            if a.workload != "ingest_maintain" or name in INGEST_TABLES:
                write(f"sf/{name}.parquet", tab)
    if "windows" in parts:
        params["windows"] = write_windows(rng["windows"], write, centers,
                                          n_docs, n_emb)
    if "probes" in parts:
        r = rng["probes"]
        n_cust, n_ord = int(150000 * SF), int(1500000 * SF)
        for _ in range(N_PROBE_PARAMS):
            lo = int(r.integers(0, n_cust - n_cust // 40))
            params["probes"].append({
                "cust_range": [lo, lo + n_cust // 40],
                "point_key": int(r.integers(0, n_ord)),
                "as_of": int(r.integers(1, 4)),
                "phrase": " ".join(r.choice(VOCAB[:200], 3, replace=False)),
                "query_vec_ids": [int(x) for x in r.choice(n_emb, 2, replace=False)],
            })
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params, f, indent=1)
    all_digest = hashlib.sha256(
        json.dumps(digests, sort_keys=True).encode()).hexdigest()[:16]
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump({"seed": a.seed, "parts": list(parts),
                   "input_digest": all_digest, "tables": digests}, f, indent=1)


if __name__ == "__main__":
    main()
