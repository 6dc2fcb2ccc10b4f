#!/usr/bin/env python3
"""Row-count oracle for the curated export of one corpus batch.

Usage: python3 perfbench/oracle.py <corpus.parquet> [--sql <e4 oracle SQL file>]

A direct Python replay of the DuckDB oracle SQL of catalog gate
e4_curated_pipeline (SparkEntry.oracleSql), which states the curation
chain relationally: the scored language gate (English markers hold the
maximum marker count and >= 500 permille of them) and 20-token floor,
exact dedup on the normalized text (min doc_id wins), SimHash value-graph
near-dup components at Hamming distance <= 1 (min doc_id per component
survives), decontamination against every 3-word shingle of the
doc_id % 89 == 0 slice, PII redaction of the appended contact suffix, and
chunking into max(ceil((tokens - 8) / 24), 1) chunks. DuckDB needs minutes
for that SQL on a corpus of a few hundred documents; this replay takes
seconds on twelve thousand. With --sql it also runs the SQL under DuckDB
and prints both counts, the cross-check that the replay matches it.
"""
import math
import re
import sys

import pyarrow.parquet as pq

MARKERS = {
    "en": {"the", "and", "of", "to", "is", "in", "that", "it", "for", "with"},
    "fr": {"le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"},
    "es": {"el", "la", "los", "las", "y", "de", "que", "es", "en", "por"},
    "de": {"der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"},
}
PII = [(re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
       (re.compile(r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"), "<SSN>"),
       (re.compile(r"\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\b"), "<PHONE>"),
       (re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"), "<IP>")]


def tokens(s):
    """The chain's tokenizer: lower-cased, split on whitespace."""
    return [x for x in re.split(r"\s+", s.lower().strip(" ")) if x != ""]


def simhash(toks):
    """32-bit SimHash over per-token polynomial (x31) hashes."""
    hs = []
    for t in toks:
        h = 0
        for c in t:
            h = (h * 31 + ord(c)) % 4294967296
        hs.append(h)
    sh = 0
    for b in range(32):
        if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
            sh |= 1 << b
    return sh


def curated_rows(ids, texts):
    """Rows the curated export of this corpus holds (its total chunks)."""
    toks = [tokens(t) for t in texts]
    gated = []
    for d, t, tk in zip(ids, texts, toks):
        s = set(tk)
        sc = {k: len(s & m) for k, m in MARKERS.items()}
        m, tot = max(sc.values()), sum(sc.values())
        if m > 0 and sc["en"] == m and (2 * 1000 * m + tot) // (2 * tot) >= 500 \
                and len(tk) >= 20:
            gated.append((d, t, tk))
    first = {}
    for d, t, tk in gated:
        key = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", t.lower())).strip(" ")
        if key not in first or d < first[key][0]:
            first[key] = (d, t, tk)
    ex = sorted(first.values())
    sh = {d: simhash(tk) for d, _, tk in ex}
    # value-graph components: values at Hamming distance <= 1
    vals = sorted(set(sh.values()))
    parent = {v: v for v in vals}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v
    vs = set(vals)
    for v in vals:
        for b in range(32):
            u = v ^ (1 << b)
            if u in vs:
                a, c = find(u), find(v)
                if a != c:
                    parent[max(a, c)] = min(a, c)
    best = {}
    for d in sh:
        r = find(sh[d])
        best[r] = min(best.get(r, d), d)
    survivors = set(best.values())
    def shingles(tk):
        return {" ".join(tk[j:j + 3]) for j in range(max(len(tk) - 2, 0))}
    bench = set()
    for d, tk in zip(ids, toks):
        if d % 89 == 0:
            bench |= shingles(tk)
    total = 0
    for d, t, tk in ex:
        if d not in survivors or d % 89 == 0 or shingles(tk) & bench:
            continue
        red = t + f" reach user{d}@example.com or 555-123-4567 or 10.0.0.{d % 256}"
        for rx, rep in PII:
            red = rx.sub(rep, red)
        n = len(tokens(red))
        total += max(math.ceil((n - 8) / 24.0), 1)
    return total


def main():
    t = pq.read_table(sys.argv[1], columns=["doc_id", "text"]).to_pydict()
    print("replay:", curated_rows(t["doc_id"], t["text"]))
    if len(sys.argv) > 3 and sys.argv[2] == "--sql":
        import duckdb
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sys.argv[1]}')")
        cur = con.execute(open(sys.argv[3]).read())
        cols = [d[0] for d in cur.description]
        print("duckdb:", sum(r[cols.index("n_chunks")] for r in cur.fetchall()))


if __name__ == "__main__":
    main()
