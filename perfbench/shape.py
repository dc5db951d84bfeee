"""Prints the shape of a TPC-H-style test data directory that perfbench's
generators copy (see perfbench/README.md, "Input shape").

Usage:  python3 perfbench/shape.py <dir holding lineitem.parquet,
        documents.parquet and embeddings.parquet>

Needs duckdb and numpy. The benchmark itself does not run this: a run may
read only its own checkout, so it generates inputs of this shape instead.
"""
import collections
import itertools
import os
import sys

import duckdb
import numpy as np


def main():
    d = sys.argv[1]
    con = duckdb.connect()

    def q(sql, **tables):
        for name, f in tables.items():
            sql = sql.replace(name, f"'{os.path.join(d, f + '.parquet')}'")
        return con.sql(sql).fetchall()

    li = {"LI": "lineitem"}
    print("lineitem ship months, lines per order:", q(
        "SELECT count(DISTINCT date_trunc('month', l_shipdate)), "
        "min(l_shipdate), max(l_shipdate), "
        "count(*) / count(DISTINCT l_orderkey) FROM LI", **li))

    doc = {"DOC": "documents"}
    texts = [r[0] for r in q("SELECT text FROM DOC ORDER BY doc_id", **doc)]
    toks = [t.split(" ") for t in texts]
    print("documents:", len(texts), "words a document (min, median, max):",
          min(map(len, toks)), int(np.median([len(t) for t in toks])),
          max(map(len, toks)))
    print("vocabulary:", sorted({w for t in toks for w in t}))
    print("sources:", q("SELECT count(DISTINCT source) FROM DOC", **doc))
    print("languages:", q("SELECT lang, count(*) FROM DOC GROUP BY lang "
                          "ORDER BY lang", **doc))
    print("exact copies:", len(texts) - len(set(texts)))

    # near duplicates: pairs sharing 3-gram shingles, by exact Jaccard
    sh = [{tuple(t[i:i + 3]) for i in range(len(t) - 2)} for t in toks]
    holders = collections.defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            holders[g].append(i)
    shared = collections.Counter()
    for ds in holders.values():
        if len(ds) < 60:  # a common shingle says nothing about a pair
            shared.update(itertools.combinations(ds, 2))
    near = [(a, b) for (a, b), k in shared.items() if k >= 3 and
            len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5]
    grown = sum(abs(len(toks[a]) - len(toks[b])) == 1 and
                toks[a][:min(len(toks[a]), len(toks[b]))] ==
                toks[b][:min(len(toks[a]), len(toks[b]))] for a, b in near)
    print("near-duplicate pairs (Jaccard >= 0.5):", len(near),
          "of which one word appended:", grown,
          "documents in them:", len({x for p in near for x in p}))
    rep = [1 - len({tuple(t[i:i + 3]) for i in range(len(t) - 2)}) / (len(t) - 2)
           for t in toks if len(t) >= 3]
    print("share with dup_3gram_frac > 0.2:", np.mean(np.array(rep) > 0.2))

    emb = {"EMB": "embeddings"}
    rows = q("SELECT embedding, label FROM EMB", **emb)
    e = np.array([r[0] for r in rows])
    labels = np.array([r[1] for r in rows])
    u = e / np.linalg.norm(e, axis=1)[:, None]
    sims = u @ u.T
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    other = ~same
    np.fill_diagonal(other, False)
    print("embeddings:", e.shape, "norms:", np.linalg.norm(e, axis=1).min(),
          np.linalg.norm(e, axis=1).max())
    print("mean cosine, same label vs other:", sims[same].mean(),
          sims[other].mean())


if __name__ == "__main__":
    main()
