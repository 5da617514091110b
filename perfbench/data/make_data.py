#!/usr/bin/env python3
"""Makes the committed input sample of the benchmark from the repository's
TPC-H-shaped test data (run by hand; the benchmark itself reads only the
files this writes):

    python3 perfbench/data/make_data.py <testdata dir>   # holds sf0.001/, sf0.1/

* ``tpch_sf0.001.json.gz``: the sf0.001 ``orders``, ``customer``, ``nation``,
  ``lineitem`` and ``part`` tables, with the columns the benchmark's
  relation tree reads, rows in file order.
* ``documents_sf0.1.jsonl.gz``: the sf0.1 ``documents`` corpus (``doc_id``,
  ``text``) plus ``cluster``: the smallest ``doc_id`` of the document's
  near-duplicate cluster, i.e. the connected components of the pairs with
  exact character-5-gram Jaccard >= 3/5 (the q_dedup_ngram definition).
  The generator samples whole clusters, so a sample keeps the corpus's
  near-duplicate structure.

Needs duckdb and numpy.
"""
import gzip
import io
import json
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
COLUMNS = {
    "orders": "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority",
    "customer": "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment",
    "nation": "n_nationkey, n_name, n_regionkey",
    "lineitem": ("l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
                 "l_discount, l_returnflag, l_linestatus"),
    "part": "p_partkey, p_name, p_brand, p_size, p_retailprice",
}


def gz_text(path):
    """A gzip text writer with a fixed header time, so that the same input
    gives the same bytes."""
    return io.TextIOWrapper(gzip.GzipFile(path, "wb", mtime=0), encoding="utf-8")


def rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def clusters(docs, n=5, num=3, den=5):
    """Connected components of the pairs with gram Jaccard >= num/den, by an
    exact all-pairs intersection count over a document x gram matrix."""
    grams = [{t[i:i + n] for i in range(max(len(t) - (n - 1), 1))} for _, t in docs]
    index = {g: j for j, g in enumerate(sorted(set().union(*grams)))}
    m = np.zeros((len(docs), len(index)), dtype=np.float32)
    for i, gs in enumerate(grams):
        m[i, [index[g] for g in gs]] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    union = size[:, None] + size[None, :] - inter
    a, b = np.nonzero(np.triu(inter * den >= union * num, k=1))
    parent = list(range(len(docs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for i, j in zip(a.tolist(), b.tolist()):
        ri, rj = find(i), find(j)
        parent[max(ri, rj)] = min(ri, rj)
    return [docs[find(i)][0] for i in range(len(docs))], len(a)


def main():
    src = sys.argv[1]
    con = duckdb.connect()
    tables = {t: rows(con, "SELECT %s FROM read_parquet('%s')"
                      % (cols, os.path.join(src, "sf0.001", t + ".parquet")))
              for t, cols in COLUMNS.items()}
    with gz_text(os.path.join(HERE, "tpch_sf0.001.json.gz")) as f:
        json.dump(tables, f, separators=(",", ":"))
    docs = con.execute("SELECT doc_id, text FROM read_parquet('%s') ORDER BY doc_id"
                       % os.path.join(src, "sf0.1", "documents.parquet")).fetchall()
    cl, pairs = clusters(docs)
    with gz_text(os.path.join(HERE, "documents_sf0.1.jsonl.gz")) as f:
        for (i, t), c in zip(docs, cl):
            f.write(json.dumps({"doc_id": i, "text": t, "cluster": c}) + "\n")
    print({t: len(r) for t, r in tables.items()}, "docs", len(docs), "pairs", pairs)


if __name__ == "__main__":
    main()
