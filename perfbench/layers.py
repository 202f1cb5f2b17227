"""In-process timings of single layers, taken in the traced run only.

Each one calls a module's public function directly on data from the run:
`tokenize_py` on corpus text, `encode_shard_rows` on one shard's
(shard_id, doc_id, dl, term, tf) tuples, and `TermPosting.decode` /
`shard_topk` on the query terms' segment rows of the workload's final
snapshot, read with pyarrow from the store's data dirs.
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from hora_spark.functions.tokenize import tokenize_py
from hora_spark.functions.wand import TermPosting, shard_topk
from hora_spark.operators.segments import encode_shard_rows

K = 10
SCORE_ATOL = 1e-9


def _best(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return min(walls)


def tokenize_tokens_per_s(texts: list[str]) -> float:
    n = sum(len(tokenize_py(t)) for t in texts)
    return n / _best(lambda: [tokenize_py(t) for t in texts])


def encode_docs_per_s(texts: list[str], block_size: int) -> float:
    rows = []
    for doc_id, t in enumerate(texts):
        toks = tokenize_py(t)
        rows += [(0, doc_id, len(toks), term, tf) for term, tf in Counter(toks).items()]
    pdf = pd.DataFrame(rows, columns=["shard_id", "doc_id", "dl", "term", "tf"])
    return len(texts) / _best(lambda: encode_shard_rows(pdf, block_size))


def _read(dirs: list[str], terms: list[str], columns: list[str]) -> pd.DataFrame:
    parts = []
    for d in dirs:
        data = ds.dataset(d, format="parquet", partitioning="hive")
        parts.append(data.to_table(columns=columns,
                                   filter=ds.field("term").isin(terms)).to_pandas())
    return pd.concat(parts, ignore_index=True)


def kernel_layers(store, queries: list[list[str]], bm25) -> dict:
    """WAND pruned vs exhaustive per query (summed over the shards the
    query touches) and posting decode throughput, on the current snapshot.
    Also returns the queries where the two kernels disagree."""
    tables, meta = store.tables(), store.meta()
    terms = sorted({t for q in queries for t in q})
    idf = dict(_read(tables["stats"], terms, ["term", "idf"]).itertuples(index=False))
    seg = _read(tables["segments"], terms,
                ["shard_id", "term", "doc_blocks", "tf_blocks", "dl_blocks",
                 "block_last", "block_tf_max", "block_dl_min"])
    avgdl, k1, b = float(meta["avgdl"]), bm25.k1, bm25.b

    def postings(rows) -> list[TermPosting]:
        out = []
        for r in rows.itertuples(index=False):
            tf_max = np.asarray(r.block_tf_max, np.float64)
            dl_min = np.asarray(r.block_dl_min, np.float64)
            w = idf[r.term]
            out.append(TermPosting(w, list(r.doc_blocks), list(r.tf_blocks),
                                   list(r.dl_blocks), r.block_last,
                                   w * tf_max / (tf_max + k1 * (1 - b + b * dl_min / avgdl))))
        return out

    seg = seg[seg["term"].isin(idf)].sort_values(["shard_id", "term"], kind="mergesort")
    by_shard = {s: g for s, g in seg.groupby("shard_id")}
    pruned_s, exhaustive_s, mismatched = [], [], []
    for q in queries:
        t_p = t_e = 0.0
        for g in by_shard.values():
            rows = g[g["term"].isin(q)]
            if not len(rows):
                continue
            tp_a, tp_e = postings(rows), postings(rows)  # decode caches are per object
            t0 = time.perf_counter()
            a = shard_topk(tp_a, K, avgdl, k1, b, prune=True)
            t1 = time.perf_counter()
            e = shard_topk(tp_e, K, avgdl, k1, b, prune=False)
            t2 = time.perf_counter()
            t_p += t1 - t0
            t_e += t2 - t1
            if not (np.array_equal(a[0], e[0]) and np.allclose(a[1], e[1], rtol=0, atol=SCORE_ATOL)):
                mismatched.append(q)
        pruned_s.append(t_p)
        exhaustive_s.append(t_e)

    n_bytes = sum(len(x) for col in ("doc_blocks", "tf_blocks", "dl_blocks")
                  for blocks in seg[col] for x in blocks)
    walls = []
    for _ in range(3):
        tps = postings(seg)
        t0 = time.perf_counter()
        for tp in tps:
            for j in range(len(tp.block_last)):
                tp.decode(j)
        walls.append(time.perf_counter() - t0)
    return {"pruned_s": pruned_s, "exhaustive_s": exhaustive_s,
            "decode_mb_per_s": n_bytes / 1e6 / min(walls),
            "mismatched": mismatched}
