#!/usr/bin/env python
"""Dump .explain("formatted") for every query path touched in round 6.

Usage: python tools/dump_plans_r06.py <plans_dir> <tag>
Run from the round-start worktree with tag=before and from the optimized
tree with tag=after; the judge checks plan claims against these files.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLANS_DIR = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "plans", "r06")
TAG = sys.argv[2] if len(sys.argv) > 2 else "after"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from hora_spark.config import EngineConfig, IndexConfig
    from hora_spark.engine import Engine
    from hora_spark.operators import dedup, textstats
    from hora_spark.session import get_spark

    spark = get_spark("plans_r06", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    def dump(df, name):
        p = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(PLANS_DIR, f"{name}_{TAG}.txt"), "w") as f:
            f.write(p)
        print("dumped", name, file=sys.stderr)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = tempfile.mkdtemp(prefix="plans_idx_")
    eng = Engine(spark, idx,
                 EngineConfig(index=IndexConfig(block_size=128, n_buckets=16)))
    eng.build(docs, id_col="doc_id")

    dump(eng.search("join hash row", k=10), "search_single")
    dump(eng.searches(["join hash row", "dup join"] * 50, k=10),
         "search_batched_100")
    dump(eng.matches(["dup join"]), "search_matches")
    dump(eng.facets(["join hash row"], docs, "lang"), "facet_lang")
    dump(eng.search("join hash row", k=10, exclude="dup"), "search_excluded")
    dump(eng.significant_terms(["join hash row"], docs, k_terms=15),
         "significant_terms")
    dump(eng.suggest("joib hashh windo", n=3), "spell_suggest")

    from hora_spark.operators.corpus import prepare
    from hora_spark.operators.oracle import bruteforce_topk
    c = prepare(docs, id_col="doc_id")
    dump(bruteforce_topk(spark, c, "join hash row", k=10), "bm25_topk_hot")

    dump(dedup.exact_dedup(docs), "exact_dedup")
    dump(entrymod._q_exact_dedup_count(spark, SF_DIR), "exact_dedup_count")
    df200 = docs.filter(F.col("doc_id") < 200)
    dump(dedup.jaccard_pairs(
        df200, dedup.minhash_lsh_candidates(df200, n_hashes=8, bands=4,
                                            max_bucket=1000)),
         "minhash_lsh_pairs")
    dump(entrymod._q_textstats(spark, SF_DIR), "text_stats")
    dump(textstats.analyze(docs), "textstats_analyze")

    from hora_spark.operators import similarity
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dump(similarity.bruteforce_knn(emb, queries, k=10), "knn_bruteforce")

    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
