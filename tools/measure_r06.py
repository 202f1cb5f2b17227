#!/usr/bin/env python
"""Round-6 measurement harness (guide §1): per-key phase breakdown +
.explain("formatted") capture for the paths under optimization.

Usage: python tools/measure_r06.py [--plans-dir plans/r06] [--tag before]

Times are steady-state (untimed warmup build, same methodology as
bench.py), each key sampled N times with the min reported. The bench
itself stays frozen — these numbers go to OPTIMIZATION_r06.md only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

QUERY_SET = [
    "join hash row", "scan window spark", "dup", "dup join",
    "filter merge sort batch stream", "the fast key", "column vector",
    "big small slow", "query order group", "value data line",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r06"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    os.makedirs(args.plans_dir, exist_ok=True)

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from hora_spark.config import EngineConfig, IndexConfig
    from hora_spark.engine import Engine
    from hora_spark.session import get_spark

    spark = get_spark("measure_r06", cores=CPUS)
    sc = spark.sparkContext

    def plan_of(df, name: str) -> None:
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(p)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    n_docs = docs.count()
    print(f"[measure] docs={n_docs}", file=sys.stderr)

    # untimed warmup (JIT) — same as bench.py
    warm = tempfile.mkdtemp(prefix="m6_warm_")
    Engine(spark, warm, EngineConfig(index=IndexConfig(block_size=128, n_buckets=16))).build(
        docs.limit(5000), id_col="doc_id")
    shutil.rmtree(warm, ignore_errors=True)

    out: dict[str, object] = {}

    def timed(name, fn, reps=args.reps, desc=None):
        sc.setJobDescription(desc or name)
        walls = []
        res = None
        for _ in range(reps):
            t0 = time.perf_counter()
            res = fn()
            walls.append(round(time.perf_counter() - t0, 4))
        sc.setJobDescription(None)
        out[name] = {"min": min(walls), "all": walls}
        print(f"[measure] {name}: min {min(walls)} all {walls}", file=sys.stderr)
        return res

    # ---- build --------------------------------------------------------------
    def one_build():
        path = tempfile.mkdtemp(prefix="m6_idx_")
        eng = Engine(spark, path,
                     EngineConfig(index=IndexConfig(block_size=128, n_buckets=16)))
        eng.build(docs, id_col="doc_id")
        return path, eng

    t0 = time.perf_counter()
    idx_path, eng = one_build()
    out["build_docs_first"] = round(time.perf_counter() - t0, 4)
    timed("build_docs", lambda: shutil.rmtree(one_build()[0], ignore_errors=True), reps=2)

    # ---- search: cold idf vs warm idf (job-count attribution) ---------------
    def fresh_engine():
        e = Engine(spark, idx_path,
                   EngineConfig(index=IndexConfig(block_size=128, n_buckets=16)))
        return e

    timed("search_single_coldidf",
          lambda: fresh_engine().search("join hash row", k=10).collect())
    eng.search("join hash row", k=10).collect()  # seed cache
    timed("search_single_warmidf",
          lambda: eng.search("join hash row", k=10).collect())
    timed("search_total_10", lambda: [
        fresh_engine().search(q, k=10).collect() for q in [QUERY_SET[0]]
    ] and [eng2.search(q, k=10).collect()
           for eng2 in [fresh_engine()] for q in QUERY_SET], reps=1)
    timed("search_batched_100",
          lambda: eng.searches(QUERY_SET * 10, k=10).collect())
    plan_of(eng.search("join hash row", k=10), "search_single")
    plan_of(eng.searches(QUERY_SET * 10, k=10), "search_batched_100")

    # ---- matches / facets ---------------------------------------------------
    timed("search_matches", lambda: eng.matches(["dup join"]).count())
    timed("facet_lang",
          lambda: eng.facets(["join hash row"], docs, "lang").collect())
    plan_of(eng.matches(["dup join"]), "search_matches")
    plan_of(eng.facets(["join hash row"], docs, "lang"), "facet_lang")

    # ---- brute oracle / corpus ---------------------------------------------
    from hora_spark.operators import dedup
    from hora_spark.operators.corpus import prepare
    from hora_spark.operators.oracle import bruteforce_topk

    t0 = time.perf_counter()
    c = prepare(docs, id_col="doc_id")
    r = bruteforce_topk(spark, c, "join hash row", k=10).collect()
    out["bm25_topk_hot_first"] = round(time.perf_counter() - t0, 4)
    timed("bm25_topk_hot_warm",
          lambda: bruteforce_topk(spark, c, "join hash row", k=10).collect())
    plan_of(bruteforce_topk(spark, c, "join hash row", k=10), "bm25_topk_hot")

    # ---- dedup keys ---------------------------------------------------------
    timed("exact_dedup_count", lambda: dedup.exact_dedup(docs).agg(
        F.count(F.lit(1)).alias("n_kept")).collect())
    plan_of(dedup.exact_dedup(docs).agg(F.count(F.lit(1)).alias("n_kept")),
            "exact_dedup_count")

    def lsh():
        df = docs.filter(F.col("doc_id") < 200)
        pairs = dedup.minhash_lsh_candidates(df, n_hashes=8, bands=4,
                                             max_bucket=1000)
        return dedup.jaccard_pairs(df, pairs).collect()

    timed("minhash_lsh_pairs", lsh)
    df200 = docs.filter(F.col("doc_id") < 200)
    plan_of(dedup.jaccard_pairs(
        df200, dedup.minhash_lsh_candidates(df200, n_hashes=8, bands=4,
                                            max_bucket=1000)),
            "minhash_lsh_pairs")

    # ---- text stats ---------------------------------------------------------
    from hora_spark.operators import textstats
    timed("text_stats", lambda: textstats.analyze(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "mean_token_len", "is_english").collect())

    # ---- rescore / route (positional engine) --------------------------------
    pos_path = tempfile.mkdtemp(prefix="m6_pos_")
    pos_eng = Engine(spark, pos_path, EngineConfig(index=IndexConfig(
        block_size=128, n_buckets=16, store_positions=True,
        field_cols=("lang", "source"))))
    t0 = time.perf_counter()
    pos_eng.build(docs, id_col="doc_id")
    out["build_positions_first"] = round(time.perf_counter() - t0, 4)
    timed("rescore_phrase", lambda: pos_eng.rescore(
        "part filter", k=10, window_size=50, rescore_weight=0.5).collect())
    timed("route_batch", lambda: eng.route(
        docs, ["join hash row", "water stream people"], min_score=0.5).collect())
    timed("search_phrase", lambda: pos_eng.search(
        "part filter", k=10, mode="phrase").collect())
    timed("search_fielded", lambda: pos_eng.search(
        "join hash row", k=10, fields={"lang": "en"},
        fields_not={"source": "src1"}).collect())
    timed("search_fuzzy_boosted", lambda: eng.search(
        "hash~ join", k=10, expand_prefixes=True, boosts={"join": 2.0}).collect())
    timed("search_wildcard", lambda: eng.search(
        "*ow h?sh", k=10, expand_prefixes=True).collect())
    timed("significant_terms", lambda: eng.significant_terms(
        ["join hash row"], docs, k_terms=15).collect())
    timed("spell_suggest", lambda: eng.suggest("joib hashh windo", n=3).collect())
    shutil.rmtree(pos_path, ignore_errors=True)
    shutil.rmtree(idx_path, ignore_errors=True)

    print(json.dumps({"tag": args.tag, "sf_dir": SF_DIR, "n_docs": n_docs,
                      "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
