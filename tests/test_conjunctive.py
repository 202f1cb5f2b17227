"""Conjunctive (AND) search: exact top-k among docs matching EVERY
distinct query term, scores = the usual BM25 sums. Pruned ≡ exhaustive ≡
brute-force oracle; absent terms empty the result; composes with deletes,
filters, and append-delta multi-source postings."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
AND_QUERIES = ["the of and", "water people", "the w00123", "water people time its"]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    df = generate_transcripts(spark, 100, seed=17).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("cidx"))
    eng = Engine(spark, path, CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng, corpus
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def test_conjunctive_matches_oracle_pruned_and_exhaustive(spark, setup):
    eng, corpus = setup
    for q in AND_QUERIES:
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                bruteforce_topk(spark, corpus, q, k=15, mode="all").collect()]
        for prune in (True, False):
            got = [(r["doc_id"], round(r["score"], 9)) for r in
                   eng.search(q, k=15, prune=prune, mode="all").collect()]
            assert got == want, (q, prune)
        # AND results are a subset of OR results' doc set at k=inf;
        # every AND result's score equals its OR score
        or_scores = {r["doc_id"]: round(r["score"], 9) for r in
                     bruteforce_topk(spark, corpus, q, k=1 << 30).collect()}
        for d, s in want:
            assert or_scores[d] == s


def test_conjunctive_absent_term_empties(spark, setup):
    eng, _ = setup
    assert eng.search("the zzzqqqxx", k=10, mode="all").count() == 0
    # same words OR-mode still match
    assert eng.search("the zzzqqqxx", k=10, mode="any").count() == 10


def test_conjunctive_single_term_equals_any(spark, setup):
    eng, _ = setup
    a = [(r["doc_id"], r["score"]) for r in eng.search("water", k=10, mode="all").collect()]
    b = [(r["doc_id"], r["score"]) for r in eng.search("water", k=10, mode="any").collect()]
    assert a == b


def test_conjunctive_across_append_sources(spark, tmp_path):
    """Multi-source postings (base + delta) must not double-count a doc's
    matched terms: contribution counting relies on disjoint doc ranges."""
    from hora_spark.streaming.incremental import append_build

    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame(
        [("c0", 0, "u", "alpha beta gamma", None),
         ("c0", 1, "u", "alpha beta", None),
         ("c1", 0, "u", "alpha", None)], schema)
    eng = Engine(spark, str(tmp_path / "ap"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    delta = spark.createDataFrame(
        [("x0", 0, "u", "alpha beta delta", None),
         ("x1", 0, "u", "beta", None)], schema)
    append_build(spark, eng.store, delta, cfg=CFG, batch_id="d1")
    got = [r["doc_id"] for r in eng.search("alpha beta", k=10, mode="all").collect()]
    # docs 0, 1 (base) and 3 (delta) contain both; 2 and 4 only one
    assert sorted(got) == [0, 1, 3]


def test_conjunctive_with_filter_and_delete(spark, setup, tmp_path):
    eng, corpus = setup
    path = str(tmp_path / "cf")
    shutil.copytree(eng.store.root, path)
    e2 = Engine(spark, path, CFG)
    fdf = corpus.docs.filter((F.col("doc_id") % 2) == 0).select("doc_id")
    base = e2.searches(["water people"], k=10, mode="all", filter_df=fdf).collect()
    assert base and all(r["doc_id"] % 2 == 0 for r in base)
    top = base[0]["doc_id"]
    e2.delete([int(top)])
    after = e2.searches(["water people"], k=10, mode="all", filter_df=fdf).collect()
    assert top not in [r["doc_id"] for r in after]
    shutil.rmtree(path, ignore_errors=True)
