"""Filtered search: exact top-k restricted to a caller-supplied keep-list
(doc ids), scores frozen at the unfiltered global-stats values — the
deletes convention inverted. Both physical forms (broadcast array and the
shard-cogroup tagged-aux path) must return identical results, equal to
the brute-force oracle filtered the naive way."""

import dataclasses
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
QUERIES = ["the of and", "water people time", "w00123 the"]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    df = generate_transcripts(spark, 80, seed=31).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("fidx"))
    eng = Engine(spark, path, CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng, corpus
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def _oracle_filtered(spark, corpus, q, allowed_pred, k):
    """Naive oracle: score everything, keep rows passing the predicate,
    THEN take top-k (global stats, filter pre-heap)."""
    full = bruteforce_topk(spark, corpus, q, k=1 << 30)
    return (full.filter(allowed_pred)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


@pytest.mark.parametrize("mod", [3, 7])
def test_filtered_matches_oracle_both_paths(spark, setup, mod):
    eng, corpus = setup
    pred = (F.col("doc_id") % mod) == 0
    fdf = corpus.docs.filter(pred).select("doc_id")

    # cogroup twin: force the big path by zeroing the broadcast ceiling
    eng_cg = Engine(spark, eng.store.root,
                    dataclasses.replace(CFG, max_broadcast_deletes=0))
    for q in QUERIES:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in _oracle_filtered(spark, corpus, q, pred, 15).collect()]
        got_b = [(r["doc_id"], round(r["score"], 9))
                 for r in eng.search_filtered(q, fdf, k=15).collect()]
        got_c = [(r["doc_id"], round(r["score"], 9))
                 for r in eng_cg.search_filtered(q, fdf, k=15).collect()]
        assert got_b == want, (q, "broadcast")
        assert got_c == want, (q, "cogroup")
        # every result passes the filter; scores equal the UNFILTERED ones
        assert all(d % mod == 0 for d, _ in got_b)


def test_filter_with_deletes_composes(spark, setup, tmp_path):
    """Deletes and a keep-list together: result = filter ∩ survivors,
    scores unchanged — in both physical forms."""
    eng, corpus = setup
    # fresh engine sharing the same index data but its own delete state
    path = str(tmp_path / "fd")
    shutil.copytree(eng.store.root, path)
    e2 = Engine(spark, path, CFG)
    pred = (F.col("doc_id") % 3) == 0
    fdf = corpus.docs.filter(pred).select("doc_id")
    base = e2.search_filtered("the of and", fdf, k=10).collect()
    top = base[0]["doc_id"]
    e2.delete([int(top)])
    e2_cg = Engine(spark, path, dataclasses.replace(CFG, max_broadcast_deletes=0))
    for e in (e2, e2_cg):
        got = e.search_filtered("the of and", fdf, k=10).collect()
        assert top not in [r["doc_id"] for r in got]
        # survivors keep their exact pre-delete scores/order
        want = [(r["doc_id"], r["score"]) for r in base if r["doc_id"] != top]
        assert [(r["doc_id"], r["score"]) for r in got][:len(want)] == want
    shutil.rmtree(path, ignore_errors=True)


def test_empty_and_full_filters(spark, setup):
    eng, corpus = setup
    empty = spark.createDataFrame([], "doc_id long")
    assert eng.search_filtered("the of and", empty, k=10).count() == 0
    all_docs = corpus.docs.select("doc_id")
    got = [(r["doc_id"], r["score"])
           for r in eng.search_filtered("the of and", all_docs, k=10).collect()]
    want = [(r["doc_id"], r["score"])
            for r in eng.search("the of and", k=10).collect()]
    assert got == want
