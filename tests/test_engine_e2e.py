"""End-to-end: deterministic transcripts → build → search, indexed WAND
path rank-identical to the brute-force oracle (the distributed, asserted
version of /root/reference/src/lib.rs:53-113, where every index is judged
against BruteForceIndex).
"""

import shutil

import numpy as np
import pytest

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk

N_CONVS = 120
SEED = 7

QUERIES = [
    "the of and",                 # hot Zipf head terms
    "water people time",          # mid-frequency
    "w00123 w00456",              # tail terms
    "the w04999",                 # hot + rare mix
    "zzzqqqxx yyzzwwvv",          # absent → empty result
    "first been its who now",     # 5-term
    "the",                        # single hot term
]


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, N_CONVS, seed=SEED).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def engine(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx"))
    eng = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=16, n_buckets=8)))
    eng.build(transcripts, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark, transcripts):
    return prepare(transcripts, id_col=None, order_cols=["conv_id", "turn_idx"])


def test_datagen_deterministic(spark):
    a = generate_transcripts(spark, 10, seed=3).orderBy("conv_id", "turn_idx").collect()
    b = generate_transcripts(spark, 10, seed=3, partitions=3).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    assert len(a) >= 20  # ≥2 turns per conv


def test_built_and_lineage(engine):
    assert engine.built()
    lin = engine.idx_info().collect()
    assert len(lin) > 0
    for r in lin:
        assert r["doc_count"] > 0 and r["bytes"] > 0 and r["wall_time_s"] >= 0
        assert r["term_lo"] <= r["term_hi"]


@pytest.mark.parametrize("k", [1, 10, 50])
def test_indexed_matches_oracle(spark, engine, corpus, k):
    for q in QUERIES:
        got = engine.search(q, k=k).collect()
        want = bruteforce_topk(spark, corpus, q, k=k).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], f"ids differ for {q!r}"
        np.testing.assert_allclose(
            [r["score"] for r in got], [r["score"] for r in want], rtol=0, atol=1e-9,
            err_msg=f"scores differ for {q!r}",
        )


def test_pruned_matches_exhaustive_spark(engine):
    for q in QUERIES:
        a = engine.search(q, k=20, prune=True).collect()
        b = engine.search(q, k=20, prune=False).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
        np.testing.assert_allclose([r["score"] for r in a], [r["score"] for r in b], atol=1e-12)


def test_batched_equals_individual(engine):
    batch = {r["query_id"]: [] for r in []}
    res = engine.searches(QUERIES[:4], k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for i, q in enumerate(QUERIES[:4]):
        single = [(r["doc_id"], r["score"]) for r in engine.search(q, k=10).collect()]
        assert by_q.get(i, []) == single


def test_absent_query_empty(engine):
    assert engine.search("zzzqqqxx yyzzwwvv", k=10).count() == 0
