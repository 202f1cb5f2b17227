"""Unordered proximity (mode='near_unordered'): the doc matches iff SOME
occurrence of ANY query term has every OTHER distinct term within
near_window tokens — order-free, closer to Lucene slop than the anchored
'near' mode (which pins the anchor to the FIRST query term). Identical to
'near' for 2-term queries (|p−q| ≤ w is symmetric); strictly more
permissive from 3 terms up. Scored conjunctively, like every positional
mode."""

import shutil

import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.functions.tokenize import tokenize_py
from hora_spark.operators.corpus import assign_doc_ids, prepare
from hora_spark.operators.oracle import bruteforce_topk

PCFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8,
                                      store_positions=True))
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"


def test_unordered_hand_cases(spark, tmp_path):
    rows = [
        ("c0", 0, "u", "a b c", None),       # 0: b anchors (a,c within 1)
        ("c0", 1, "u", "c b a", None),       # 1: same, reversed
        ("c0", 2, "u", "a x b x c", None),   # 2: no anchor at w=1
        ("c0", 3, "u", "a c b", None),       # 3: c anchors
        ("c0", 4, "u", "a b x x c", None),   # 4: c too far from any
        ("c0", 5, "u", "x a b c y a", None), # 5: b anchors mid-doc
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "u"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])

    def got(mode, w):
        return sorted(r["doc_id"] for r in
                      eng.search("a b c", k=10, mode=mode, near_window=w).collect())

    # w=1: anchored near needs b AND c within 1 of some 'a' — impossible
    # in docs 0/1/3/5 (span is 2) — while the middle term anchors them
    assert got("near", 1) == []
    assert got("near_unordered", 1) == [0, 1, 3, 5]
    # w=2: the anchored mode catches the span-2 docs; unordered also
    # gets doc 2 ("a x b x c" — b anchors with a,c both at distance 2)
    assert got("near", 2) == [0, 1, 3, 5]
    assert got("near_unordered", 2) == [0, 1, 2, 3, 5]
    # w=4 both include the spread-out docs
    assert got("near", 4) == [0, 1, 2, 3, 4, 5]
    # scores equal the conjunctive scores of the same docs
    un = {r["doc_id"]: r["score"] for r in
          eng.search("a b c", k=10, mode="near_unordered", near_window=1).collect()}
    cj = {r["doc_id"]: r["score"] for r in
          eng.search("a b c", k=10, mode="all").collect()}
    for d, s in un.items():
        assert cj[d] == s
    shutil.rmtree(str(tmp_path / "u"), ignore_errors=True)


@pytest.fixture(scope="module")
def rnd(spark, tmp_path_factory):
    df = generate_transcripts(spark, 70, seed=23).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("uidx"))
    eng = Engine(spark, path, PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    with_ids = assign_doc_ids(df, ["conv_id", "turn_idx"])
    yield eng, corpus, with_ids
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def _py_unordered_match(tokens, terms, w):
    pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in terms}
    if any(not p for p in pos.values()):
        return False
    for t in terms:
        for p in pos[t]:
            if all(any(abs(q - p) <= w for q in pos[o])
                   for o in terms if o != t):
                return True
    return False


@pytest.mark.parametrize("query,w", [
    ("the of and", 2), ("water people", 3), ("the same first", 1),
    ("of the water", 2),
])
def test_unordered_matches_python_oracle(spark, rnd, query, w):
    """Engine match set + scores == conjunctive brute force filtered by a
    direct python position-scan of the tokenized text."""
    eng, corpus, with_ids = rnd
    terms = sorted(set(tokenize_py(query)))
    texts = {r["doc_id"]: r["text"] for r in with_ids.collect()}
    want_ids = {d for d, t in texts.items()
                if _py_unordered_match(tokenize_py(t or ""), terms, w)}
    full = bruteforce_topk(spark, corpus, query, k=1 << 30, mode="all")
    want = [(r["doc_id"], round(r["score"], 9))
            for r in full.collect() if r["doc_id"] in want_ids][:15]
    for prune in (True, False):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               eng.search(query, k=15, mode="near_unordered", near_window=w,
                          prune=prune).collect()]
        assert got == want, (query, w, prune)


def test_subset_chain_near_unordered(spark, rnd):
    """phrase ⊆ near(span) ⊆ near_unordered(span) ⊆ conjunctive, and
    near == near_unordered exactly for 2-term queries."""
    eng, _, _ = rnd
    big = 1 << 20
    exercised = False
    for q in ["the of and", "water people said", "of the"]:
        w = len(q.split()) - 1
        nr = {r["doc_id"] for r in eng.search(
            q, k=big, mode="near", near_window=w).collect()}
        un = {r["doc_id"] for r in eng.search(
            q, k=big, mode="near_unordered", near_window=w).collect()}
        cj = {r["doc_id"] for r in eng.search(q, k=big, mode="all").collect()}
        assert nr <= un <= cj, q
        if len(set(q.split())) == 2:
            assert nr == un, q
        exercised = exercised or bool(un)
    assert exercised
