"""Per-term query boosts (Lucene's term^w): a boosted term's BM25
contribution is multiplied by its weight, and the WAND block upper
bounds scale by the same factor, so block-max pruning stays exact for
any positive weight.

Checked against the INDEPENDENT brute-force DataFrame oracle (boost =
idf scaling on the stats table — a different plan with no segments, no
UDF), plus the standing invariants: pruned ≡ exhaustive, composition
with modes / NOT terms / cursors, per-query boosts inside one batch,
and loud validation of unsound weights."""

import shutil

import pytest

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8,
                                     store_positions=True))
K = 12


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    df = generate_transcripts(spark, 180, seed=13).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("boostidx"))
    eng = Engine(spark, path, CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng, corpus
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def rows(d):
    return [(r["doc_id"], round(r["score"], 9)) for r in d.collect()]


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("boosts", [
    {"water": 2.5},
    {"water": 2.5, "people": 0.25},   # down-weighting too
    {"time": 10.0},
])
def test_boost_matches_oracle(spark, setup, boosts, prune):
    eng, corpus = setup
    q = "water people time"
    want = rows(bruteforce_topk(spark, corpus, q, k=K, boosts=boosts))
    got = rows(eng.search(q, k=K, prune=prune, boosts=boosts))
    assert got == want
    # and boosting genuinely changes the ranking vs the unboosted query
    assert got != rows(eng.search(q, k=K))


def test_boost_composes_with_modes_and_not(spark, setup):
    eng, corpus = setup
    bo = {"water": 3.0}
    want = rows(bruteforce_topk(spark, corpus, "water people", k=K,
                                mode="all", boosts=bo))
    assert rows(eng.search("water people", k=K, mode="all", boosts=bo)) == want
    want = rows(bruteforce_topk(spark, corpus, "water people", k=K,
                                exclude="time", boosts=bo))
    assert rows(eng.search("water people", k=K, exclude="time",
                           boosts=bo)) == want


def test_boost_composes_with_phrase_and_cursor(setup):
    eng, _ = setup
    bo = {"that": 2.0}
    # phrase mode: boosted conjunctive scoring over the phrase terms
    full = rows(eng.search("that is", k=2 * K, mode="phrase", boosts=bo))
    assert full  # phrase occurs in the corpus
    # boosted ranking pages identically through a cursor
    p1 = rows(eng.search("that is", k=K, mode="phrase", boosts=bo))
    cur = (p1[-1][1], p1[-1][0])
    p2 = rows(eng.search("that is", k=K, mode="phrase", boosts=bo,
                         after=cur))
    assert p1 + p2 == full[:len(p1) + len(p2)]


def test_per_query_boosts_in_one_batch(setup):
    eng, _ = setup
    q = "water people"
    res = eng.searches([
        {"text": q},
        {"text": q, "boosts": {"water": 5.0}},
    ], k=K)
    got = {0: [], 1: []}
    for r in res.collect():
        got[r["query_id"]].append((r["doc_id"], round(r["score"], 9)))
    assert got[0] == rows(eng.search(q, k=K))
    assert got[1] == rows(eng.search(q, k=K, boosts={"water": 5.0}))
    assert got[0] != got[1]


def test_boost_of_one_is_identity(setup):
    eng, _ = setup
    assert rows(eng.search("water people", k=K, boosts={"water": 1.0})) == \
        rows(eng.search("water people", k=K))


def test_boost_validation(setup):
    eng, _ = setup
    with pytest.raises(ValueError, match="must be > 0"):
        eng.search("water people", boosts={"water": -1.0}).collect()
    with pytest.raises(ValueError, match="must be > 0"):
        eng.search("water people", boosts={"water": 0.0}).collect()
    with pytest.raises(ValueError, match="not terms of their query"):
        eng.search("water people", boosts={"wine": 2.0}).collect()
    with pytest.raises(ValueError, match="exactly one index token"):
        eng.search("water people", boosts={"a.b": 2.0}).collect()
    # boosting a corpus-absent term the user DID type is a no-op, not
    # an error
    assert rows(eng.search("water zzzqqq", k=K,
                           boosts={"zzzqqq": 9.0})) == \
        rows(eng.search("water", k=K))


def test_boost_on_fuzzy_expansion_member(spark, setup):
    eng, corpus = setup
    # 'has' is an edit-1 neighbor of 'hash'; boosting the expanded term
    # works because membership is checked post-expansion
    want = rows(bruteforce_topk(spark, corpus, "people", k=K,
                                fuzzy_specs=[("hash", 1)],
                                boosts={"has": 2.0}))
    got = rows(eng.search("hash~ people", k=K, expand_prefixes=True,
                          boosts={"has": 2.0}))
    assert got == want
