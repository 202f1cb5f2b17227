"""Fuzzy (edit-distance) query expansion: "tok~" / "tok~2" expands
against the index dictionary to every term within levenshtein distance
1 / 2 of the stem (stem included), each expansion scored with its own
idf — Lucene's FuzzyQuery scoring-boolean rewrite over the same
machinery as prefix queries.

Checked against the INDEPENDENT brute-force DataFrame oracle, whose
expansion runs a DIFFERENT levenshtein (JVM built-in over the stats
table vs the engine's length-window scan + driver-side verify), and a
pure-Python edit-distance recount of the expansion set."""

import shutil

import pytest

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
K = 10


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    df = generate_transcripts(spark, 200, seed=7).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("fuzzidx"))
    eng = Engine(spark, path, CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng, corpus
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def rows(d):
    return [(r["doc_id"], round(r["score"], 9)) for r in d.collect()]


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("prune", [True, False])
def test_fuzzy_matches_oracle(spark, setup, prune):
    eng, corpus = setup
    want = rows(bruteforce_topk(spark, corpus, "people", k=K,
                                fuzzy_specs=[("hash", 1)]))
    got = rows(eng.search("hash~ people", k=K, prune=prune,
                          expand_prefixes=True))
    assert got == want


def test_fuzzy_distance_2_and_expansion_set(spark, setup):
    eng, corpus = setup
    want = rows(bruteforce_topk(spark, corpus, "", k=K,
                                fuzzy_specs=[("water", 2)]))
    assert rows(eng.search("water~2", k=K, expand_prefixes=True)) == want
    # the cached expansion set == a pure-Python recount over the dictionary
    cache = eng._idf_caches[eng.store.current_version()]
    vocab = [r["term"] for r in corpus.term_stats.select("term").collect()]
    expect = sorted(t for t in vocab if _py_lev(t, "water") <= 2)
    assert sorted(cache["~2:water"]) == expect
    assert "water" in cache["~2:water"]  # distance 0: stem itself included


def test_fuzzy_composes_with_plain_and_prefix(spark, setup):
    eng, corpus = setup
    want = rows(bruteforce_topk(spark, corpus, "people", k=K,
                                prefix_stems=["wat"], fuzzy_specs=[("has", 1)]))
    got = rows(eng.search("wat* has~ people", k=K, expand_prefixes=True))
    assert got == want


def test_fuzzy_no_match_and_validation(spark, setup):
    eng, _ = setup
    # a stem with no dictionary neighbors contributes nothing
    assert rows(eng.search("qqqxyzzy~", k=K, expand_prefixes=True)) == []
    got = rows(eng.search("qqqxyzzy~ people", k=K, expand_prefixes=True))
    assert got == rows(eng.search("people", k=K))
    with pytest.raises(ValueError, match="exactly one index token"):
        eng.search("a.b~ x", expand_prefixes=True).collect()
    with pytest.raises(ValueError, match="mode='any' only"):
        eng.search("hash~ people", mode="all", expand_prefixes=True).collect()


def test_fuzzy_expansion_cap(spark, setup):
    eng, _ = setup
    import dataclasses
    small = dataclasses.replace(eng.cfg, max_fuzzy_expansion=3)
    eng_small = Engine(spark, eng.store.root, small)
    with pytest.raises(ValueError, match="max_fuzzy_expansion"):
        # w00042~2 reaches scores of w-number neighbors in the 50k vocab
        eng_small.search("w00042~2", expand_prefixes=True).collect()


def test_bare_tilde_is_distance_1(spark, setup):
    eng, _ = setup
    a = rows(eng.search("hash~", k=K, expand_prefixes=True))
    b = rows(eng.search("hash~1", k=K, expand_prefixes=True))
    assert a == b and a


# ---- regex queries ('/pattern/' — Lucene RegexpQuery) -----------------------


def test_regex_expansion_equals_python_recount(spark, setup):
    """'/pat/' expands to exactly the dictionary terms the anchored
    Python regex matches; results equal the brute-force search over
    that expanded term set."""
    import re

    eng, corpus = setup
    pat = "wat.r|p[eo]ople"
    rx = re.compile(f"^(?:{pat})$")
    vocab = [r["term"] for r in corpus.term_stats.select("term").collect()]
    want_terms = sorted(t for t in vocab if rx.match(t))
    assert want_terms, "fixture vocabulary must match the pattern"
    got = rows(eng.search(f"/{pat}/", k=K, expand_prefixes=True))
    want = rows(bruteforce_topk(spark, corpus, " ".join(want_terms), k=K))
    assert got == want


def test_regex_composes_and_validates(spark, setup):
    eng, corpus = setup
    # composes with plain tokens in one query
    got = rows(eng.search("water /peo.le/", k=K, expand_prefixes=True))
    want = rows(bruteforce_topk(spark, corpus, "water people", k=K))
    assert got == want
    # invalid pattern raises loudly at parse time
    with pytest.raises(ValueError, match="bad regex"):
        eng.search("/wat[er/", k=K, expand_prefixes=True).collect()
    # no-match regex is empty, not an error
    assert rows(eng.search("/zzz[0-9]+qqq/", k=K,
                           expand_prefixes=True)) == []


def test_regex_via_query_string(spark, setup):
    eng, corpus = setup
    got = rows(eng.query_string("/wat.r/ people", k=K))
    want = rows(bruteforce_topk(spark, corpus, "water people", k=K))
    assert got == want
