"""QuerySpec pins.

A query's string, (text, mode) tuple and dict spellings must normalize to
one and the same spec — equal and equally hashed — because the shard
UDF's batch memo keys on the spec; specs that differ in any one field
must stay distinct. Values read from disk that could not score (a
non-finite idf or avgdl) must fail before any Spark job instead of
reaching the final sort, where the single-task (pandas) and distributed
(Spark) plans would order NaN differently.
"""

import dataclasses
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.operators.query import QuerySpec, _normalize

META = {"avgdl": 10.0, "unicode": False, "store_positions": True,
        "field_cols": ["lang"]}
# search_topk's call-level options under their per-query dict keys
CALL = {"mode": "any", "near_window": 5, "exclude": None, "min_match": 0,
        "prefix": False, "after": None, "boosts": None, "synonyms": None,
        "score_mode": "sum", "tie_breaker": 0.0, "fields": None,
        "fields_not": None, "negative": None, "negative_boost": 1.0}


def _spec(q, **call):
    (spec,) = _normalize([q], {**CALL, **call}, META)
    return spec


@pytest.mark.parametrize("call", [
    {},
    {"mode": "all"},
    {"mode": "near", "near_window": 3},
    {"exclude": "dup", "boosts": {"Join": 2}, "after": (1.5, 7),
     "score_mode": "dismax", "tie_breaker": 0.25,
     "fields": {"lang": ["EN", "es"]}, "fields_not": {"lang": "zh"},
     "negative": "spark", "negative_boost": 0.5},
    {"prefix": True},
    {"synonyms": {"hash": ["merge"]}},
])
def test_spellings_normalize_to_one_spec(call):
    mode = call.get("mode", "any")
    specs = [_spec("join Hash join", **call),
             _spec(("join Hash join", mode), **call),
             _spec(("join Hash join", None, None), **call),
             _spec({"text": "join Hash join"}, **call),
             _spec({"text": "join Hash join", "mode": mode}, **call)]
    assert all(s == specs[0] for s in specs)
    assert len({hash(s) for s in specs}) == 1
    assert isinstance(specs[0], QuerySpec)


def test_one_field_apart_is_a_different_spec():
    base = {"text": "join hash", "boosts": {"join": 2.0}, "after": (3.0, 10)}
    a = _spec(base)
    for other in ({**base, "boosts": {"join": 2.5}},
                  {**base, "after": (3.0, 11)},
                  {**base, "after": (3.5, 10)},
                  {**base, "exclude": "dup"},
                  {**base, "mode": "all"}):
        assert _spec(other) != a, other
    assert _spec(dict(base)) == a
    # every field takes part in equality and hashing
    for f in dataclasses.fields(QuerySpec):
        assert f.compare and f.hash is None


def test_positional_terms_keep_order_and_duplicates():
    assert _spec(("b a b", "phrase")).terms == ("b", "a", "b")
    assert _spec("b a b").terms == ("a", "b")


def test_prefix_without_patterns_equals_plain():
    """A prefix-syntax query with no expansion words is a plain query."""
    assert _spec("join hash", prefix=True) == _spec("join hash")
    s = _spec("jo* hash~ *ash /j.n/ row", prefix=True)
    assert s.terms == ("row",) and s.stems == ("jo",)
    assert s.fuzzy == (("hash", 1),) and s.wildcards == ("*ash",)
    assert s.regexes == ("j.n",)


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_factory.mktemp("specidx"))
    e = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=8,
                                                           n_buckets=4)))
    e.build(docs, id_col="doc_id")
    return e


def _jobs_during(spark, fn):
    sc = spark.sparkContext  # a fresh group per call: a group's job ids accumulate
    group = f"jobs_during_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("none", "none")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_idf_raises_before_any_job(spark, eng, bad):
    assert eng.search("join hash", k=3).count() == 3  # warms the idf cache
    cache = eng._idf_cache(eng.store.current_version())
    good = cache["hash"]
    cache["hash"] = bad
    try:
        with pytest.raises(ValueError, match="non-finite idf"):
            _jobs_during(spark, lambda: eng.search("join hash", k=3))
        assert _jobs_during(spark, lambda: pytest.raises(
            ValueError, eng.searches, [("join hash", "all")])) == 0
    finally:
        cache["hash"] = good
    assert eng.search("join hash", k=3).count() == 3


@pytest.mark.parametrize("avgdl", [float("nan"), 0.0, -1.0])
def test_bad_avgdl_raises_before_any_job(spark, eng, monkeypatch, avgdl):
    real = eng.store.meta
    monkeypatch.setattr(eng.store, "meta",
                        lambda version=None: {**real(version), "avgdl": avgdl})
    with pytest.raises(ValueError, match="avgdl"):
        eng.search("join hash", k=3)
    assert _jobs_during(spark, lambda: pytest.raises(
        ValueError, eng.search, "join hash", k=3)) == 0


def test_warm_search_after_a_delete_runs_one_job(spark, tmp_path):
    """Only the first search after a delete collects the tombstones (they
    are cached by the deletes dir list); a later delete is seen at once."""
    docs = spark.createDataFrame([(i, f"alpha w{i}") for i in range(12)],
                                 "doc_id long, text string")
    e = Engine(spark, str(tmp_path / "del"), EngineConfig())
    e.build(docs, id_col="doc_id")

    def hits():
        return {r["doc_id"] for r in e.search("alpha", k=20).collect()}

    for gone in ({3}, {3, 5}):
        e.delete([max(gone)])
        assert hits() == set(range(12)) - gone
        assert _jobs_during(spark, hits) == 1


def test_first_search_after_a_delete_keeps_the_idf_cache(spark, tmp_path):
    """A delete never rewrites stats, so the idf cache (keyed by the stats
    dirs) survives it: the first search after a delete skips the
    dictionary probe and runs one job fewer than on a dropped cache."""
    docs = spark.createDataFrame([(i, f"alpha w{i}") for i in range(12)],
                                 "doc_id long, text string")
    path = str(tmp_path / "keep")
    kept = Engine(spark, path, EngineConfig())
    kept.build(docs, id_col="doc_id")
    dropped = Engine(spark, path, EngineConfig())  # same index, own caches
    for e in (kept, dropped):
        e.search("alpha w3", k=20).collect()
    cache = kept._idf_cache(kept.store.current_version())
    kept.delete([3])
    assert kept._idf_cache(kept.store.current_version()) is cache
    dropped._idf_caches.clear()  # what a delete used to do

    def first(e):
        return _jobs_during(spark, lambda: e.search("alpha w3", k=20).collect())

    assert first(kept) == first(dropped) - 1
