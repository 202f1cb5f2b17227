"""Round-6 optimization pins.

The optimizations must be invisible in results: the single-task search
plan must equal the distributed shard-exchange plan row for row, the
one-shot dictionary cache must resolve exactly what per-term lookups
resolved, rescore's driver-resident keep-list must equal the filter_df
form, and the qstring phrase fixes must raise instead of silently
re-tokenizing residue.
"""

import dataclasses
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.functions.qstring import parse_query_string


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_factory.mktemp("r06idx"))
    e = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=8,
                                                           n_buckets=4)))
    e.build(docs, id_col="doc_id")
    return e


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_single_task_plan_equals_distributed(spark, eng):
    """cfg.max_single_task_scan_bytes=0 forces the shard-exchange plan;
    both plans must return identical ordered rows for a mixed workload."""
    forced = Engine(spark, eng.store.root,
                    dataclasses.replace(eng.cfg, max_single_task_scan_bytes=0))
    for q, kw in [
        ("join hash row", {}),
        ("join hash row", {"mode": "all"}),
        ("join hash row", {"exclude": "dup"}),
        ("dup join", {"min_match": 0}),
    ]:
        fast = _rows(eng.search(q, k=7, **kw))
        slow = _rows(forced.search(q, k=7, **kw))
        assert fast == slow, (q, kw)
        if not kw:
            assert fast, "expected non-empty results for the base query"
    # the fast path really is exchange-free
    plan = eng.search("join hash row", k=7)._jdf.queryExecution().toString()
    assert "Exchange" not in plan
    plan2 = forced.search("join hash row", k=7)._jdf.queryExecution().toString()
    assert "Exchange" in plan2


def test_single_task_batched_merge_equals_distributed(spark, eng):
    """The in-task pandas top-k merge (session 2: the Window/row_number +
    orderBy plan nodes folded into the scan task) must reproduce the
    distributed plan's per-query caps, tie-breaks, and global
    (query_id, score DESC, doc_id ASC) order for a multi-query batch."""
    forced = Engine(spark, eng.store.root,
                    dataclasses.replace(eng.cfg, max_single_task_scan_bytes=0))
    batch = ["join hash row", "dup join", "scan window spark",
             ("join hash row", "all", None)]
    fast = [(r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in eng.searches(batch, k=5).collect()]
    slow = [(r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in forced.searches(batch, k=5).collect()]
    assert fast == slow
    assert fast, "expected non-empty batched results"
    # per-query cap honored and order strictly (qid, -score, doc_id)
    from collections import Counter
    assert max(Counter(q for q, *_ in fast).values()) <= 5
    assert fast == sorted(fast, key=lambda t: (t[0], -t[2], t[1]))


def test_duplicate_specs_in_batch_equal_singletons(spark, eng):
    """Identical specs in one batch are computed once in the shard kernel
    (memoized by normalized-spec identity); every duplicate must still
    emit its own query_id with rows identical to the singleton run."""
    batch = ["join hash row", "dup join", "join hash row",
             {"text": "join hash row", "exclude": "dup"},
             "join hash row",
             {"text": "join hash row", "exclude": "dup"}]
    got = {}
    for r in eng.searches(batch, k=6).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    singles = [_rows(eng.search("join hash row", k=6)),
               _rows(eng.search("dup join", k=6)),
               _rows(eng.search("join hash row", k=6)),
               _rows(eng.search("join hash row", k=6, exclude="dup")),
               _rows(eng.search("join hash row", k=6)),
               _rows(eng.search("join hash row", k=6, exclude="dup"))]
    assert [got.get(i, []) for i in range(6)] == singles
    assert got[0] and got[0] == got[2] == got[4]
    assert got[3] == got[5]


def test_idf_cache_complete_matches_per_term(spark, eng):
    """The one-shot full-dictionary load must resolve idfs identically to
    the per-term isin path (cache disabled via max_idf_cache_terms=0)."""
    nocache = Engine(spark, eng.store.root,
                     dataclasses.replace(eng.cfg, max_idf_cache_terms=0))
    a = _rows(eng.search("join hash row absent_zzz", k=10))
    b = _rows(nocache.search("join hash row absent_zzz", k=10))
    assert a == b
    from hora_spark.operators.query import _CACHE_COMPLETE
    v = eng.store.current_version()
    assert eng._idf_cache(v).get(_CACHE_COMPLETE) is not None
    assert nocache._idf_cache(v).get(_CACHE_COMPLETE) is None
    # one cache per stats table, keyed by its data dirs
    assert list(eng._idf_caches) == [tuple(eng.store.tables(v)["stats"])]


def test_driver_side_expansion_equals_scan(spark, eng):
    """Prefix/wildcard expansion from the cached dictionary must equal
    the stats-table scan expansion."""
    nocache = Engine(spark, eng.store.root,
                     dataclasses.replace(eng.cfg, max_idf_cache_terms=0))
    for q in ("jo*", "*ow", "h?sh"):
        a = _rows(eng.search(q, k=10, expand_prefixes=True))
        b = _rows(nocache.search(q, k=10, expand_prefixes=True))
        assert a == b, q


def test_rescore_allowed_ids_equals_filter_df(spark, eng):
    """matches(allowed_ids=...) must equal matches(filter_df=...)."""
    top = eng.search("join hash row", k=5).collect()
    ids = [r["doc_id"] for r in top]
    via_ids = sorted(_rows(eng.matches(["join row"], allowed_ids=ids)))
    fdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    via_df = sorted(_rows(eng.matches(["join row"], filter_df=fdf)))
    assert via_ids == via_df


def test_qstring_phrase_boost_is_loud():
    with pytest.raises(ValueError, match="phrase boost"):
        parse_query_string('"a b"^2')
    with pytest.raises(ValueError, match="trailing"):
        parse_query_string('"a b"~3x')
    # plain phrases, slop, and boosts still parse
    spec = parse_query_string('+scan "part filter" "a b"~4 row^2 -dup')
    assert spec["phrases"] == [("part filter", None, False), ("a b", 4, True)]
    assert spec["boosts"] == {"row": 2.0}


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    """A multi-source index: positions and two field columns, one append
    delta (a second posting source per term) and one delete."""
    from hora_spark.datagen import generate_transcripts
    from hora_spark.streaming.incremental import append_build

    cfg = EngineConfig(index=IndexConfig(store_positions=True,
                                         field_cols=("role", "tool")))
    df = generate_transcripts(spark, 24, seed=3)
    base = df.filter(df.conv_id < "conv00000018")
    extra = df.filter(df.conv_id >= "conv00000018")
    e = Engine(spark, str(tmp_path_factory.mktemp("multi")), cfg)
    e.build(base)
    append_build(spark, e.store, extra, cfg=cfg, batch_id="delta-1")
    e.delete([1, 2, 3, 40])
    assert len(e.store.tables()["segments"]) == 2
    return e


# the perfbench clause families, one spec each (the page-2 cursor of
# the boosted one is filled in from page 1)
FAMILIES = [
    {"text": "water people time"},
    {"text": "the water", "mode": "all"},
    {"text": "of the", "mode": "phrase"},
    {"text": "the people", "mode": "near", "near_window": 5},
    {"text": "water the people", "fields": {"role": "user"}},
    {"text": "water people the time", "exclude": "of", "min_match": 2},
    {"text": "w0001* w00?12 water", "prefix": True},
    {"text": "the water people", "boosts": {"water": 2.5}},
]


def _batch_rows(df):
    return [(r["query_id"], r["doc_id"], r["score"]) for r in df.collect()]


def test_plans_equal_on_a_multi_source_index(spark, multi):
    """Single-task, distributed and cogroup plans, pruned and exhaustive,
    return identical rows (bit-identical scores) over every clause
    family, a page-2 cursor and k=None, on an index with an append delta
    and a delete."""
    from hora_spark.operators.query import _choose_plan

    engines = {
        "single": multi,
        "distributed": Engine(spark, multi.store.root, dataclasses.replace(
            multi.cfg, max_single_task_scan_bytes=0)),
        "cogroup": Engine(spark, multi.store.root, dataclasses.replace(
            multi.cfg, max_broadcast_deletes=0)),
    }
    store, v = multi.store, multi.store.current_version()
    for kind, e in engines.items():
        assert _choose_plan(spark, store, v, store.meta(v), e.cfg, None,
                            None).kind == kind
    page1 = multi.searches([FAMILIES[0], FAMILIES[-1]], k=5).collect()
    # rows come ordered, so each query keeps its page's last row
    cursors = {r["query_id"]: (r["score"], r["doc_id"]) for r in page1}
    assert len(cursors) == 2
    batch = FAMILIES + [{**FAMILIES[0], "after": cursors[0]},
                        {**FAMILIES[-1], "after": cursors[1]}]
    want = _batch_rows(multi.searches(batch, k=5, prune=False))
    assert {q for q, _, _ in want} == set(range(len(batch)))
    want_all = sorted(_batch_rows(multi.matches(batch)))
    assert len(want_all) > len(want)
    for kind, e in engines.items():
        for prune in (True, False):
            assert _batch_rows(e.searches(batch, k=5, prune=prune)) == want, (
                kind, prune)
        assert sorted(_batch_rows(e.matches(batch))) == want_all, kind


def test_single_task_search_runs_the_kernel_once_per_task(
        spark, multi, monkeypatch, tmp_path):
    """The single-task plan scores every shard's rows in ONE _shard_search
    call; the distributed plan still calls it once per shard group."""
    from hora_spark.operators import query

    log = tmp_path / "calls"
    real = query._shard_search

    def counting(*a, **kw):  # pickled by value into the Python worker
        with open(log, "a") as f:
            f.write("x")
        return real(*a, **kw)

    monkeypatch.setattr(query, "_shard_search", counting)
    assert multi.searches(FAMILIES[:2], k=5).count()
    assert log.read_text() == "x"
    log.write_text("")
    forced = Engine(spark, multi.store.root, dataclasses.replace(
        multi.cfg, max_single_task_scan_bytes=0))
    assert forced.searches(FAMILIES[:2], k=5).count()
    assert len(log.read_text()) > 1
