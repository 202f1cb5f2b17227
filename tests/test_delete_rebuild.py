"""Delete support and the stats-refreshing rebuild.

Reference behavior mirrored:
- deleted ids are filtered out of every search result while survivors'
  scores stay byte-identical (`has_deletion`,
  /root/reference/src/index/hnsw_params.rs:53-63; the search-time check
  /root/reference/src/index/hnsw_idx.rs:235-237);
- `rebuild()` (/root/reference/src/core/ann_index.rs:69-71) recomputes the
  frozen corpus stats so post-build appends/deletes become first-class:
  results equal a from-scratch build over the live corpus.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.functions.codec import decode_posting
from hora_spark.operators.corpus import assign_doc_ids, prepare
from hora_spark.operators.oracle import bruteforce_topk
from hora_spark.operators.segments import NORMS_TERM
from hora_spark.streaming.incremental import append_build, merge_segments

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"


def test_delete_excludes_exactly_and_keeps_survivor_scores(spark, tmp_path):
    df = generate_transcripts(spark, 50, seed=31)
    eng = Engine(spark, str(tmp_path / "del"), CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    q = "water people time"
    before = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
    victims = [before[0][0], before[2][0]]
    eng.delete(victims)
    after = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
    assert len(after) == 10                      # k refilled from survivors
    assert not set(victims) & {d for d, _ in after}
    # survivors keep byte-identical scores (frozen stats)
    before_scores = dict(before)
    for d, s in after:
        if d in before_scores:
            assert s == before_scores[d]
    # the previous rank-3 doc is the new rank-1... i.e. survivors keep order
    survivors_before = [(d, s) for d, s in before if d not in victims]
    assert after[: len(survivors_before)] == survivors_before


def test_compaction_removes_deleted_bytes(spark, tmp_path):
    df = generate_transcripts(spark, 40, seed=7)
    eng = Engine(spark, str(tmp_path / "cmp"), CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    q = "the of and"
    top = eng.search(q, k=5).collect()
    victims = sorted({top[0]["doc_id"], top[1]["doc_id"]})
    eng.delete(victims)
    expect = [(r["doc_id"], r["score"]) for r in eng.search(q, k=8).collect()]

    merge_segments(spark, eng.store, CFG)
    # tombstone table gone, results unchanged (stats still frozen)
    assert not eng.store.exists("deletes")
    got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=8).collect()]
    assert got == expect
    # deleted ids are physically absent from every posting and norms row
    segs = eng.store.read("segments").collect()
    vic = set(victims)
    for r in segs:
        if r["term"] == NORMS_TERM:
            ids, _ = decode_posting(
                [bytes(r["doc_blocks"][0])], [bytes(r["tf_blocks"][0])]
            )
        else:
            ids, _ = decode_posting(
                [bytes(b) for b in r["doc_blocks"]],
                [bytes(b) for b in r["tf_blocks"]],
            )
        assert not vic & set(ids.tolist()), f"deleted id survives in {r['term']!r}"


def test_rebuild_makes_appended_vocabulary_searchable(spark, tmp_path):
    base = spark.createDataFrame(
        [("c0", 0, "u", "alpha beta gamma", None),
         ("c0", 1, "u", "beta gamma", None),
         ("c1", 0, "u", "alpha alpha beta", None)],
        SCHEMA,
    )
    extra = spark.createDataFrame(
        [("x0", 0, "u", "zzznovel alpha", None),
         ("x1", 0, "u", "zzznovel zzznovel beta", None)],
        SCHEMA,
    )
    eng = Engine(spark, str(tmp_path / "rb"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    append_build(spark, eng.store, extra, cfg=CFG, batch_id="d1")
    # frozen stats: the novel term is indexed but not yet searchable
    assert eng.search("zzznovel", k=5).count() == 0

    eng.rebuild()
    got = [(r["doc_id"], r["score"]) for r in eng.search("zzznovel", k=5).collect()]
    assert [d for d, _ in got] == [4, 3]  # tf=2 doc first

    # rank- AND score-identical to a from-scratch build over the union
    eng2 = Engine(spark, str(tmp_path / "scratch"), CFG)
    eng2.build(base.unionByName(extra), id_col=None, order_cols=["conv_id", "turn_idx"])
    for q in ("zzznovel", "alpha beta", "gamma zzznovel"):
        a = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in eng2.search(q, k=10).collect()]
        assert a == b, q


def test_rebuild_after_delete_matches_bruteforce_on_live_docs(spark, tmp_path):
    df = generate_transcripts(spark, 40, seed=19)
    eng = Engine(spark, str(tmp_path / "rbd"), CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    q = "water people"
    victims = [r["doc_id"] for r in eng.search(q, k=3).collect()]
    eng.delete(victims)
    n_before = eng.nodes_size()
    eng.rebuild()
    assert eng.nodes_size() <= n_before - len(victims) + 1  # stats refreshed

    # oracle: brute-force BM25 over the live docs with ORIGINAL ids
    with_ids = assign_doc_ids(df, ["conv_id", "turn_idx"])
    live = with_ids.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    c = prepare(live, id_col="doc_id")
    want = [(r["doc_id"], r["score"]) for r in bruteforce_topk(spark, c, q, k=10).collect()]
    got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want], atol=1e-9)
