"""Score explanation (Lucene Explanation / ES _explain analog).

Checks the decomposition against a pure-Python recount over the
tokenized corpus: tf and dl per (doc, term) exactly, contrib =
idf·saturation, total = the engine's own search score — across both
storage layouts and append deltas."""

import collections
import math
import shutil

import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
K = 10
Q = "water people time"


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    df = generate_transcripts(spark, 100, seed=11).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("explidx"))
    eng = Engine(spark, path, CFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    yield eng, df
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def _python_recount(df):
    """{doc_id: {term: tf}}, {doc_id: dl}, N, avgdl recomputed through
    the independent corpus-prepare path (same doc-id assignment rule,
    different plan)."""
    from hora_spark.operators.corpus import prepare

    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    tf = collections.defaultdict(dict)
    dl = {}
    for r in corpus.tf.collect():
        tf[r["doc_id"]][r["term"]] = r["tf"]
        dl[r["doc_id"]] = r["dl"]
    return dict(tf), dl, corpus.n_docs, corpus.avgdl


def test_explain_matches_python_recount(spark, setup):
    eng, df = setup
    res = eng.explain(Q, k=K)
    rows = res.collect()
    assert rows, "explain of the query's own top-k must be non-empty"

    tf_py, dl_py, n, avgdl = _python_recount(df)
    df_py = collections.Counter(
        t for d in tf_py.values() for t in d)
    k1, b = CFG.bm25.k1, CFG.bm25.b
    by_doc = collections.defaultdict(float)
    for r in rows:
        d, t = r["doc_id"], r["term"]
        assert tf_py[d][t] == r["tf"], (d, t)
        assert dl_py[d] == r["dl"], d
        idf = math.log((n - df_py[t] + 0.5) / (df_py[t] + 0.5) + 1.0)
        assert r["idf"] == pytest.approx(idf, abs=1e-6)
        sat = r["tf"] / (r["tf"] + k1 * (1 - b + b * r["dl"] / avgdl))
        assert r["contrib"] == pytest.approx(idf * sat, abs=1e-5)
        by_doc[d] += idf * sat
    # total column equals the sum of contribs AND the search score
    totals = {r["doc_id"]: r["score"] for r in rows}
    for d, s in totals.items():
        assert s == pytest.approx(by_doc[d], abs=1e-5)
    search_scores = {r["doc_id"]: round(r["score"], 6)
                     for r in eng.search(Q, k=K).collect()}
    assert set(totals) == set(search_scores)
    for d in totals:
        assert totals[d] == pytest.approx(search_scores[d], abs=2e-6)


def test_explain_explicit_ids_and_misses(spark, setup):
    eng, _ = setup
    # explicit ids: one matching doc + one id matching nothing
    top = [r["doc_id"] for r in eng.search(Q, k=3).collect()]
    big_miss = 10 ** 9  # far outside any shard
    res = eng.explain(Q, doc_ids=[top[0], big_miss]).collect()
    assert {r["doc_id"] for r in res} == {top[0]}
    # absent query term → no rows at all
    assert eng.explain("zzzqqq", doc_ids=top).count() == 0
    assert eng.explain(Q, doc_ids=[]).count() == 0


def test_explain_layout_and_delta_parity(spark, setup, tmp_path):
    """store_dl=False layout and append-delta docs explain identically."""
    eng, df = setup
    cfg2 = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8,
                                          store_dl=False))
    eng2 = Engine(spark, str(tmp_path / "nodl"), cfg2)
    eng2.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    a = [tuple(r) for r in eng.explain(Q, k=K).collect()]
    c = [tuple(r) for r in eng2.explain(Q, k=K).collect()]
    assert a == c

    # append a delta with a known text; its doc explains from the delta
    from hora_spark.streaming.incremental import append_build
    extra = spark.createDataFrame(
        [("zzconv", 0, "user", "water water people")],
        "conv_id string, turn_idx int, role string, text string")
    out = append_build(spark, eng2.store, extra, cfg=cfg2)
    new_id = out["base_doc_id"]
    res = {r["term"]: r for r in
           eng2.explain(Q, doc_ids=[new_id]).collect()}
    assert res["water"]["tf"] == 2 and res["people"]["tf"] == 1
    assert res["water"]["dl"] == 3
    sc = {r["doc_id"]: round(r["score"], 6)
          for r in eng2.search(Q, k=500).collect()}
    assert res["water"]["score"] == pytest.approx(sc[new_id], abs=2e-6)
