"""Phrase search over the store_positions layout: exact token adjacency
verified from pos_blocks inside the index (no source-text join), scored
like conjunctive BM25 over the phrase's distinct terms. Oracle: the
normalized-token-string containment check (' a b ' substring of
' '+join(tokens)+' ') — exactly adjacency in token space — composed with
the conjunctive brute-force scorer."""

import shutil

import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import generate_transcripts
from hora_spark.engine import Engine
from hora_spark.functions.tokenize import tokenize_py, tokens_col
from hora_spark.operators.corpus import assign_doc_ids, prepare
from hora_spark.operators.oracle import bruteforce_topk

PCFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8,
                                      store_positions=True))
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"


def test_phrase_hand_cases(spark, tmp_path):
    rows = [
        ("c0", 0, "u", "alpha beta gamma", None),        # 0: has 'alpha beta'
        ("c0", 1, "u", "beta alpha", None),              # 1: reversed only
        ("c0", 2, "u", "alpha x beta", None),            # 2: gapped only
        ("c0", 3, "u", "x alpha beta alpha beta y", None),  # 3: twice
        ("c0", 4, "u", "alpha beta alpha", None),        # 4: 'alpha beta alpha'
        ("c0", 5, "u", "gamma beta gamma", None),        # 5: neither
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "p"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])

    got = sorted(r["doc_id"] for r in eng.search("alpha beta", k=10, mode="phrase").collect())
    assert got == [0, 3, 4]
    # punctuation/case-insensitive phrase (same tokenizer as the index)
    got2 = sorted(r["doc_id"] for r in eng.search("Alpha, BETA!", k=10, mode="phrase").collect())
    assert got2 == [0, 3, 4]
    # 3-slot phrase with a duplicate term
    got3 = sorted(r["doc_id"] for r in eng.search("alpha beta alpha", k=10, mode="phrase").collect())
    assert got3 == [3, 4]
    # reversed phrase matches the reversed doc
    got4 = sorted(r["doc_id"] for r in eng.search("beta alpha", k=10, mode="phrase").collect())
    assert got4 == [1, 3, 4]
    # single-token phrase == conjunctive single term
    got5 = sorted(r["doc_id"] for r in eng.search("gamma", k=10, mode="phrase").collect())
    assert got5 == [0, 5]
    # absent term / no adjacency anywhere → empty
    assert eng.search("beta gamma alpha", k=10, mode="phrase").count() == 0
    assert eng.search("alpha zzz", k=10, mode="phrase").count() == 0
    # scores equal the conjunctive scores of the same docs
    ph = {r["doc_id"]: r["score"] for r in eng.search("alpha beta", k=10, mode="phrase").collect()}
    cj = {r["doc_id"]: r["score"] for r in eng.search("alpha beta", k=10, mode="all").collect()}
    for d, s in ph.items():
        assert cj[d] == s
    shutil.rmtree(str(tmp_path / "p"), ignore_errors=True)


@pytest.fixture(scope="module")
def rnd(spark, tmp_path_factory):
    df = generate_transcripts(spark, 70, seed=23).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("pidx"))
    eng = Engine(spark, path, PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    with_ids = assign_doc_ids(df, ["conv_id", "turn_idx"])
    yield eng, corpus, with_ids
    df.unpersist()
    shutil.rmtree(path, ignore_errors=True)


def _phrase_oracle(spark, corpus, with_ids, phrase, k):
    """Token-string containment (adjacency in token space) ∘ conjunctive
    brute-force scoring."""
    norm = F.concat(F.lit(" "), F.array_join(tokens_col(F.col("text")), " "),
                    F.lit(" "))
    needle = " " + " ".join(tokenize_py(phrase)) + " "
    matched = with_ids.filter(norm.contains(needle)).select("doc_id")
    full = bruteforce_topk(spark, corpus, phrase, k=1 << 30, mode="all")
    return (full.join(matched, "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


@pytest.mark.parametrize("phrase", ["the of", "of the", "water people",
                                    "the same", "first been", "the the"])
def test_phrase_matches_like_oracle(spark, rnd, phrase):
    eng, corpus, with_ids = rnd
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            _phrase_oracle(spark, corpus, with_ids, phrase, 15).collect()]
    for prune in (True, False):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               eng.search(phrase, k=15, mode="phrase", prune=prune).collect()]
        assert got == want, (phrase, prune)


def test_phrase_survives_append_and_compaction(spark, tmp_path):
    from hora_spark.streaming.incremental import append_build, merge_segments

    base = spark.createDataFrame(
        [("c0", 0, "u", "red green blue", None),
         ("c0", 1, "u", "green red", None)], SCHEMA)
    eng = Engine(spark, str(tmp_path / "a"), PCFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    delta = spark.createDataFrame(
        [("x0", 0, "u", "deep red green sea", None)], SCHEMA)
    append_build(spark, eng.store, delta, cfg=PCFG, batch_id="d1")
    assert sorted(r["doc_id"] for r in
                  eng.search("red green", k=10, mode="phrase").collect()) == [0, 2]
    before = [(r["doc_id"], r["score"]) for r in
              eng.search("red green", k=10, mode="phrase").collect()]
    merge_segments(spark, eng.store, PCFG)
    after = [(r["doc_id"], r["score"]) for r in
             eng.search("red green", k=10, mode="phrase").collect()]
    assert after == before
    shutil.rmtree(str(tmp_path / "a"), ignore_errors=True)


def test_phrase_with_delete(spark, tmp_path):
    df = spark.createDataFrame(
        [("c0", 0, "u", "one two three", None),
         ("c0", 1, "u", "one two", None),
         ("c0", 2, "u", "two one", None)], SCHEMA)
    eng = Engine(spark, str(tmp_path / "d"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    assert sorted(r["doc_id"] for r in
                  eng.search("one two", k=10, mode="phrase").collect()) == [0, 1]
    eng.delete([0])
    assert [r["doc_id"] for r in
            eng.search("one two", k=10, mode="phrase").collect()] == [1]
    shutil.rmtree(str(tmp_path / "d"), ignore_errors=True)


def test_phrase_requires_positions(spark, tmp_path):
    df = spark.createDataFrame([("c0", 0, "u", "a b c", None)], SCHEMA)
    eng = Engine(spark, str(tmp_path / "n"),
                 EngineConfig(index=IndexConfig(block_size=8, n_buckets=2)))
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    with pytest.raises(ValueError, match="store_positions"):
        eng.search("a b", k=5, mode="phrase").count()
    shutil.rmtree(str(tmp_path / "n"), ignore_errors=True)


def test_positional_partition_independence(spark, tmp_path):
    """The determinism invariant extends to pos_blocks: same input at two
    shuffle widths → byte-identical positional segments and identical
    phrase results."""
    df = generate_transcripts(spark, 30, seed=3)
    fingerprints, results = [], []
    for parts in (3, 11):
        path = str(tmp_path / f"pp{parts}")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            eng = Engine(spark, path, PCFG)
            eng.build(df.repartition(parts), id_col=None,
                      order_cols=["conv_id", "turn_idx"])
            rows = (eng.store.read("segments")
                    .select("shard_id", "term", "doc_blocks", "pos_blocks")
                    .collect())
            fingerprints.append(sorted(
                (r["shard_id"], r["term"],
                 tuple(bytes(b) for b in r["doc_blocks"]),
                 tuple(bytes(b) for b in r["pos_blocks"]))
                for r in rows))
            results.append([
                (r["doc_id"], round(r["score"], 9))
                for r in eng.search("the of", k=10, mode="phrase").collect()
            ])
        finally:
            spark.conf.unset("spark.sql.shuffle.partitions")
            shutil.rmtree(path, ignore_errors=True)
    assert fingerprints[0] == fingerprints[1], "pos_blocks differ across parallelism"
    assert results[0] == results[1]


def test_phrase_unicode_combined(spark, tmp_path):
    """Layout options compose: unicode tokenizer + positional layout →
    CJK phrase search (adjacent han runs are single tokens, so the phrase
    is over space/punct-separated units)."""
    rows = [
        ("c0", 0, "u", "数据 处理 系统", None),       # adjacent 数据,处理
        ("c0", 1, "u", "处理 数据", None),            # reversed
        ("c0", 2, "u", "数据 x 处理", None),          # gapped
        ("c1", 0, "u", "поток данных и 数据 处理", None),  # mixed, adjacent
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "up"), EngineConfig(index=IndexConfig(
        block_size=8, n_buckets=2, unicode=True, store_positions=True)))
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    got = sorted(r["doc_id"] for r in
                 eng.search("数据 处理", k=10, mode="phrase").collect())
    assert got == [0, 3]
    assert [r["doc_id"] for r in
            eng.search("处理 数据", k=10, mode="phrase").collect()] == [1]
    meta = eng.store.meta()
    assert meta["unicode"] and meta["store_positions"]
    shutil.rmtree(str(tmp_path / "up"), ignore_errors=True)


# ----------------------------------------------------------- near mode ---

def test_near_hand_cases(spark, tmp_path):
    """Proximity: some occurrence of the FIRST query term has every other
    distinct term within near_window tokens (anchored semantics, pinned)."""
    rows = [
        ("c0", 0, "u", "aa x y bb", None),            # dist 3
        ("c0", 1, "u", "aa x y z w bb", None),        # dist 5
        ("c0", 2, "u", "bb aa", None),                # dist 1, reversed
        ("c0", 3, "u", "bb q aa r s t u cc", None),   # aa@2: bb@0 d2, cc@7 d5
        ("c0", 4, "u", "aa bb cc", None),             # all adjacent
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "nr"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])

    got3 = sorted(r["doc_id"] for r in
                  eng.search("aa bb", k=10, mode="near", near_window=3).collect())
    assert got3 == [0, 2, 3, 4]
    got5 = sorted(r["doc_id"] for r in
                  eng.search("aa bb", k=10, mode="near", near_window=5).collect())
    assert got5 == [0, 1, 2, 3, 4]
    # 3-term anchored: anchor aa@2 in doc 3 → bb within 2, cc at dist 5
    assert sorted(r["doc_id"] for r in eng.search(
        "aa bb cc", k=10, mode="near", near_window=4).collect()) == [4]
    assert sorted(r["doc_id"] for r in eng.search(
        "aa bb cc", k=10, mode="near", near_window=5).collect()) == [3, 4]
    # scores equal conjunctive scores of the same docs
    nr = {r["doc_id"]: r["score"] for r in
          eng.search("aa bb", k=10, mode="near", near_window=3).collect()}
    cj = {r["doc_id"]: r["score"] for r in
          eng.search("aa bb", k=10, mode="all").collect()}
    for d, s in nr.items():
        assert cj[d] == s
    shutil.rmtree(str(tmp_path / "nr"), ignore_errors=True)


def _near_oracle_2term(spark, corpus, with_ids, t1, t2, w, k):
    """Spark-expression twin for two terms: position sets via indexed
    transform, existence of a pair within w, ∘ conjunctive scoring."""
    toks = tokens_col(F.col("text"))

    def pos_of(term):
        tagged = F.transform(toks, lambda x, i: F.when(x == F.lit(term), i)
                             .otherwise(F.lit(-1)))
        return F.filter(tagged, lambda p: p >= 0)

    p1, p2 = pos_of(t1), pos_of(t2)
    hit = F.exists(p1, lambda a: F.exists(p2, lambda b: F.abs(b - a) <= w))
    matched = with_ids.filter(hit).select("doc_id")
    full = bruteforce_topk(spark, corpus, f"{t1} {t2}", k=1 << 30, mode="all")
    return (full.join(matched, "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


@pytest.mark.parametrize("pair,w", [(("the", "of"), 2), (("water", "people"), 4),
                                    (("the", "w00123"), 6)])
def test_near_matches_expression_oracle(spark, rnd, pair, w):
    eng, corpus, with_ids = rnd
    t1, t2 = pair
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            _near_oracle_2term(spark, corpus, with_ids, t1, t2, w, 15).collect()]
    for prune in (True, False):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               eng.search(f"{t1} {t2}", k=15, mode="near", near_window=w,
                          prune=prune).collect()]
        assert got == want, (pair, w, prune)


def test_phrase_results_subset_of_near(spark, rnd):
    """A phrase match implies a near match with window = phrase span."""
    eng, _, _ = rnd
    # untruncated: the subset property is over the FULL match sets (a
    # top-k cut of the larger near set may drop low-ranked phrase docs)
    big = 1 << 20
    any_nonempty = False
    for q in ["the of", "of the", "water people"]:
        ph = {r["doc_id"] for r in eng.search(q, k=big, mode="phrase").collect()}
        nr = {r["doc_id"] for r in eng.search(
            q, k=big, mode="near", near_window=len(q.split()) - 1).collect()}
        assert ph <= nr, q
        any_nonempty = any_nonempty or bool(ph)
    assert any_nonempty  # the property was exercised on real matches


def test_near_requires_positions(spark, tmp_path):
    df = spark.createDataFrame([("c0", 0, "u", "a b c", None)], SCHEMA)
    eng = Engine(spark, str(tmp_path / "nn"),
                 EngineConfig(index=IndexConfig(block_size=8, n_buckets=2)))
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    with pytest.raises(ValueError, match="store_positions"):
        eng.search("a b", k=5, mode="near").count()
    shutil.rmtree(str(tmp_path / "nn"), ignore_errors=True)


def test_phrase_with_store_dl_false_layout(spark, tmp_path):
    """Layout knobs compose: the space-lean norms-sidecar dl layout and
    the positional layout are orthogonal — phrase/near results must be
    identical to the default-layout index over the same corpus."""
    df = generate_transcripts(spark, 25, seed=9)
    cfg_nodl = EngineConfig(index=IndexConfig(
        block_size=16, n_buckets=4, store_positions=True, store_dl=False))
    cfg_dl = EngineConfig(index=IndexConfig(
        block_size=16, n_buckets=4, store_positions=True))
    res = {}
    for name, cfg in (("nodl", cfg_nodl), ("dl", cfg_dl)):
        eng = Engine(spark, str(tmp_path / name), cfg)
        eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
        res[name] = {
            mode: [(r["doc_id"], round(r["score"], 9)) for r in
                   eng.search("the of", k=15, mode=mode,
                              near_window=3).collect()]
            for mode in ("phrase", "near", "all", "any")
        }
        shutil.rmtree(str(tmp_path / name), ignore_errors=True)
    assert res["nodl"] == res["dl"]
    assert res["dl"]["phrase"], "phrase matches expected in this corpus"


def test_positional_empty_corpus(spark, tmp_path):
    """Phrase/near on a well-formed EMPTY positional index → 0 rows."""
    df = spark.createDataFrame([], SCHEMA)
    eng = Engine(spark, str(tmp_path / "pe"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    assert eng.search("a b", k=5, mode="phrase").count() == 0
    assert eng.search("a b", k=5, mode="near").count() == 0


def test_rescore_phrase_window(spark, tmp_path):
    """Two-pass rescoring: hand corpus where plain BM25 and the
    phrase-boosted order disagree; recount the combined score exactly."""
    rows = [
        ("c0", 0, "u", "alpha beta noise words here", None),   # phrase hit
        ("c0", 1, "u", "beta alpha beta alpha", None),         # hit at slot 1
        ("c0", 2, "u", "alpha x x x beta", None),              # gapped: base only
        ("c0", 3, "u", "alpha alpha alpha beta beta", None),   # hit + high tf
        ("c0", 4, "u", "unrelated text entirely", None),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    eng = Engine(spark, str(tmp_path / "rs"), PCFG)
    eng.build(df, id_col=None, order_cols=["conv_id", "turn_idx"])

    base = {r["doc_id"]: r["score"]
            for r in eng.search("alpha beta", k=10).collect()}
    prox = {r["doc_id"]: r["score"]
            for r in eng.search("alpha beta", k=10, mode="phrase").collect()}
    out = eng.rescore("alpha beta", k=10, window_size=10,
                      rescore_mode="phrase", query_weight=1.0,
                      rescore_weight=2.0).collect()
    assert out, "window must be non-empty"
    want = sorted(
        ((d, 1.0 * s + 2.0 * prox.get(d, 0.0), s, prox.get(d, 0.0))
         for d, s in base.items()),
        key=lambda x: (-x[1], x[0]))
    got = [(r["doc_id"], r["score"], r["base_score"], r["rescore_score"])
           for r in out]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)
        assert g[2] == pytest.approx(w[2], abs=1e-9)
        assert g[3] == pytest.approx(w[3], abs=1e-9)
    # a smaller window excludes below-window docs entirely
    small = eng.rescore("alpha beta", k=10, window_size=2).collect()
    assert len(small) == 2
    top2_base = sorted(base.items(), key=lambda x: (-x[1], x[0]))[:2]
    assert {r["doc_id"] for r in small} == {d for d, _ in top2_base}
    # validation + empty-query path
    with pytest.raises(ValueError, match="rescore_mode"):
        eng.rescore("alpha beta", rescore_mode="any").collect()
    assert eng.rescore("zzzqqq", k=5).count() == 0
    shutil.rmtree(str(tmp_path / "rs"), ignore_errors=True)
