"""Incremental ingestion: append → merge-on-read correctness → compaction
identity → Structured Streaming ingest (the distributed version of the
reference's post-build `add_single_item`,
/root/reference/src/index/hnsw_idx.rs:498-521)."""

import json
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk
from hora_spark.streaming.incremental import append_build, merge_segments, stream_ingest

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
QUERIES = ["the of and", "water people time", "w00123 the"]


@pytest.fixture(scope="module")
def split_data(spark):
    base = generate_transcripts(spark, 60, seed=21).cache()
    extra = (
        generate_transcripts(spark, 25, seed=87)
        .withColumn("conv_id", F.concat(F.lit("x"), F.col("conv_id")))
        .cache()
    )
    base.count(), extra.count()
    yield base, extra
    base.unpersist(), extra.unpersist()


@pytest.fixture(scope="module")
def appended_engine(spark, split_data, tmp_path_factory):
    base, extra = split_data
    path = str(tmp_path_factory.mktemp("inc"))
    eng = Engine(spark, path, CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    info = append_build(spark, eng.store, extra, cfg=CFG, batch_id="delta-1")
    assert info["n_new_docs"] > 0
    yield eng
    shutil.rmtree(path, ignore_errors=True)


def _frozen_oracle(spark, eng, base, extra, query, k):
    """Brute-force oracle rows under FROZEN build-time stats: idf/avgdl
    from the base corpus, scores over base+appended docs. Both corpora
    are closed once the rows are collected."""
    c_base = prepare(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    c_all = prepare(base.unionByName(extra), id_col=None,
                    order_cols=["conv_id", "turn_idx"])
    try:
        # doc_id order: base convs sort before "xconv..." so appended ids extend
        frozen = type(c_all)(
            docs=c_all.docs, tf=c_all.tf, term_stats=c_base.term_stats,
            n_docs=c_base.n_docs, avgdl=c_base.avgdl,
        )
        return bruteforce_topk(spark, frozen, query, k=k).collect()
    finally:
        c_base.close()
        c_all.close()


def test_append_merge_on_read_exact(spark, split_data, appended_engine):
    base, extra = split_data
    for q in QUERIES:
        got = appended_engine.search(q, k=15).collect()
        want = _frozen_oracle(spark, appended_engine, base, extra, q, 15)
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        np.testing.assert_allclose(
            [r["score"] for r in got], [r["score"] for r in want], atol=1e-9
        )


def test_appended_docs_searchable(spark, split_data, appended_engine):
    """Some result must come from the appended range for a common query."""
    lin = appended_engine.store.read("lineage").collect()
    res = appended_engine.search("the of and", k=100).collect()
    meta = appended_engine.store.meta()
    base_max = int(meta["next_doc_id"]) - int(
        [r["doc_count"] for r in lin if r["build_id"] == "delta-1"][0]
    )
    assert any(r["doc_id"] >= base_max for r in res)


def test_compaction_identity(spark, split_data, appended_engine):
    """merge_segments must not change any query result, and must leave one
    row per (shard, term)."""
    before = {q: [(r["doc_id"], r["score"]) for r in appended_engine.search(q, k=15).collect()]
              for q in QUERIES}
    merge_segments(spark, appended_engine.store, CFG)
    segs = appended_engine.store.read("segments")
    dupes = segs.groupBy("shard_id", "term").count().filter(F.col("count") > 1).count()
    assert dupes == 0
    for q in QUERIES:
        after = [(r["doc_id"], r["score"]) for r in appended_engine.search(q, k=15).collect()]
        assert after == before[q], q


def test_stream_ingest(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "sidx")
    base = generate_transcripts(spark, 30, seed=5)
    eng = Engine(spark, idx, CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    n0 = eng.nodes_size()
    extra = generate_transcripts(spark, 10, seed=99).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
    )
    extra.write.mode("overwrite").parquet(src)
    q = stream_ingest(spark, eng.store, src, ckpt, TRANSCRIPT_SCHEMA, cfg=CFG)
    q.awaitTermination(120)
    assert eng.nodes_size() > n0
    assert eng.search("the", k=5).count() == 5


def test_append_batch_with_tokenless_rows(spark, tmp_path):
    """A batch containing empty/punct-only texts must still consume their
    doc_ids: next_doc_id advances by the PRE-filter count, so the following
    batch cannot reuse a live id (regression: two docs sharing a doc_id
    corrupts the norms lookup and merges postings of different docs)."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame(
        [("c0", 0, "u", "alpha beta", None), ("c0", 1, "u", "gamma", None)], schema
    )
    eng = Engine(spark, str(tmp_path / "tl"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    next0 = int(eng.store.meta()["next_doc_id"])

    batch1 = spark.createDataFrame(
        [
            ("x0", 0, "u", "alpha", None),
            ("x0", 1, "u", "!!! ...", None),   # punct-only → 0 tokens
            ("x1", 0, "u", "", None),          # empty
            ("x1", 1, "u", "beta alpha", None),
        ],
        schema,
    )
    info1 = append_build(spark, eng.store, batch1, cfg=CFG, batch_id="d1")
    assert info1["n_new_docs"] == 2
    meta1 = eng.store.meta()
    assert int(meta1["next_doc_id"]) == next0 + 4          # raw rows, not live
    assert int(meta1["n_docs"]) == 2 + 2                   # live docs only

    batch2 = spark.createDataFrame([("y0", 0, "u", "alpha gamma", None)], schema)
    info2 = append_build(spark, eng.store, batch2, cfg=CFG, batch_id="d2")
    assert info2["base_doc_id"] == next0 + 4

    res = eng.search("alpha", k=20).collect()
    ids = [r["doc_id"] for r in res]
    assert len(ids) == len(set(ids)), f"duplicate doc_ids: {ids}"
    # batch2's doc is searchable at its non-colliding id
    assert next0 + 4 in ids
    # batch1's live docs sit at ids base+0 and base+3 (order-assigned)
    assert next0 in ids and next0 + 3 in ids


def test_append_all_tokenless_batch(spark, tmp_path):
    """An all-empty batch appends NO segment dir (a schema-less parquet dir
    would break later reads) but still advances next_doc_id."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame([("c0", 0, "u", "alpha beta", None)], schema)
    eng = Engine(spark, str(tmp_path / "te"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    next0 = int(eng.store.meta()["next_doc_id"])
    n_seg_dirs0 = len(eng.store.tables()["segments"])

    batch = spark.createDataFrame([("x0", 0, "u", "...", None)], schema)
    info = append_build(spark, eng.store, batch, cfg=CFG, batch_id="d0")
    assert info["n_new_docs"] == 0
    assert len(eng.store.tables()["segments"]) == n_seg_dirs0
    assert int(eng.store.meta()["next_doc_id"]) == next0 + 1
    assert [r["doc_id"] for r in eng.search("alpha", k=5).collect()] == [0]


def test_auto_compaction_bounds_posting_sources(spark, split_data, tmp_path):
    """max_delta_batches: appends accumulate segment dirs (merge-on-read
    posting sources) only up to the ceiling — the append that exceeds it
    compacts back to ONE dir, and search results are identical to a twin
    engine that never compacted."""
    base, extra = split_data
    slices = [extra.filter(F.col("conv_id") < "xconv00000008"),
              extra.filter((F.col("conv_id") >= "xconv00000008")
                           & (F.col("conv_id") < "xconv00000016")),
              extra.filter(F.col("conv_id") >= "xconv00000016")]

    import dataclasses
    cfg_auto = dataclasses.replace(CFG, max_delta_batches=2)
    cfg_off = dataclasses.replace(CFG, max_delta_batches=None)

    engines = {}
    for name, cfg in (("auto", cfg_auto), ("off", cfg_off)):
        eng = Engine(spark, str(tmp_path / name), cfg)
        eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
        compactions = 0
        for i, sl in enumerate(slices):
            out = append_build(spark, eng.store, sl, cfg=cfg,
                               batch_id=f"d{i}")
            compactions += int(bool(out.get("compacted")))
            # the invariant queries rely on: posting sources per term
            # never exceed ceiling + 1 (the dir that tripped it compacts
            # within the same append call)
            if cfg.max_delta_batches is not None:
                assert len(eng.store.tables()["segments"]) <= cfg.max_delta_batches
        engines[name] = (eng, compactions)

    # off: 1 base + 3 deltas accumulate; auto: the append that exceeded
    # the ceiling (build+2 deltas = 3 dirs > 2) compacted to 1, then the
    # final delta appended on top
    assert len(engines["off"][0].store.tables()["segments"]) == 4
    assert engines["off"][1] == 0
    assert len(engines["auto"][0].store.tables()["segments"]) == 2
    assert engines["auto"][1] == 1

    for q in QUERIES:
        a = engines["auto"][0].search(q, k=20).collect()
        b = engines["off"][0].search(q, k=20).collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b], q
    for name in engines:
        shutil.rmtree(str(tmp_path / name), ignore_errors=True)


def test_appends_leave_no_persisted_dataframe(spark, tmp_path):
    """append_build stages its doc ids as parquet like the build does, so
    no appended batch leaves a persisted DataFrame behind (regression:
    each append used to pin one MEMORY_AND_DISK copy of its batch that
    nothing unpersisted). Nor does any write leave a data dir that no
    manifest references: staged id tables go once their segments are
    written, and an all-token-less batch keeps no segments dir."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame([("c0", 0, "u", "alpha beta", None)], schema)
    root = tmp_path / "np"
    eng = Engine(spark, str(root), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    for i, text in enumerate(["alpha gamma0", "alpha gamma1", "..."]):
        batch = spark.createDataFrame([(f"x{i}", 0, "u", text, None)], schema)
        append_build(spark, eng.store, batch, cfg=CFG, batch_id=f"d{i}")
    assert jsc.getPersistentRDDs().size() == n0
    assert int(eng.store.meta()["n_docs"]) == 3
    assert int(eng.store.meta()["next_doc_id"]) == 4

    assert not list((root / "data" / "ingest").iterdir())
    referenced = set()
    for man in (root / "snapshots").glob("v*.json"):
        for dirs in json.loads(man.read_text())["tables"].values():
            referenced.update(d.rstrip("/").rsplit("/", 1)[-1] for d in dirs)
    on_disk = {d.name for t in (root / "data").iterdir() for d in t.iterdir()}
    assert on_disk <= referenced


def test_prepare_close_releases_what_it_persisted(spark, split_data):
    """Corpus.close() unpersists the id table and tf prepare(id_col=None) pins."""
    # an input no other test prepares: a plan already cached elsewhere is not pinned again
    df = split_data[0].filter(F.col("turn_idx") < 3)
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    for _ in range(2):
        c = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
        assert jsc.getPersistentRDDs().size() == n0 + 2
        c.close()
        assert jsc.getPersistentRDDs().size() == n0


_VOCAB = ["alpha", "beta", "gamma", "delta", "water", "people", "time",
          "数据", "处理", "привет", "café", "x1", "42"]


def _rows(prefix: str, n_convs: int, seed: int) -> list[tuple]:
    """n_convs conversations of 4 turns; every 7th turn is token-less so
    appended and built batches both consume ids of dropped rows."""
    rng = np.random.default_rng(seed)
    out = []
    for c in range(n_convs):
        for t in range(4):
            i = c * 4 + t
            text = ("..." if i % 7 == 3 else
                    " ".join(rng.choice(_VOCAB, size=int(rng.integers(1, 12)))))
            role = None if i % 11 == 5 else ("user" if t % 2 == 0 else "assistant")
            out.append((f"{prefix}{c:02d}", t, role, text, None))
    return out


@pytest.mark.parametrize("index_kw", [
    {},
    {"store_positions": True, "field_cols": ("role",)},
    {"unicode": True, "field_cols": ("role",)},
], ids=["default", "positions_fields", "unicode_fields"])
def test_append_writes_the_rows_a_full_build_writes(spark, tmp_path, index_kw):
    """One indexing path: 64 base rows + an append of 32 rows whose
    conv_ids sort after the base's give the same shard_size (8) and doc
    ids as one build over all 96 rows, so the append's delta dir must
    equal the full build's shards 8-11 in every column but encode_us."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    cfg = EngineConfig(index=IndexConfig(min_shards=1, target_docs_per_shard=8,
                                         block_size=4, **index_kw))
    base_rows, new_rows = _rows("c", 16, seed=3), _rows("x", 8, seed=4)
    order = ["conv_id", "turn_idx"]

    inc = Engine(spark, str(tmp_path / "inc"), cfg)
    inc.build(spark.createDataFrame(base_rows, schema), id_col=None, order_cols=order)
    append_build(spark, inc.store, spark.createDataFrame(new_rows, schema),
                 order_cols=order, cfg=cfg, batch_id="d0")
    full = Engine(spark, str(tmp_path / "full"), cfg)
    full.build(spark.createDataFrame(base_rows + new_rows, schema),
               id_col=None, order_cols=order)
    assert int(inc.store.meta()["shard_size"]) == int(full.store.meta()["shard_size"]) == 8

    def rows(df):
        # every column but encode_us (encode wall time), sorted by
        # (shard_id, term)
        cols = ["shard_id", "term", "df_local", "doc_blocks", "tf_blocks",
                "dl_blocks", "pos_blocks", "block_last", "block_n",
                "block_tf_max", "block_dl_min"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    delta = rows(spark.read.parquet(inc.store.tables()["segments"][-1]))
    want = rows(full.store.read("segments").filter(F.col("shard_id").between(8, 11)))
    assert {r[0] for r in want} == {8, 9, 10, 11}
    assert delta == want
    assert int(inc.store.meta()["next_doc_id"]) == int(full.store.meta()["next_doc_id"]) == 96
    assert int(inc.store.meta()["n_docs"]) == int(full.store.meta()["n_docs"])
    shutil.rmtree(str(tmp_path), ignore_errors=True)
