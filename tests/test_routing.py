"""Reverse search / routing: standing queries score arriving docs with
frozen stats. Batch twin ≡ brute-force oracle on in-corpus docs;
streaming sink ≡ batch twin over the same rows."""

import pytest
from pyspark.sql import functions as F

from hora_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from hora_spark.operators.corpus import assign_doc_ids, prepare
from hora_spark.operators.oracle import bruteforce_topk
from hora_spark.streaming.routing import route_docs, stream_route

QUERIES = ["water people", "the of and", "w00123"]


@pytest.fixture(scope="module")
def corpus_env(spark):
    df = generate_transcripts(spark, 50, seed=41).cache()
    df.count()
    corpus = prepare(df, id_col=None, order_cols=["conv_id", "turn_idx"])
    terms = sorted({t for q in QUERIES for t in q.split()})
    idf = {r["term"]: float(r["idf"]) for r in
           corpus.term_stats.filter(F.col("term").isin(terms)).collect()}
    with_ids = assign_doc_ids(df, ["conv_id", "turn_idx"])
    yield corpus, idf, with_ids
    df.unpersist()


def test_route_batch_equals_bruteforce(spark, corpus_env):
    """Routing the corpus's own docs with its own stats must reproduce the
    brute-force BM25 scores exactly (routing IS scoring, minus top-k)."""
    corpus, idf, with_ids = corpus_env
    out = route_docs(with_ids, QUERIES, idf, corpus.avgdl, min_score=0.0)
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in out.collect()}
    for qi, q in enumerate(QUERIES):
        want = {r["doc_id"]: round(r["score"], 6) for r in
                bruteforce_topk(spark, corpus, q, k=1 << 30).collect()}
        got_q = {d: s for (i, d), s in got.items() if i == qi}
        assert got_q == {d: s for d, s in want.items() if s >= 0.0}, q


def test_route_threshold_cuts_exactly(spark, corpus_env):
    corpus, idf, with_ids = corpus_env
    full = route_docs(with_ids, QUERIES[:1], idf, corpus.avgdl, min_score=0.0)
    scores = sorted((r["score"] for r in full.collect()), reverse=True)
    assert len(scores) > 5
    cut = scores[3]  # threshold at the 4th-best score
    kept = route_docs(with_ids, QUERIES[:1], idf, corpus.avgdl,
                      min_score=cut).collect()
    assert all(r["score"] >= cut for r in kept)
    assert len(kept) == sum(1 for s in scores if s >= cut)


def test_route_absent_terms_and_empty(spark, corpus_env):
    corpus, idf, with_ids = corpus_env
    assert route_docs(with_ids, ["zzzqqq absent"], idf, corpus.avgdl,
                      min_score=0.0).count() == 0


def test_stream_route_equals_batch_twin(spark, corpus_env, tmp_path):
    corpus, idf, with_ids = corpus_env
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")
    # two "arriving" batches of NEW docs (ids offset to be disjoint)
    b1 = generate_transcripts(spark, 10, seed=91).withColumn(
        "conv_id", F.concat(F.lit("n1"), F.col("conv_id")))
    b2 = generate_transcripts(spark, 8, seed=92).withColumn(
        "conv_id", F.concat(F.lit("n2"), F.col("conv_id")))
    b1.write.mode("overwrite").parquet(src)
    q = stream_route(spark, src, ck, sink, QUERIES, idf, corpus.avgdl,
                     min_score=0.3, schema=TRANSCRIPT_SCHEMA,
                     id_cols=["conv_id", "turn_idx"])
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_route(spark, src, ck, sink, QUERIES, idf, corpus.avgdl,
                      min_score=0.3, schema=TRANSCRIPT_SCHEMA,
                      id_cols=["conv_id", "turn_idx"])
    q2.awaitTermination(120)

    got = {(r["conv_id"], r["turn_idx"], r["query_id"]): r["score"]
           for r in spark.read.parquet(sink).collect()}
    want_df = route_docs(b1.unionByName(b2), QUERIES, idf, corpus.avgdl,
                         min_score=0.3, id_cols=["conv_id", "turn_idx"])
    want = {(r["conv_id"], r["turn_idx"], r["query_id"]): r["score"]
            for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_engine_route_uses_index_stats(spark, corpus_env, tmp_path):
    """Engine.route reads idf/avgdl from the built snapshot: routing the
    index's own corpus must reproduce brute-force scores exactly."""
    from hora_spark.config import EngineConfig, IndexConfig
    from hora_spark.engine import Engine

    corpus, _, with_ids = corpus_env
    eng = Engine(spark, str(tmp_path / "ridx"),
                 EngineConfig(index=IndexConfig(block_size=16, n_buckets=4)))
    eng.build(with_ids, id_col="doc_id")
    out = eng.route(with_ids, QUERIES[:2], min_score=0.0)
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in out.collect()}
    for qi, q in enumerate(QUERIES[:2]):
        want = {r["doc_id"]: round(r["score"], 6) for r in
                bruteforce_topk(spark, corpus, q, k=1 << 30).collect()}
        assert {d: s for (i, d), s in got.items() if i == qi} == want, q


def test_route_empty_result_keeps_id_schema(spark, corpus_env, tmp_path):
    """Absent-term routing with STRING id columns must return an empty
    frame with the real id types — a hardcoded long schema would poison
    an append-mode sink (review finding r4)."""
    corpus, idf, with_ids = corpus_env
    out = route_docs(with_ids, ["zzzqqq absent"], idf, corpus.avgdl,
                     min_score=0.0, id_cols=["conv_id", "turn_idx"])
    assert out.count() == 0
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["conv_id"] == "string" and fields["turn_idx"] == "int"
    # and it appends cleanly next to a non-empty result
    sink = str(tmp_path / "mixsink")
    out.write.mode("append").parquet(sink)
    route_docs(with_ids, QUERIES[:1], idf, corpus.avgdl, min_score=0.0,
               id_cols=["conv_id", "turn_idx"]).write.mode("append").parquet(sink)
    assert spark.read.parquet(sink).count() > 0


def test_stream_route_replay_is_idempotent(spark, corpus_env, tmp_path):
    """The at-least-once hole foreachBatch leaves open: a failure AFTER
    the batch's data write but BEFORE the checkpoint's offset commit
    replays the batch on restart. The batch_id-keyed overwrite sink must
    absorb the replay without duplicating matches (exactly-once sink
    contents). Simulated by deleting the checkpoint's commit marker for
    batch 0 and restarting the stream."""
    import os


    corpus, idf, with_ids = corpus_env
    src = str(tmp_path / "rsrc")
    ck = str(tmp_path / "rck")
    sink = str(tmp_path / "rsink")
    b1 = generate_transcripts(spark, 10, seed=93).withColumn(
        "conv_id", F.concat(F.lit("r1"), F.col("conv_id")))
    b1.write.mode("overwrite").parquet(src)
    q = stream_route(spark, src, ck, sink, QUERIES, idf, corpus.avgdl,
                     min_score=0.3, schema=TRANSCRIPT_SCHEMA,
                     id_cols=["conv_id", "turn_idx"])
    q.awaitTermination(120)
    first = sorted(
        (r["conv_id"], r["turn_idx"], r["query_id"], r["score"])
        for r in spark.read.parquet(sink).collect())
    assert len(first) > 0
    # crash window: data written, offset commit lost → replay batch 0
    commit0 = os.path.join(ck, "commits", "0")
    assert os.path.exists(commit0)
    os.remove(commit0)
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = stream_route(spark, src, ck, sink, QUERIES, idf, corpus.avgdl,
                      min_score=0.3, schema=TRANSCRIPT_SCHEMA,
                      id_cols=["conv_id", "turn_idx"])
    q2.awaitTermination(120)
    replayed = sorted(
        (r["conv_id"], r["turn_idx"], r["query_id"], r["score"])
        for r in spark.read.parquet(sink).collect())
    assert replayed == first  # no duplicates, no loss
