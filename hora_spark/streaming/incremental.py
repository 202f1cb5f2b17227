"""Incremental index maintenance.

hora supports adding items to an already-built HNSW via
`add_single_item` (/root/reference/src/index/hnsw_idx.rs:498-521) — a
shared-memory graph mutation. The log-structured distributed equivalent:

- `append_build`: new rows get doc_ids continuing after the current max,
  are tokenized/scored with the FROZEN corpus stats (N, avgdl, df stay at
  build-time values, exactly as hora's graph keeps its structure when
  items are appended — a rebuild refreshes stats), and are encoded into
  NEW segment rows appended to the snapshot. Queries see a merge-on-read
  union: multiple segment rows per (shard, term) are scored as independent
  posting sources (each doc lives in exactly one source, so scores are
  exact; upper bounds add, staying true bounds).

- `merge_segments`: compaction of the storage layout: decode every
  (shard, term)'s row set, concatenate (doc-id-sorted), re-encode as a
  single row, physically dropping tombstoned docs; commit replaces the
  segments table. Logical content is otherwise unchanged (asserted in
  tests); stats stay frozen.

- `delete_docs` / `rebuild`: tombstone-then-compact delete support (the
  `has_deletion` filter, /root/reference/src/index/hnsw_params.rs:53-63)
  and the full stats-refreshing `rebuild()` analog
  (/root/reference/src/core/ann_index.rs:69-71).

- `stream_ingest`: Structured Streaming wrapper — readStream over a
  directory, foreachBatch → append_build, one snapshot commit per batch
  (exactly-once per batch id via the snapshot meta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig
from hora_spark.operators.segments import SEGMENT_SCHEMA, encode_shard_rows, merge_shard_rows
from hora_spark.operators.corpus import assign_doc_ids
from hora_spark.functions.tokenize import get_tokenize_udf
from hora_spark.sources.storage import SnapshotStore


def append_build(
    spark: SparkSession,
    store: SnapshotStore,
    new_df: DataFrame,
    text_col: str = "text",
    order_cols: list[str] | None = None,
    cfg: EngineConfig | None = None,
    batch_id: str = "delta-0",
) -> dict:
    """Index a batch of NEW rows against an existing snapshot."""
    cfg = cfg or EngineConfig()
    meta = store.meta()
    shard_size = int(meta["shard_size"])
    avgdl = float(meta["avgdl"])
    n_docs_old = int(meta["n_docs"])
    base_id = int(meta.get("next_doc_id", n_docs_old))

    with_ids = assign_doc_ids(new_df, order_cols or ["conv_id", "turn_idx"]).withColumn(
        "doc_id", F.col("doc_id") + F.lit(base_id)
    )
    # appended rows tokenize with the INDEX's pinned mode (one index, one
    # tokenizer — same rule as the store_dl layout below)
    tok_udf = get_tokenize_udf(bool(meta.get("unicode", False)))
    base_all = with_ids.withColumn("terms", tok_udf(F.col(text_col))).withColumn(
        "dl", F.size("terms")
    )
    # next_doc_id must advance by the PRE-filter count: assign_doc_ids
    # numbered every raw row, so a batch containing token-less texts still
    # consumed those ids — advancing by the live count only would hand the
    # same ids to the next batch (two docs sharing a doc_id corrupts the
    # sorted norms lookup and merges postings of different docs)
    counts = base_all.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum((F.col("dl") > 0).cast("long")).alias("n_live"),
    ).collect()[0]
    n_raw = int(counts["n_raw"] or 0)
    n_new = int(counts["n_live"] or 0)
    base = base_all.filter(F.col("dl") > 0)

    store_positions = bool(meta.get("store_positions", False))
    # appended rows carry the INDEX's field postings too (meta, not the
    # caller's cfg — one index, one field schema): each field column's
    # value tokenizes with the pinned mode and qualifies as
    # '<field>:<token>', exactly like map_partial_segments. Positions for
    # field terms index into the doc's CONCATENATED field-token list (the
    # batch build's layout); they are never read by queries (field terms
    # can't enter positional chains) but keep the encode path uniform.
    fld_cols = list(meta.get("field_cols") or [])
    if fld_cols:
        from hora_spark.functions.tokenize import tokens_col

        uni = bool(meta.get("unicode", False))

        def _qualified(fc: str):
            # NB: a two-arg lambda in F.transform would bind the second
            # parameter to the ELEMENT INDEX — close over fc instead
            prefix = F.lit(fc + ":")
            return F.transform(
                tokens_col(F.col(fc).cast("string"), unicode=uni),
                lambda t: F.concat(prefix, t))

        f_terms = F.flatten(F.array(*[_qualified(fc) for fc in fld_cols]))
        base = base.withColumn("fterms", f_terms)

    def _tf_of(src: DataFrame, terms_col: str) -> DataFrame:
        if store_positions:
            # posexplode keeps each occurrence's within-doc position; the
            # sorted list per (doc, term) feeds pos_blocks at encode
            return (
                src.select("doc_id", "dl",
                           F.posexplode(terms_col).alias("pos", "term"))
                .groupBy("doc_id", "dl", "term")
                .agg(F.count(F.lit(1)).alias("tf"),
                     F.sort_array(F.collect_list("pos")).alias("pos_list"))
            )
        return (
            src.select("doc_id", "dl", F.explode(terms_col).alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    tf = _tf_of(base, "terms")
    if fld_cols:
        tf = tf.unionByName(_tf_of(base, "fterms"))
    # frozen stats: the stats table is NOT updated, so terms unseen at
    # build time have no idf and are not searchable until `rebuild`
    # (hora analog: a point inserted into a frozen graph can only link to
    # existing nodes). Segments store idf-free saturation maxima, so no
    # stats join is needed here at all.
    # exact integer DIV (not float `/`): must be bit-identical to the
    # build's numpy `ids // shard_size` even for doc ids near 2^53
    tf = tf.withColumn(
        "shard_id", F.expr(f"CAST(CAST(doc_id AS BIGINT) DIV {shard_size} AS INT)")
    )

    k1, b = cfg.bm25.k1, cfg.bm25.b
    updates: dict[str, list[str]] = {}
    if n_new > 0:
        # encode_shard_rows emits the reserved norms row per shard inline, so
        # the delta commit is one table append. The layout mode follows the
        # EXISTING index (meta), not the caller's cfg — one index, one mode.
        block_size, store_dl = cfg.index.block_size, bool(meta.get("store_dl", True))

        def enc(pdf):
            if store_positions and len(pdf):
                import numpy as np
                pos_flat = np.concatenate(
                    [np.asarray(p, np.int64) for p in pdf["pos_list"]]
                )
                return encode_shard_rows(pdf.drop(columns=["pos_list"]),
                                         block_size, store_dl=store_dl,
                                         pos_flat=pos_flat)
            return encode_shard_rows(
                pdf.drop(columns=["pos_list"], errors="ignore"),
                block_size, store_dl=store_dl)

        segs = tf.groupBy("shard_id").applyInPandas(enc, SEGMENT_SCHEMA)
        d_seg = store.stage_dir("segments")
        segs.write.mode("overwrite").partitionBy("shard_id").parquet(d_seg)
        updates["segments"] = [d_seg]

    lineage = spark.createDataFrame(
        [(batch_id, -1, "", "", 0, n_new, 0, 0.0)],
        "build_id string, seg_id int, term_lo string, term_hi string, "
        "n_terms long, doc_count long, bytes long, wall_time_s double",
    )
    d_lin = store.stage_dir("lineage")
    lineage.write.mode("overwrite").parquet(d_lin)
    updates["lineage"] = [d_lin]
    v = store.commit(
        updates,
        replace=False,
        meta={"n_docs": n_docs_old + n_new, "next_doc_id": base_id + n_raw,
              "last_batch_id": batch_id},
    )
    out = {"version": v, "n_new_docs": n_new, "base_doc_id": base_id}
    # auto-compaction: merge-on-read cost grows with the number of
    # appended dirs per term, so once the segments table exceeds
    # max_delta_batches dirs, compact back to one row per (shard, term).
    # Results are unchanged (stats stay frozen; tombstones — if any —
    # become physical, same as an explicit merge_segments call).
    if (cfg.max_delta_batches is not None
            and len(store.tables().get("segments", [])) > cfg.max_delta_batches):
        _compact_segments(spark, store, cfg)
        out["compacted"] = True
        out["version"] = store.current_version()
    return out


def _compact_segments(spark: SparkSession, store: SnapshotStore, cfg: EngineConfig) -> str:
    """Shared compaction step (used by merge_segments AND rebuild): decode
    every (shard, term) row set, physically drop tombstoned docs, re-encode
    canonically, commit the replaced segments table (deletes table cleared,
    n_deletes reset). Returns the new segments dir.

    Delete filtering has two physical forms with identical results:
    small tombstone sets (≤ cfg.max_broadcast_deletes) are collected and
    broadcast; large ones NEVER touch the driver — doc-range sharding means
    doc_id // shard_size IS the shard key, so the tombstones cogroup with
    the segment rows of their own shard."""
    segs = store.read("segments")
    meta = store.meta()
    block_size = cfg.index.block_size
    store_dl = bool(meta.get("store_dl", True))  # keep the index's layout mode
    n_del = int(meta.get("n_deletes", 0))
    if n_del > cfg.max_broadcast_deletes and store.exists("deletes"):
        shard_size = int(meta["shard_size"])
        dels = store.read("deletes").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            # exact integer DIV — same invariant as the query path
            F.expr(f"CAST(CAST(doc_id AS BIGINT) DIV {shard_size} AS INT)").alias("shard_id"),
        )

        def run_cg(seg_pdf, del_pdf):
            import numpy as np
            d = (np.unique(del_pdf["doc_id"].to_numpy(np.int64))
                 if len(del_pdf) else None)
            return merge_shard_rows(seg_pdf, block_size, deleted=d,
                                    store_dl=store_dl)

        merged = (
            segs.groupby("shard_id").cogroup(dels.groupby("shard_id"))
            .applyInPandas(run_cg, SEGMENT_SCHEMA)
        )
    else:
        b_del = spark.sparkContext.broadcast(store.deleted_ids())
        merged = segs.groupBy("shard_id").applyInPandas(
            lambda pdf: merge_shard_rows(pdf, block_size, deleted=b_del.value,
                                         store_dl=store_dl),
            SEGMENT_SCHEMA,
        )
    d_seg = store.stage_dir("segments")
    merged.write.mode("overwrite").partitionBy("shard_id").parquet(d_seg)
    store.commit({"segments": [d_seg]}, replace=True, drop=["deletes"],
                 meta={"n_deletes": 0})
    return d_seg


def delete_docs(spark: SparkSession, store: SnapshotStore, doc_ids) -> dict:
    """Tombstone docs (hora's `has_deletion` search filter,
    /root/reference/src/index/hnsw_params.rs:53-63 and the deleted-id check
    /root/reference/src/index/hnsw_idx.rs:235-237): queries exclude them
    exactly and immediately; survivors' scores are UNCHANGED (stats stay
    frozen); the bytes are physically removed at the next compaction or
    rebuild. doc_ids: iterable of ints or a one-column DataFrame."""
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
    else:
        df = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")
    d = store.stage_dir("deletes")
    df.write.mode("overwrite").parquet(d)
    # cumulative tombstone count (an upper bound — re-deletes count twice)
    # rides in the meta so readers can choose broadcast vs cogroup delete
    # filtering WITHOUT running a count job per query; counted from the
    # written files, not by recomputing df
    n_new = spark.read.parquet(d).count()
    old = int(store.meta().get("n_deletes", 0))
    v = store.commit({"deletes": [d]}, replace=False,
                     meta={"n_deletes": old + n_new})
    return {"version": v, "n_deletes": old + n_new}


def merge_segments(spark: SparkSession, store: SnapshotStore, cfg: EngineConfig | None = None) -> int:
    """Compaction: one row per (shard, term), norms rows included;
    replaces the segments table and physically removes tombstoned docs.
    Corpus stats stay FROZEN (so all scores are unchanged); only
    `rebuild` refreshes N/avgdl/df and makes appended novel-vocabulary
    terms searchable."""
    cfg = cfg or EngineConfig()
    _compact_segments(spark, store, cfg)
    return store.current_version()


def rebuild(
    spark: SparkSession,
    store: SnapshotStore,
    cfg: EngineConfig | None = None,
    build_id: str = "rebuild-0",
) -> dict:
    """The `rebuild()` analog (/root/reference/src/core/ann_index.rs:69-71):
    compact the segment layout (physically dropping tombstoned docs) AND
    recompute corpus stats (N, avgdl, per-term df/idf) over the result.

    After `append_build` the stats are frozen at build-time values, so
    terms first seen in appended batches have no idf row and are not
    searchable; after `delete_docs` the stats still count the tombstones.
    rebuild makes both permanent: search results become rank-identical to
    a from-scratch build over the live corpus."""
    import time

    from hora_spark.operators.build_index import _commit_stats_and_lineage

    cfg = cfg or EngineConfig()
    meta = store.meta()
    t0 = time.perf_counter()
    d_seg = _compact_segments(spark, store, cfg)
    # stats + lineage recomputed in full over the compacted segment set —
    # the same metadata pass the build uses (blob columns pruned)
    passthrough = {
        k: meta[k]
        for k in ("shard_size", "n_shards", "max_doc_id", "next_doc_id",
                  "bm25", "store_dl", "unicode", "store_positions",
                  "field_cols")
        if k in meta
    }
    _commit_stats_and_lineage(
        spark, store, [d_seg], cfg, build_id,
        {d_seg: time.perf_counter() - t0}, extra_meta=passthrough,
    )
    return {"version": store.current_version(), "build_id": build_id,
            "n_docs": int(store.meta().get("n_docs", 0))}


def stream_ingest(
    spark: SparkSession,
    store: SnapshotStore,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    cfg: EngineConfig | None = None,
    order_cols: list[str] | None = None,
):
    """Structured Streaming ingest: every micro-batch of new transcript
    files becomes one delta-segment commit. Returns the streaming query
    (caller awaits/stops). Use trigger(availableNow=True) for catch-up."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = store.meta().get("last_batch_id")
        bid = f"stream-{batch_id}"
        if last == bid:  # replayed batch after restart → idempotent skip
            return
        append_build(spark, store, batch_df, cfg=cfg, batch_id=bid,
                     order_cols=order_cols)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
