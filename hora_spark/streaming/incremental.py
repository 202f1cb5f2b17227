"""Incremental index maintenance.

hora supports adding items to an already-built HNSW via
`add_single_item` (/root/reference/src/index/hnsw_idx.rs:498-521) — a
shared-memory graph mutation. The log-structured distributed equivalent:

- `append_build`: the build's indexing verb on fewer rows, as hora's
  `add_single_item` sits next to `batch_construct` (hora's
  src/index/hnsw_idx.rs:464-521). New rows get doc_ids
  continuing after the current max and go through the build's OWN path
  — staged `assign_doc_ids`, the `map_partial_segments` Arrow tokenize
  pass, the per-shard `merge_shard_rows` write (`write_merged_segments`)
  — with the index's pinned tokenizer/positions/field layout, so an
  appended shard holds exactly the rows a full build writes for it. The
  FROZEN corpus stats (N, avgdl, df) stay at build-time values, exactly
  as hora's graph keeps its structure when items are appended — a
  rebuild refreshes stats; the NEW segment rows are appended to the
  snapshot. Queries see a merge-on-read union: multiple segment rows per
  (shard, term) are scored as independent posting sources (each doc
  lives in exactly one source, so scores are exact; upper bounds add,
  staying true bounds).

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
from hora_spark.operators.build_index import (_commit_stats_and_lineage,
                                              _has_parquet, write_merged_segments)
from hora_spark.operators.corpus import assign_doc_ids
from hora_spark.operators.segments import (NORMS_TERM, SEGMENT_SCHEMA,
                                           map_partial_segments, merge_shard_rows)
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
    """Index a batch of NEW rows against an existing snapshot: the build's
    own ids → map_partial_segments → merge/write pass, run on fewer rows
    with the doc ids offset past the index's next_doc_id."""
    cfg = cfg or EngineConfig()
    meta = store.meta()
    shard_size = int(meta["shard_size"])
    n_docs_old = int(meta["n_docs"])
    base_id = int(meta.get("next_doc_id", n_docs_old))

    # staged like the build's ids (no persisted DataFrame is left behind),
    # and the count comes with them. next_doc_id must advance by this
    # PRE-filter count: assign_doc_ids numbered every raw row, so a batch
    # containing token-less texts still consumed those ids — advancing by
    # the live count only would hand the same ids to the next batch (two
    # docs sharing a doc_id corrupts the sorted norms lookup and merges
    # postings of different docs). The staged table is read only by the
    # segment write below: it is discarded once that is written, or when
    # a step raises.
    d_ids = store.stage_dir("ingest")
    try:
        with_ids, n_raw = assign_doc_ids(
            new_df, order_cols or ["conv_id", "turn_idx"], with_count=True,
            staging_dir=d_ids,
        )
        with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base_id))
        n_new = 0
        updates: dict[str, list[str]] = {}
        if n_raw:
            # tokenizer mode, positions, field columns and the dl layout follow
            # the EXISTING index (meta), not the caller's cfg — one index, one
            # tokenizer, one field schema, one layout. Appended field terms
            # therefore qualify as '<field>:<token>' exactly as in the build.
            #
            # frozen stats: the stats table is NOT updated, so terms unseen at
            # build time have no idf and are not searchable until `rebuild`
            # (hora analog: a point inserted into a frozen graph can only link
            # to existing nodes). Segments store idf-free saturation maxima, so
            # no stats join is needed here at all.
            partials = map_partial_segments(
                with_ids, text_col, "doc_id", shard_size,
                unicode=bool(meta.get("unicode", False)),
                store_positions=bool(meta.get("store_positions", False)),
                field_cols=list(meta.get("field_cols") or []),
            )
            # the new ids span [base_id, base_id + n_raw): one merge partition
            # per shard that range touches
            n_parts = (base_id + n_raw - 1) // shard_size - base_id // shard_size + 1
            d_seg = write_merged_segments(store, partials, n_parts,
                                          cfg.index.block_size,
                                          bool(meta.get("store_dl", True)))
            # an all-token-less batch writes no parquet: it appends NO segment
            # dir (a schema-less parquet dir would break later reads). The live
            # count is the written norms rows' doc count (one job over a
            # pruned column pair, not a second tokenize of the batch).
            if _has_parquet(spark, d_seg):
                n_new = int(
                    spark.read.parquet(d_seg).filter(F.col("term") == NORMS_TERM)
                    .agg(F.sum("df_local")).collect()[0][0] or 0
                )
                updates["segments"] = [d_seg]
            else:
                store.discard(d_seg)
    finally:
        store.discard(d_ids)

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
