"""Corpus preparation: text table → docs / tf / stats DataFrames.

The analog of hora's add/madd ingestion (/root/reference/src/core/
ann_index.rs:36-59): rows are buffered (here: a DataFrame of raw text) and
`build` freezes them into searchable structures. `init_item` there assigns
the internal id as insertion order (/root/reference/src/index/
hnsw_idx.rs:441-462); here doc_id is a dense rank over the stable sort key
(conv_id, turn_idx) — see assign_doc_ids (one payload shuffle, no window,
no Python row serde).

Term frequencies are computed MAP-SIDE inside the tokenize pass (one Arrow
pass: text → (doc, term, tf, dl) rows) — no explode shuffle; the (doc,
term) pair is already unique coming out of the UDF, which is the partial
aggregation the reference gets for free from its per-node loop
(/root/reference/src/index/bruteforce_idx.rs:49-61).

`prepare` is the ORACLE/test-scale path (it materializes the tf table);
the production build path (operators/build_index.py) never materializes
tf — it packs partial postings inside the same Arrow pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hora_spark.config import EngineConfig
from hora_spark.functions.bm25 import idf_col
from hora_spark.functions.tokenize import token_run_regex


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    partitions: int | None = None,
    staging_dir: str | None = None,
    with_count: bool = False,
):
    """Add a dense, 0-based `doc_id` following the global order of
    `order_cols`. Scalable two-pass zip-with-index, all JVM-side, with
    exactly ONE shuffle of the payload:

      repartitionByRange(keys) → sortWithinPartitions(keys)
      → monotonically_increasing_id: upper bits = partition id, lower bits
        = sequential position within the (sorted) partition — so pid+local
        index come for free, no window, no second shuffle
      → pin the evaluation (staged parquet, or persist as fallback)
      → per-pid counts (cheap agg) → broadcast offsets → doc_id

    Pinning matters for correctness: range boundaries are sampled, so the
    counts pass and the id pass must observe the SAME materialization.
    Returns df, or (df, total_count) when with_count=True."""
    out, n, _ = _assign_ids(df, order_cols, partitions, staging_dir)
    return (out, n) if with_count else out


def _assign_ids(df, order_cols, partitions, staging_dir):
    """assign_doc_ids → (df, total_count, the persisted pin or None)."""
    spark = df.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    mid = F.monotonically_increasing_id()
    ranged = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.shiftright(mid, 33).cast("int"))
        .withColumn("_lidx", mid.bitwiseAND(F.lit((1 << 33) - 1)))
    )
    if staging_dir:
        ranged.write.mode("overwrite").parquet(staging_dir)
        base = spark.read.parquet(staging_dir)
    else:
        base = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = base.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["_n"]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    out = (
        base.join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", F.col("_off") + F.col("_lidx"))
        .drop("_pid", "_lidx", "_off")
    )
    return out, acc, None if staging_dir else base


@dataclass
class Corpus:
    """Frozen corpus tables. docs/tf are DataFrames; n_docs/avgdl are the
    broadcast-sized stats (hora analog: nodes_size/dimension metadata,
    /root/reference/src/core/ann_index.rs:105,118-120)."""

    docs: DataFrame        # doc_id, dl
    tf: DataFrame          # doc_id, dl, term, tf  (unique per (doc, term))
    term_stats: DataFrame  # term, df, idf
    n_docs: int
    avgdl: float
    unicode: bool = False  # tokenizer mode the tables were built with
    # what prepare() persisted for the caller: tf, and the id table it reads
    _pinned: tuple = field(default=(), init=False, repr=False)

    def close(self) -> None:
        """Unpersist what prepare() pinned; the tables stay usable but
        recompute from the input on each later action."""
        for df in self._pinned:
            df.unpersist()
        self._pinned = ()


TF_SCHEMA = "doc_id long, dl int, term string, tf int"


def tf_map_side(df: DataFrame, text_col: str, id_col: str,
                unicode: bool = False) -> DataFrame:
    """One Arrow pass: (id, text) → (doc_id, dl, term, tf) rows.

    Vectorized: pandas str.findall extracts the pinned token runs, a single
    explode + groupby per batch computes tfs. Rows with zero tokens vanish
    here (counted policy vs the reference's NaN panic,
    /root/reference/src/core/node.rs:158-166)."""

    import itertools

    import numpy as np

    token_re = token_run_regex(unicode)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks = pdf[text_col].fillna("").str.lower().str.findall(token_re)
            dl = toks.str.len().to_numpy(np.int64)
            ids = pdf[id_col].to_numpy(np.int64)
            keep = dl > 0
            if not keep.any():
                continue
            tok_lists = toks.to_numpy()[keep]
            ids, dl = ids[keep], dl[keep]
            flat = list(itertools.chain.from_iterable(tok_lists))
            # factorize once (C hashing), then count (doc, term) pairs as
            # int64 keys — no string groupby
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object), sort=False)
            doc_idx = np.repeat(np.arange(len(ids), dtype=np.int64), dl)
            v = np.int64(len(uniques))
            key = doc_idx * v + codes
            uk, counts = np.unique(key, return_counts=True)
            d_i = (uk // v).astype(np.int64)
            c_i = (uk % v).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": ids[d_i],
                    "dl": dl[d_i].astype(np.int32),
                    "term": np.asarray(uniques, dtype=object)[c_i],
                    "tf": counts.astype(np.int32),
                }
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(run, TF_SCHEMA)


def prepare(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    order_cols: list[str] | None = None,
    cfg: EngineConfig | None = None,
    unicode: bool = False,
) -> Corpus:
    """text table → Corpus. If id_col is None, assigns doc_id by dense rank
    over order_cols. The tf DataFrame is persisted (it feeds several
    downstream aggregations), and so is the id table when id_col is None
    (its range boundaries are sampled, so it must stay pinned while tf
    can be recomputed). The caller owns both until `Corpus.close()`."""
    cfg = cfg or EngineConfig()
    pins = []
    if id_col is None:
        df, _, pin = _assign_ids(df, order_cols or ["conv_id", "turn_idx"],
                                 None, None)
        pins.append(pin)
        id_col = "doc_id"
    else:
        # prepare() is the oracle/test-scale path (the production build
        # never materializes tf), so when the input sits in one file/row
        # group — tokenize parallelism 1 however many cores exist —
        # fanning it out with one cheap narrow shuffle is always the right
        # trade here. Only a caller-supplied id column can arrive starved:
        # assign_doc_ids already range-partitions to defaultParallelism,
        # so that path skips the probe (one Spark job under AQE).
        para = df.sparkSession.sparkContext.defaultParallelism
        if para > 1:
            try:
                in_parts = df.rdd.getNumPartitions()
            except Exception:
                in_parts = para
            if in_parts < para:
                df = df.repartition(para)

    tf = tf_map_side(df, text_col, id_col, unicode=unicode).withColumnRenamed(id_col, "doc_id")
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)

    stats_row = tf.agg(
        F.countDistinct("doc_id").alias("n"),
        (F.sum("tf") / F.countDistinct("doc_id")).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = int(stats_row["n"]), float(stats_row["avgdl"])

    term_stats = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))  # tf rows are unique per (doc, term)
        .withColumn("idf", idf_col(F.lit(n_docs), F.col("df"), cfg.bm25))
    )
    docs = tf.select("doc_id", "dl").distinct()
    corpus = Corpus(docs=docs, tf=tf, term_stats=term_stats, n_docs=n_docs,
                    avgdl=avgdl, unicode=unicode)
    corpus._pinned = (tf, *pins)
    return corpus
