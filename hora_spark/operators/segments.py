"""Segment-row codec: the shared vocabulary of the build, merge, append,
and query paths.

A segment row is one (shard, term) posting list in compressed block form
(SEGMENT_SCHEMA), plus one reserved NORMS_TERM row per shard carrying the
doc-length sidecar. Three producers emit rows of this shape:

- `map_partial_segments`: the MAP-SIDE of the build and of every append
  (one indexing path) — inside the Arrow tokenize pass, each input batch
  packs its postings per (shard, term) into single-block partial rows.
  This is what crosses the build's one shuffle: ~|vocab|·|partitions|
  blob rows instead of |postings| string rows (measured 25× fewer
  boundary crossings; the Python-object cost of 55M-row Arrow
  conversions dominated the whole build before this).
  The reference analog is the per-thread partial work rayon merges
  (/root/reference/src/core/knn.rs:250-256) — here merge is associative
  so partials compose exactly.
- `merge_shard_rows`: the REDUCE side (of the build and of an append,
  via build_index.write_merged_segments) and the compaction path — decode
  any set of partial/full rows of one shard, rebuild canonical rows via
  `encode_shard_rows`. Output depends only on the logical (doc, term, tf,
  dl) set, never on partitioning (the determinism invariant).
- `encode_shard_rows`: tuples → canonical rows; one numpy pass
  (factorize + lexsort + reduceat), per-block work is slice+tobytes.

Block bounds are avgdl-FREE (per-block max tf, min dl): the query-time
bound idf·sat(tf_max, dl_min) dominates idf·sat(tf, dl) for every doc in
the block, so WAND pruning stays exact while the build needs no global
statistic (the LUT-at-query-time move of /root/reference/src/index/
pq_idx.rs:165-194).
"""

from __future__ import annotations

import itertools
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hora_spark.functions.codec import (decode_block, decode_posting,
                                        encode_block, segment_gather)
from hora_spark.functions.tokenize import token_run_regex

_segment_gather = segment_gather  # shared helper, one implementation (codec)

SEGMENT_SCHEMA = (
    "shard_id int, term string, df_local long, "
    "doc_blocks array<binary>, tf_blocks array<binary>, dl_blocks array<binary>, "
    "pos_blocks array<binary>, "
    "block_last array<long>, block_n array<int>, "
    "block_tf_max array<long>, block_dl_min array<int>, "
    "encode_us long"
)
# pos_blocks (store_positions=True layout only; [] otherwise): block j
# packs the concatenated within-doc token positions of every posting in
# doc order — per-doc counts are the tf values already in tf_blocks, so
# no extra length array is needed. Phrase queries verify adjacency from
# the index alone (no source-text join).
# reserved doc-length sidecar row per shard: doc ids delta-packed in
# doc_blocks[0], dls fixed-width packed in tf_blocks[0], Σdl in
# block_tf_max[0]. \x00 can never appear in a token in EITHER tokenizer
# mode (it is neither [a-z0-9] nor a Unicode letter/digit — category Cc).
NORMS_TERM = "\x00norms"

_DTYPES = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}


def _pack_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                 widths: np.ndarray) -> list[bytes]:
    return [
        bytes([w]) + values[s:e].astype(_DTYPES[w]).tobytes()
        for s, e, w in zip(starts, ends, widths)
    ]


def _width_of(maxvals: np.ndarray) -> np.ndarray:
    return np.select(
        [maxvals < (1 << 8), maxvals < (1 << 16), maxvals < (1 << 32)],
        [1, 2, 4], default=8,
    ).astype(np.int64)


def _cumsum0(a: np.ndarray) -> np.ndarray:
    out = np.empty(len(a) + 1, np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _empty() -> pd.DataFrame:
    # dtypes must be Arrow-convertible to SEGMENT_SCHEMA even for zero rows
    # (a bare [] column is float64, which Arrow refuses to cast to
    # list<binary> — hit when a cogroup hands an empty segment side)
    return pd.DataFrame({
        "shard_id": pd.Series([], dtype=np.int32),
        "term": pd.Series([], dtype=object),
        "df_local": pd.Series([], dtype=np.int64),
        "doc_blocks": pd.Series([], dtype=object),
        "tf_blocks": pd.Series([], dtype=object),
        "dl_blocks": pd.Series([], dtype=object),
        "pos_blocks": pd.Series([], dtype=object),
        "block_last": pd.Series([], dtype=object),
        "block_n": pd.Series([], dtype=object),
        "block_tf_max": pd.Series([], dtype=object),
        "block_dl_min": pd.Series([], dtype=object),
        "encode_us": pd.Series([], dtype=np.int64),
    })


def encode_shard_rows(pdf: pd.DataFrame, block_size: int,
                      store_dl: bool = True,
                      pos_flat: np.ndarray | None = None) -> pd.DataFrame:
    """(shard_id, doc_id, dl, term, tf) tuples of ONE shard → canonical
    segment rows + the norms row.

    store_dl=False skips the per-posting dl_blocks (queries then fall back
    to the norms sidecar — IndexConfig.store_dl documents the trade).
    pos_flat: optional flat int64 positions array — row i of pdf owns the
    next tf[i] entries (in pdf row order, ascending within a row); emits
    pos_blocks aligned with doc blocks (store_positions layout)."""
    t0 = time.perf_counter()
    if not len(pdf):
        return _empty()
    codes, uniq = pd.factorize(pdf["term"].to_numpy(), sort=True)
    order = np.lexsort((pdf["doc_id"].to_numpy(), codes))
    pos_sorted = None
    if pos_flat is not None:
        lens0 = pdf["tf"].to_numpy(np.int64)
        starts0 = _cumsum0(lens0)[:-1]
        pos_sorted = np.asarray(pos_flat, np.int64)[
            _segment_gather(starts0[order], lens0[order])
        ]
    codes = codes[order]
    doc_ids = pdf["doc_id"].to_numpy(np.int64)[order]
    tfs = pdf["tf"].to_numpy(np.int64)[order]
    dls = pdf["dl"].to_numpy(np.int64)[order]
    n = len(codes)
    uniq = np.asarray(uniq, dtype=object)

    t_starts = np.flatnonzero(np.diff(codes, prepend=codes[0] - 1))
    t_ends = np.append(t_starts[1:], n)
    gaps = doc_ids.copy()
    gaps[1:] -= doc_ids[:-1]
    gaps[t_starts] = doc_ids[t_starts]

    term_of_row = np.repeat(np.arange(len(uniq)), t_ends - t_starts)
    pos_in_term = np.arange(n) - t_starts[term_of_row]
    b_starts = np.flatnonzero(pos_in_term % block_size == 0)
    b_ends = np.append(b_starts[1:], n)
    b_term = term_of_row[b_starts]

    gap_max = np.maximum.reduceat(gaps, b_starts)
    tf_max = np.maximum.reduceat(tfs, b_starts)
    dl_min = np.minimum.reduceat(dls, b_starts)
    doc_blocks = _pack_blocks(gaps, b_starts, b_ends, _width_of(gap_max))
    tf_blocks = _pack_blocks(tfs, b_starts, b_ends, _width_of(tf_max))
    # doc lengths ride with the posting (dl_blocks ∥ tf_blocks): scoring a
    # term decodes O(posting) bytes, never a shard-wide norms sidecar
    # (unless store_dl=False, the space-lean round-1 layout)
    if store_dl:
        dl_max = np.maximum.reduceat(dls, b_starts)
        dl_blocks = _pack_blocks(dls, b_starts, b_ends, _width_of(dl_max))
    if pos_sorted is not None:
        # block row ranges → flat position ranges (row i owns tf[i] slots)
        flat_off = _cumsum0(tfs)
        p_starts, p_ends = flat_off[b_starts], flat_off[b_ends]
        p_max = np.maximum.reduceat(pos_sorted, p_starts)
        pos_blocks = _pack_blocks(pos_sorted, p_starts, p_ends, _width_of(p_max))
    block_last = doc_ids[b_ends - 1]
    block_n = (b_ends - b_starts).astype(np.int32)

    tb_starts = np.searchsorted(b_term, np.arange(len(uniq)), side="left")
    tb_ends = np.searchsorted(b_term, np.arange(len(uniq)), side="right")
    shard_id = int(pdf["shard_id"].iloc[0])
    out = pd.DataFrame({
        "shard_id": np.full(len(uniq), shard_id, np.int32),
        "term": uniq,
        "df_local": (t_ends - t_starts).astype(np.int64),
        "doc_blocks": [doc_blocks[s:e] for s, e in zip(tb_starts, tb_ends)],
        "tf_blocks": [tf_blocks[s:e] for s, e in zip(tb_starts, tb_ends)],
        "dl_blocks": ([dl_blocks[s:e] for s, e in zip(tb_starts, tb_ends)]
                      if store_dl else [[] for _ in range(len(uniq))]),
        "pos_blocks": ([pos_blocks[s:e] for s, e in zip(tb_starts, tb_ends)]
                       if pos_sorted is not None
                       else [[] for _ in range(len(uniq))]),
        "block_last": [block_last[s:e].tolist() for s, e in zip(tb_starts, tb_ends)],
        "block_n": [block_n[s:e].tolist() for s, e in zip(tb_starts, tb_ends)],
        "block_tf_max": [tf_max[s:e].tolist() for s, e in zip(tb_starts, tb_ends)],
        "block_dl_min": [dl_min[s:e].astype(np.int32).tolist() for s, e in zip(tb_starts, tb_ends)],
        "encode_us": np.zeros(len(uniq), np.int64),
    })

    nd_ids, nd_first = np.unique(doc_ids, return_index=True)
    nd_dls = dls[nd_first]
    norms_row = pd.DataFrame({
        "shard_id": [np.int32(shard_id)],
        "term": [NORMS_TERM],
        "df_local": [len(nd_ids)],
        "doc_blocks": [[encode_block(nd_ids, base=0, delta=True)]],
        "tf_blocks": [[encode_block(nd_dls, delta=False)]],
        "dl_blocks": [[]],
        "pos_blocks": [[]],
        "block_last": [[]],
        "block_n": [[len(nd_ids)]],
        "block_tf_max": [[int(nd_dls.sum())]],
        "block_dl_min": [[]],
        "encode_us": [0],
    })
    out = pd.concat([norms_row, out], ignore_index=True)
    out.loc[0, "encode_us"] = int((time.perf_counter() - t0) * 1e6)
    return out


def merge_shard_rows(
    pdf: pd.DataFrame, block_size: int, deleted: np.ndarray | None = None,
    store_dl: bool = True
) -> pd.DataFrame:
    """Any set of segment rows of ONE shard (partials from the map side,
    or base+delta rows during compaction) → canonical rows, by decoding
    everything and re-encoding. Deterministic in the logical content.

    deleted: sorted tombstoned doc ids — physically removed here (the
    compaction half of delete support; queries filter them exactly until
    then)."""
    is_norms = pdf["term"] == NORMS_TERM
    norms_rows = pdf[is_norms]
    seg_rows = pdf[~is_norms]
    if not len(seg_rows):
        return _empty()
    # per-posting dl comes from dl_blocks when present (final/canonical
    # rows); PARTIAL rows ship without them to keep the shuffle lean, so
    # their dl is reconstructed from the norms rows of the same shard
    # (one (doc, dl) pair per doc — sorted lookup)
    nids = ndls = None
    if len(norms_rows):
        ids_all, dls_all = [], []
        for row in norms_rows.itertuples(index=False):
            ids_all.append(decode_block(bytes(row.doc_blocks[0]), base=0, delta=True))
            dls_all.append(decode_block(bytes(row.tf_blocks[0]), delta=False))
        nids = np.concatenate(ids_all)
        ndls = np.concatenate(dls_all)
        order = np.argsort(nids, kind="mergesort")
        nids, ndls = nids[order], ndls[order]
    ids_out, tfs_out, dls_out, pos_out, lens = [], [], [], [], []
    n_pos_rows = 0
    for row in seg_rows.itertuples(index=False):
        ids, tfs = decode_posting(list(row.doc_blocks), list(row.tf_blocks))
        if len(row.dl_blocks):
            dls = np.concatenate(
                [decode_block(bytes(b), delta=False) for b in row.dl_blocks]
            )
        else:
            if nids is None:
                raise ValueError("partial segment rows need norms rows for dl")
            idx = np.searchsorted(nids, ids)
            if (idx >= len(nids)).any() or (
                nids[np.minimum(idx, len(nids) - 1)] != ids
            ).any():
                raise ValueError(
                    "posting doc id missing from norms rows "
                    "(corrupt/mismatched segment set)"
                )
            dls = ndls[idx]
        if len(row.pos_blocks):
            n_pos_rows += 1
            pos_out.append(np.concatenate(
                [decode_block(bytes(b), delta=False) for b in row.pos_blocks]
            ))
        ids_out.append(ids)
        tfs_out.append(tfs)
        dls_out.append(dls)
        lens.append(len(ids))
    if n_pos_rows and n_pos_rows != len(lens):
        raise ValueError(
            "mixed position layouts in one shard: "
            f"{n_pos_rows} of {len(lens)} rows carry pos_blocks"
        )
    doc_id = np.concatenate(ids_out)
    tf_all = np.concatenate(tfs_out)
    tf_pdf = pd.DataFrame({
        "shard_id": np.full(len(doc_id), int(pdf["shard_id"].iloc[0]), np.int32),
        "doc_id": doc_id,
        "dl": np.concatenate(dls_out),
        "term": np.repeat(seg_rows["term"].to_numpy(), lens),
        "tf": tf_all,
    })
    pos_all = np.concatenate(pos_out) if n_pos_rows else None
    if deleted is not None and len(deleted):
        posx = np.minimum(np.searchsorted(deleted, doc_id), len(deleted) - 1)
        keep = deleted[posx] != doc_id
        if pos_all is not None:
            starts = _cumsum0(tf_all)[:-1]
            pos_all = pos_all[_segment_gather(starts[keep], tf_all[keep])]
        tf_pdf = tf_pdf[keep]
    return encode_shard_rows(tf_pdf, block_size, store_dl=store_dl,
                             pos_flat=pos_all)


def _pack_partial_postings(
    ids: np.ndarray, dl: np.ndarray, shard_of_doc: np.ndarray,
    tok_lists, n_toks: np.ndarray, store_positions: bool,
) -> pd.DataFrame | None:
    """One batch's token lists → PARTIAL posting rows (no norms rows).

    ids/dl/shard_of_doc are per-doc arrays; tok_lists is a same-length
    sequence of token lists with n_toks their lengths. dl is the NORM
    length recorded per posting (the doc's TEXT length — field postings
    deliberately reuse it so dl reconstruction at merge stays a single
    norms lookup and field terms never perturb avgdl). All heavy lifting
    is numpy; term strings materialize only once per distinct term per
    batch."""
    flat = list(itertools.chain.from_iterable(tok_lists))
    if not flat:
        return None
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object), sort=True)
    uniques = np.asarray(uniques, dtype=object)
    doc_idx = np.repeat(np.arange(len(ids), dtype=np.int64), n_toks)
    # tf per (shard, doc, term): docs are unique within the batch,
    # so the (doc, code) pair key is enough
    v = np.int64(len(uniques))
    key = doc_idx * v + codes
    if store_positions:
        # sort-based grouping instead of np.unique: a stable sort
        # keeps each (doc, term) group's positions ascending
        # (token order IS position order within a doc)
        pos_in_doc = (np.arange(len(codes), dtype=np.int64)
                      - np.repeat(_cumsum0(n_toks)[:-1], n_toks))
        order0 = np.argsort(key, kind="stable")
        ks = key[order0]
        g0 = np.flatnonzero(np.diff(ks, prepend=ks[0] - 1))
        uk = ks[g0]
        counts = np.diff(np.append(g0, np.int64(len(ks))))
        pos_by_key = pos_in_doc[order0]
    else:
        uk, counts = np.unique(key, return_counts=True)
    d_i = (uk // v).astype(np.int64)
    c_i = (uk % v).astype(np.int64)
    p_doc = ids[d_i]
    p_dl = dl[d_i]
    p_shard = shard_of_doc[d_i]
    # order by (shard, code, doc) → contiguous posting runs
    order = np.lexsort((p_doc, c_i, p_shard))
    if store_positions:
        starts_u = _cumsum0(counts)[:-1]
        pos_re = pos_by_key[_segment_gather(starts_u[order], counts[order])]
    p_doc, p_dl, p_shard, c_i, counts = (
        p_doc[order], p_dl[order], p_shard[order], c_i[order], counts[order]
    )
    grp_key = p_shard * v + c_i
    g_starts = np.flatnonzero(np.diff(grp_key, prepend=grp_key[0] - 1))
    g_ends = np.append(g_starts[1:], len(grp_key))
    # vectorized single-block packing across ALL groups at once
    gaps = p_doc.copy()
    gaps[1:] -= p_doc[:-1]
    gaps[g_starts] = p_doc[g_starts]
    gap_max = np.maximum.reduceat(gaps, g_starts)
    tf_maxg = np.maximum.reduceat(counts, g_starts)
    dl_ming = np.minimum.reduceat(p_dl, g_starts)
    dblocks = _pack_blocks(gaps, g_starts, g_ends, _width_of(gap_max))
    tblocks = _pack_blocks(counts, g_starts, g_ends, _width_of(tf_maxg))
    if store_positions:
        off = _cumsum0(counts)
        pf, pe = off[g_starts], off[g_ends]
        p_max = np.maximum.reduceat(pos_re, pf)
        pblocks = _pack_blocks(pos_re, pf, pe, _width_of(p_max))
    lasts = p_doc[g_ends - 1]
    ns = (g_ends - g_starts).astype(np.int64)
    rows = {
        "shard_id": p_shard[g_starts].astype(np.int32),
        "term": uniques[c_i[g_starts]],
        "df_local": ns,
        "doc_blocks": [[b] for b in dblocks],
        "tf_blocks": [[b] for b in tblocks],
        # PARTIAL rows cross the build's one shuffle WITHOUT dl
        # blocks: each shard's partial norms rows already carry one
        # (doc, dl) pair per doc, so shipping dl per posting too
        # would re-inflate the shuffle by ~1 byte/posting (measured
        # as a visible hit at the bandwidth-bound high-core end).
        # merge_shard_rows reconstructs per-posting dl from the
        # norms rows; only FINAL segment rows store dl_blocks.
        "dl_blocks": [[] for _ in range(len(ns))],
        "pos_blocks": ([[b] for b in pblocks] if store_positions
                       else [[] for _ in range(len(ns))]),
        "block_last": [[int(x)] for x in lasts],
        "block_n": [[int(x)] for x in ns],
        "block_tf_max": [[int(x)] for x in tf_maxg],
        "block_dl_min": [[int(x)] for x in dl_ming],
        "encode_us": np.zeros(len(ns), np.int64),
    }
    return pd.DataFrame(rows)


def field_tokens_py(row_vals, field_cols, token_re) -> list[str]:
    """One doc's FIELD terms: for each field column, tokenize the value
    with the index's pinned tokenizer and qualify each token as
    '<field>:<token>'. ':' is unreachable by the tokenizer, so field
    terms can never collide with text terms (and are excluded from the
    dictionary surfaces — suggest/prefix/fuzzy/wildcard — by that same
    marker)."""
    out = []
    for fc, val in zip(field_cols, row_vals):
        if val is None:
            continue
        for t in token_re.findall(str(val).lower()):
            out.append(f"{fc}:{t}")
    return out


def map_partial_segments(
    df: DataFrame, text_col: str, id_col: str, shard_size: int,
    unicode: bool = False, store_positions: bool = False,
    field_cols: list[str] | None = None,
) -> DataFrame:
    """The build's map side: one Arrow pass over (id, text) emitting
    PARTIAL segment rows — per (shard, term) of each batch, a single-block
    posting (sorted by doc_id), plus one partial norms row per shard.
    All heavy lifting is numpy; term strings materialize only once per
    distinct term per batch. unicode selects the pinned tokenizer mode;
    store_positions additionally packs within-doc token positions per
    posting (single pos block per partial row, same one-pass shape).

    field_cols: fielded-filter columns (ES keyword/filter-context
    fields). Each listed column's value tokenizes with the SAME pinned
    tokenizer and lands as '<field>:<token>' postings in the same
    segment layout — queryable as zero-score filter clauses
    (fields={'lang': 'en'}), never as scoring terms (':' is unreachable
    by the tokenizer). Field postings reuse the doc's TEXT dl as their
    norm entry and add NO norms rows, so N/avgdl/df-of-text-terms are
    byte-identical with and without fields. With store_positions, field
    term positions index into the doc's CONCATENATED field-token list;
    queries never read them (field terms can't enter positional chains)
    but they keep the encode path uniform.

    This is also the map side of `append_build`: an append runs this pass
    on its new rows (ids already offset past next_doc_id) with the
    index's pinned modes, so the delta rows equal a full build's."""
    token_re = token_run_regex(unicode)
    field_cols = list(field_cols or [])

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
            shard_of_doc = (ids // shard_size).astype(np.int64)
            out = _pack_partial_postings(
                ids, dl, shard_of_doc, tok_lists, dl, store_positions)
            parts = [out]
            if field_cols:
                f_vals = [pdf[fc].to_numpy()[keep] for fc in field_cols]
                f_lists = [
                    field_tokens_py(vals, field_cols, token_re)
                    for vals in zip(*f_vals)
                ]
                f_rows = _pack_partial_postings(
                    ids, dl, shard_of_doc, f_lists,
                    np.array([len(l) for l in f_lists], np.int64),
                    store_positions)
                if f_rows is not None:
                    parts.append(f_rows)
            # partial norms rows per shard in this batch
            s_order = np.argsort(ids, kind="mergesort")  # doc order
            s_ids, s_dl, s_sh = ids[s_order], dl[s_order], shard_of_doc[s_order]
            n_starts = np.flatnonzero(np.diff(s_sh, prepend=s_sh[0] - 1))
            n_ends = np.append(n_starts[1:], len(s_sh))
            n_gaps = s_ids.copy()
            n_gaps[1:] -= s_ids[:-1]
            n_gaps[n_starts] = s_ids[n_starts]
            n_gapmax = np.maximum.reduceat(n_gaps, n_starts)
            n_dlmax = np.maximum.reduceat(s_dl, n_starts)
            n_dblocks = _pack_blocks(n_gaps, n_starts, n_ends, _width_of(n_gapmax))
            n_tblocks = _pack_blocks(s_dl, n_starts, n_ends, _width_of(n_dlmax))
            n_ns = (n_ends - n_starts).astype(np.int64)
            sums = np.add.reduceat(s_dl, n_starts)
            norms = pd.DataFrame({
                "shard_id": s_sh[n_starts].astype(np.int32),
                "term": NORMS_TERM,
                "df_local": n_ns,
                "doc_blocks": [[b] for b in n_dblocks],
                "tf_blocks": [[b] for b in n_tblocks],
                "dl_blocks": [[]] * len(n_ns),
                "pos_blocks": [[]] * len(n_ns),
                "block_last": [[]] * len(n_ns),
                "block_n": [[int(x)] for x in n_ns],
                "block_tf_max": [[int(x)] for x in sums],
                "block_dl_min": [[]] * len(n_ns),
                "encode_us": np.zeros(len(n_ns), np.int64),
            })
            yield pd.concat(parts + [norms], ignore_index=True)

    cols = [F.col(id_col), F.col(text_col)]
    cols += [F.col(c).cast("string").alias(c) for c in field_cols]
    return df.select(*cols).mapInPandas(run, SEGMENT_SCHEMA)
