"""Shard-local top-k scoring: DAAT over compressed postings with block-max
pruning — numpy-vectorized, exact.

Capability analog of hora's two pruned-search ideas:
- the beam's early exit `if cur_dist > lower_bound break`
  (/root/reference/src/index/hnsw_idx.rs:284-290,344-350): here the bound is
  θ = k-th best score so far; any block set whose summed block_max ≤ θ can
  be skipped without decoding;
- PQ's ADC lookup table (precompute query→center distances once, O(1) per
  doc, /root/reference/src/index/pq_idx.rs:165-194): here the precomputed
  quantities are per-term idf and per-block max BM25 contribution
  (block_max already INCLUDES the idf factor), written at build time.

Exactness: block_max is a true upper bound (max over the block of
idf·tf/(tf+k1·(1-b+b·dl/avgdl)) with each doc's REAL dl), so skipping a
region whose upper bound ≤ θ can never evict a true top-k member. The
pruned path must therefore return exactly what the exhaustive path returns
— asserted in tests, mirroring the reference's brute-force-vs-index
agreement harness (/root/reference/src/lib.rs:89-111).

Rather than a per-doc Python loop (banned: per-row Python), the pruning is
*block-granular and batch-ordered*: elementary doc-id intervals are ranked
by their summed upper bound and decoded in descending-bound batches; after
each batch θ tightens, and the loop stops at the first interval whose bound
≤ θ. Everything inside a batch is numpy.
"""

from __future__ import annotations

import numpy as np

from hora_spark.functions.codec import decode_block, segment_gather

# decoded-width cap (docs) of one batch of candidate intervals
BATCH_DOCS = 8192


class TermPosting:
    """Decoded-on-demand posting list of one (term, shard) segment row.

    Doc lengths ride WITH the posting (dl_blocks aligned to tf_blocks), so
    scoring a rare term decodes O(posting) bytes — no shard-wide norms
    sidecar is touched (the round-1 design decoded the whole shard's
    doc-length table per query, making rare-term cost scale with shard
    size instead of posting size).

    Indexes built with IndexConfig.store_dl=False have no dl_blocks; the
    caller then supplies dl_lookup = (sorted doc ids, dls) decoded from
    the shard's norms sidecar, and per-block dls come from a searchsorted
    lookup — byte-identical scores, shard-proportional decode cost."""

    __slots__ = ("idf", "doc_blocks", "tf_blocks", "dl_blocks", "block_last",
                 "block_max", "block_start", "_cache", "dl_lookup",
                 "pos_blocks", "_pos_cache")

    def __init__(self, idf, doc_blocks, tf_blocks, dl_blocks, block_last,
                 block_max, dl_lookup=None, pos_blocks=None):
        self.idf = float(idf)
        self.doc_blocks = doc_blocks
        self.tf_blocks = tf_blocks
        self.dl_blocks = dl_blocks
        self.dl_lookup = dl_lookup
        self.block_last = np.asarray(block_last, dtype=np.int64)
        self.block_max = np.asarray(block_max, dtype=np.float64)
        # first doc id of each block = prev block's last + 1 (lower bound);
        # block j covers doc ids in [block_start[j], block_last[j]]
        self.block_start = np.empty_like(self.block_last)
        if len(self.block_last):
            self.block_start[0] = 0
            self.block_start[1:] = self.block_last[:-1] + 1
        self._cache: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self.pos_blocks = pos_blocks
        self._pos_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def decode(self, j: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        got = self._cache.get(j)
        if got is None:
            base = int(self.block_last[j - 1]) if j > 0 else 0
            ids = decode_block(self.doc_blocks[j], base=base, delta=True)
            tfs = decode_block(self.tf_blocks[j], delta=False)
            if len(self.dl_blocks):
                dls = decode_block(self.dl_blocks[j], delta=False)
            else:  # store_dl=False layout: norms-sidecar lookup
                nids, ndls = self.dl_lookup
                idx = np.searchsorted(nids, ids)
                # a posting doc id missing from the sidecar (corrupt or
                # mismatched snapshot) must fail LOUDLY — an unchecked
                # gather would mis-score mid-array or IndexError at the end
                if (idx >= len(nids)).any() or (
                    nids[np.minimum(idx, len(nids) - 1)] != ids
                ).any():
                    raise ValueError(
                        "posting doc id missing from norms sidecar "
                        "(corrupt/mismatched snapshot)"
                    )
                dls = ndls[idx]
            got = (ids, tfs, dls)
            self._cache[j] = got
        return got

    def boosted(self, w: float) -> "TermPosting":
        """Shallow boosted view for per-term query boosts (term^w): idf
        and block_max scale by w, so contributions AND the block upper
        bounds scale together — pruning stays exact for any w > 0
        (a negative w would flip the bound direction, which is why the
        query layer rejects it). Decode caches are SHARED with the
        parent by reference: blocks still decode once per shard even
        when several queries boost the same term differently."""
        other = TermPosting.__new__(TermPosting)
        for s in TermPosting.__slots__:
            setattr(other, s, getattr(self, s))
        other.idf = self.idf * w
        other.block_max = self.block_max * w
        return other

    def decode_pos(self, j: int) -> tuple[np.ndarray, np.ndarray]:
        """Block j's flat within-doc positions + per-posting offsets
        (offsets[i] .. offsets[i+1] are the positions of the block's i-th
        doc — per-doc counts are the tfs). store_positions layout only."""
        got = self._pos_cache.get(j)
        if got is None:
            if not self.pos_blocks:
                raise ValueError(
                    "phrase search needs pos_blocks "
                    "(index built without store_positions)"
                )
            flat = decode_block(self.pos_blocks[j], delta=False)
            _, tfs, _ = self.decode(j)
            offs = np.empty(len(tfs) + 1, np.int64)
            offs[0] = 0
            np.cumsum(tfs, out=offs[1:])
            got = (flat, offs)
            self._pos_cache[j] = got
        return got


def _in_sorted(sorted_arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Boolean membership of vals in a sorted array."""
    if len(sorted_arr) == 0 or len(vals) == 0:
        return np.zeros(len(vals), dtype=bool)
    idx = np.minimum(np.searchsorted(sorted_arr, vals), len(sorted_arr) - 1)
    return sorted_arr[idx] == vals


def _tf_sat(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _topk(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """top-k by (score DESC, doc_id ASC) — the pinned tie-break
    (hora's Neighbor ordering, /root/reference/src/core/neighbor.rs:30-34)."""
    if len(doc_ids) == 0:
        return doc_ids, scores
    if len(doc_ids) > k:
        # keep everything >= the k-th score so ties are resolved exactly
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def _score_terms_on_docs(
    terms: list[TermPosting],
    blocks_per_term: list[np.ndarray],
    lo: int,
    hi: int,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    min_match: int = 0,
    min_match_slots: list[int] | None = None,
    required: list[list[int]] | None = None,
    chains: list[tuple[list[tuple[int, list[int]]], int | None, bool]] | None = None,
    after: tuple[float, int] | None = None,
    dismax_tb: float | None = None,
    demote: tuple[np.ndarray, float] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact scores of all docs with id in [lo, hi] across `terms`,
    decoding only the listed blocks. Accumulation order = term list order
    (sorted by term at the call site) → deterministic float sums.

    dismax_tb: disjunction-max score combiner (Lucene DisjunctionMaxQuery
    / ES dis_max): None = BM25 sum (default); a float in [0, 1] switches
    each doc's score to  max_contrib + tb·(sum − max_contrib)  over its
    matched terms — tb=0 is pure best-clause, tb=1 degenerates to the
    sum. Qualification (min_match/required/chains) is unchanged; only
    the combiner differs. max is order-independent and the sum keeps the
    pinned order, so scores stay deterministic.

    min_match > 0 keeps only docs matched by at least that many DISTINCT
    query terms (conjunctive search passes len(query terms)). Counting
    raw contributions per doc IS the distinct-term count: a doc lives in
    exactly one posting source per term (base and append-delta doc ranges
    are disjoint) and in exactly one block of that source, so every
    (doc, term) pair yields exactly one contribution array entry here.
    min_match_slots restricts the count to contributions from those slot
    indices — the Lucene minimum_should_match convention when a boolean
    query mixes must/phrase clauses with optional should terms (only the
    SHOULD clauses count toward the minimum); None counts every slot.

    required: list of slot-index GROUPS (Lucene's +term / must clauses) —
    a doc survives only if, for EVERY group, at least one of the group's
    slots matched it. A group is one required term's posting sources
    (base + append deltas), so multi-source terms stay one clause.

    chains: positional clauses, each (slots, near_window, unordered) with
    slots = list of (slot_offset, indices-into-terms). Every chain must
    match (required clauses; Lucene's '"exact phrase>" / "loose terms"~N').
    near_window=None → exact adjacency: keep docs where some token
    position p has slot 0's term at p, slot 1's at p + (off1 − off0),
    etc. Verified fully vectorized over (local-doc, position) composite
    keys from the SAME decoded blocks (a doc lives entirely inside one
    block of one source, so its positions never straddle intervals).

    near_window=w (proximity; slots = one per DISTINCT chain term in
    chain order): instead of exact shifts, keep docs where some
    occurrence p of the FIRST term has, for every other term, an
    occurrence within |q − p| ≤ w tokens. The composite-key base exceeds
    max_pos + w, so a near-neighbor in key space is automatically in the
    same doc — one sorted prev/next lookup per slot, no per-doc loop.

    unordered=True relaxes the anchor to ANY term's occurrence
    (order-free, closer to Lucene slop): the doc matches iff SOME
    occurrence p of SOME chain term has, for every OTHER term, an
    occurrence within w of p. Identical to anchored near for 2-term
    chains (|p−q| ≤ w is symmetric); strictly more permissive from
    3 terms up. Same composite-key machinery, one anchored pass per
    candidate anchor slot (O(n_terms²) sorted lookups on the candidate
    sets).

    deleted: optional SORTED int64 array of tombstoned doc ids — they are
    dropped before the heap, so survivors' scores are untouched (the
    has_deletion filter of /root/reference/src/index/hnsw_idx.rs:235-237).
    allowed: optional SORTED int64 keep-list (filtered search): docs NOT
    in it are dropped before the heap — same exactness argument as
    deletes, inverted. An EMPTY array means 'filter active, nothing
    allowed' (None means no filter).

    after: optional (score, doc_id) cursor for deep paging
    (search_after): only docs STRICTLY AFTER the cursor in the global
    (score DESC, doc_id ASC) result order qualify — score < cursor
    score, or equal score with a larger doc_id. Applied before the
    heap like deletes, so θ tracks the k-th CURSOR-QUALIFIED score and
    block-max pruning stays exact (a skipped region bounds scores from
    above, so nothing below θ is lost; above-cursor docs are merely
    masked, never mis-scored). Exact float equality at the tie branch
    is sound because the cursor comes from this engine's own previous
    page — recomputing the same doc's score is bit-identical (pinned
    summation order)."""
    need_slots = required is not None or min_match_slots is not None
    all_ids: list[np.ndarray] = []
    all_contrib: list[np.ndarray] = []
    all_slot: list[np.ndarray] = []
    for si, (t, blocks) in enumerate(zip(terms, blocks_per_term)):
        for j in blocks:
            ids, tfs, dls = t.decode(int(j))
            m = (ids >= lo) & (ids <= hi)
            if not m.any():
                continue
            all_ids.append(ids[m])
            all_contrib.append(
                t.idf * _tf_sat(tfs[m], dls[m].astype(np.float64), avgdl, k1, b)
            )
            if need_slots:
                all_slot.append(np.full(int(m.sum()), si, np.int32))
    if not all_ids:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cat_ids = np.concatenate(all_ids)
    cat_con = np.concatenate(all_contrib)
    cat_slot = np.concatenate(all_slot) if need_slots else None
    uids, inv = np.unique(cat_ids, return_inverse=True)
    scores = np.zeros(len(uids), dtype=np.float64)
    np.add.at(scores, inv, cat_con)
    if dismax_tb is not None:
        # best-clause combiner: every (doc, term) pair contributes exactly
        # one entry (disjoint posting sources), so the per-doc max over
        # entries IS the max over matched terms. The interval's summed
        # block_max still dominates (tb ≤ 1 ⇒ dismax ≤ sum), so block-max
        # pruning stays exact with θ tracking dismax scores.
        maxes = np.full(len(uids), -np.inf)
        np.maximum.at(maxes, inv, cat_con)
        scores = maxes + dismax_tb * (scores - maxes)
    if demote is not None and len(uids):
        # boosting query (ES `boosting`): docs matching the negative
        # term set keep their eligibility but score × factor (one raw-
        # double multiply — the SQL twin reproduces it bit-exactly).
        # Applied BEFORE the heap so θ tracks final (demoted) scores;
        # pruning stays exact because factor ≤ 1 keeps every score
        # under the undemoted block upper bounds.
        d_ids, factor = demote
        if len(d_ids):
            scores = np.where(_in_sorted(d_ids, uids),
                              scores * factor, scores)
    if min_match > 1 or (min_match >= 1 and min_match_slots is not None):
        counts = np.zeros(len(uids), dtype=np.int64)
        if min_match_slots is None:
            np.add.at(counts, inv, 1)
        else:
            sel = np.isin(cat_slot, min_match_slots)
            np.add.at(counts, inv[sel], 1)
        qual = counts >= min_match
        uids, scores = uids[qual], scores[qual]
    if required is not None and len(uids):
        # must clauses: every group needs ≥1 matching slot per doc — the
        # group's doc ids come from the SAME contribution arrays (no new
        # decode), applied pre-heap so θ tracks qualified scores only
        for group in required:
            sel = np.isin(cat_slot, group)
            if not sel.any():
                return np.empty(0, np.int64), np.empty(0, np.float64)
            keep = _in_sorted(np.unique(cat_ids[sel]), uids)
            uids, scores = uids[keep], scores[keep]
            if not len(uids):
                return np.empty(0, np.int64), np.empty(0, np.float64)
    if after is not None and len(uids):
        cs, cd = float(after[0]), int(after[1])
        qual = (scores < cs) | ((scores == cs) & (uids > cd))
        uids, scores = uids[qual], scores[qual]
    if deleted is not None and len(deleted) and len(uids):
        live = ~_in_sorted(deleted, uids)
        uids, scores = uids[live], scores[live]
    if allowed is not None and len(uids):
        # empty keep-list = filter active, nothing allowed (None = off)
        keep = _in_sorted(allowed, uids)
        uids, scores = uids[keep], scores[keep]
    if chains and len(uids):
        # raw (doc_id, position) pairs per slot key, cached UNFILTERED so
        # several chains sharing a term decode/gather once; the filter to
        # surviving candidates is re-applied per chain (uids shrink as
        # chains match, so cached candidate-local indices would go stale)
        raw_cache: dict[tuple[int, ...], tuple[np.ndarray, np.ndarray]] = {}

        def _slot_raw(idxs: list[int]) -> tuple[np.ndarray, np.ndarray]:
            key = tuple(idxs)
            got = raw_cache.get(key)
            if got is None:
                # duplicate-term slots ("a b a") share one decode+gather
                docs_l, pos_l = [], []
                for ti in idxs:
                    t = terms[ti]
                    for j in blocks_per_term[ti]:
                        ids, tfs, _ = t.decode(int(j))
                        m = (ids >= lo) & (ids <= hi)
                        if not m.any():
                            continue
                        flat, offs = t.decode_pos(int(j))
                        sel = np.flatnonzero(m)
                        pos_l.append(flat[segment_gather(offs[sel], tfs[sel])])
                        docs_l.append(np.repeat(ids[sel], tfs[sel]))
                got = ((np.concatenate(docs_l), np.concatenate(pos_l))
                       if docs_l
                       else (np.empty(0, np.int64), np.empty(0, np.int64)))
                raw_cache[key] = got
            return got

        for chain, near_window, unordered in chains:
            if not len(uids):
                break
            # per slot: (local candidate-doc index, position) pairs
            # restricted to the CURRENT survivors
            slot_pairs: list[tuple[np.ndarray, np.ndarray]] = []
            pmax = 0
            dead = False
            for _, idxs in chain:
                d, p = _slot_raw(idxs)
                ok = _in_sorted(uids, d)
                if not ok.any():
                    dead = True
                    break
                locs, pos = np.searchsorted(uids, d[ok]), p[ok]
                pmax = max(pmax, int(pos.max()))
                slot_pairs.append((locs, pos))
            if dead:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            # key base: shifted/near keys must stay inside one doc's range
            pad = (near_window if near_window is not None else len(chain)) + 2
            base = pmax + pad
            slot_keys = [np.unique(l * base + p) for l, p in slot_pairs]
            cur = slot_keys[0]
            if near_window is None:
                # exact adjacency: chain of shifted-key memberships
                off0 = chain[0][0]
                for (off, _), keys_t in zip(chain[1:], slot_keys[1:]):
                    cur = cur[_in_sorted(keys_t, cur + (off - off0))]
                    if len(cur) == 0:
                        return np.empty(0, np.int64), np.empty(0, np.float64)
            else:
                # proximity: anchor occurrences must have a neighbor within
                # near_window in EVERY other slot — nearest sorted neighbor
                # (prev/next) per anchor, vectorized
                def _filter_anchored(cur, others):
                    for keys_t in others:
                        if len(cur) == 0:
                            break
                        idx = np.searchsorted(keys_t, cur)
                        nxt = np.minimum(idx, len(keys_t) - 1)
                        prv = np.maximum(idx - 1, 0)
                        near = np.minimum(np.abs(keys_t[nxt] - cur),
                                          np.abs(cur - keys_t[prv])) <= near_window
                        cur = cur[near]
                    return cur

                if not unordered:
                    # anchored: the FIRST term's occurrences are the anchors
                    cur = _filter_anchored(cur, slot_keys[1:])
                else:
                    # unordered: ANY term's occurrence may anchor — one
                    # anchored pass per anchor slot, survivors unioned
                    survivors = [
                        _filter_anchored(slot_keys[a],
                                         slot_keys[:a] + slot_keys[a + 1:])
                        for a in range(len(slot_keys))
                    ]
                    survivors = [s for s in survivors if len(s)]
                    cur = (np.concatenate(survivors) if survivors
                           else np.empty(0, np.int64))
                if len(cur) == 0:
                    return np.empty(0, np.int64), np.empty(0, np.float64)
            keep = np.zeros(len(uids), dtype=bool)
            keep[np.unique(cur // base)] = True
            uids, scores = uids[keep], scores[keep]
    return uids, scores


def shard_topk(
    terms: list[TermPosting],
    k: int | None,
    avgdl: float,
    k1: float,
    b: float,
    prune: bool = True,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    min_match: int = 0,
    min_match_slots: list[int] | None = None,
    required: list[list[int]] | None = None,
    chains: list[tuple[list[tuple[int, list[int]]], int | None, bool]] | None = None,
    after: tuple[float, int] | None = None,
    dismax_tb: float | None = None,
    demote: tuple[np.ndarray, float] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (doc_ids, scores) of one shard for one query.

    demote: (sorted doc ids, factor in (0, 1]) — the ES boosting-query
    combiner: matching docs stay eligible but score × factor (see
    _score_terms_on_docs). θ tracks demoted scores; factor ≤ 1 keeps
    every score under the undemoted block bounds, so pruning is exact.

    dismax_tb: disjunction-max combiner (see _score_terms_on_docs) —
    per-doc score = max_contrib + tb·(sum − max_contrib). Contributions
    are positive (idf > 0, boosts > 0) and tb ∈ [0, 1], so dismax ≤ sum
    ≤ the interval's summed block_max: pruning stays exact with θ
    tracking the k-th qualified DISMAX score.

    after: (score, doc_id) deep-paging cursor — only docs strictly after
    it in (score DESC, doc_id ASC) order qualify; θ then tracks the k-th
    qualified score, so the next page prunes as hard as a fresh query
    whose θ starts near the cursor. See _score_terms_on_docs.

    chains: positional clauses (see _score_terms_on_docs) — every chain
    must match; θ then tracks the k-th best CHAIN-qualified score,
    keeping block-max pruning exact for phrases/proximity too.

    required: must clauses — slot-index groups that every result doc has
    to match (Lucene '+term'); dropped pre-heap like min_match, so the
    pruning-exactness argument is unchanged (the OR upper bound dominates
    every doc's score, qualified or not). min_match_slots restricts the
    minimum_should_match count to the listed slot indices (should clauses
    only, the Lucene convention when must/phrase clauses are present).

    min_match = len(query terms) gives conjunctive (AND) semantics: only
    docs matching every term may appear; their scores are the usual sums.
    θ then tracks the k-th best QUALIFIED score (unqualified docs are
    dropped before the heap), so block-max pruning stays exact — the OR
    upper bound dominates every doc's score, qualified or not. When fewer
    than k docs qualify, the loop degrades to an exhaustive scan of the
    candidate intervals (no early break), which is the correct price.

    terms MUST be in sorted term order (pinned summation order).
    prune=False is the exhaustive decode-all path (test oracle).
    deleted: sorted tombstoned doc ids, excluded from results exactly.
    allowed: sorted keep-list (filtered search) — only these doc ids may
    appear; scores of kept docs are the unfiltered scores (stats global).
    WAND pruning stays exact: the unfiltered block bounds only
    over-estimate the filtered scores.
    """
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)

    if not prune or k is None:
        # k=None = match ENUMERATION (facets / match counting / export):
        # every qualified doc with its exact score, no heap, no pruning —
        # enumeration is inherently exhaustive, so block-max cannot help
        blocks_all = [np.arange(len(t.block_last)) for t in terms]
        ids, scores = _score_terms_on_docs(
            terms, blocks_all, 0, np.iinfo(np.int64).max, avgdl, k1, b,
            deleted, allowed, min_match, min_match_slots, required, chains,
            after, dismax_tb, demote,
        )
        return (ids, scores) if k is None else _topk(ids, scores, k)

    # ---- block-max pruned path -------------------------------------------
    # elementary intervals over all block boundaries
    bounds = np.unique(
        np.concatenate(
            [t.block_start for t in terms] + [t.block_last + 1 for t in terms]
        )
    )
    lo_edges = bounds[:-1]          # interval i = [lo_edges[i], bounds[i+1]-1]
    hi_edges = bounds[1:] - 1
    n_int = len(lo_edges)
    if n_int == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)

    ub = np.zeros(n_int, dtype=np.float64)
    # which block of term t covers each interval (or none)
    cover: list[np.ndarray] = []
    for t in terms:
        # block j covers interval i iff block_start[j] <= lo and hi <= block_last[j]
        j = np.searchsorted(t.block_last, lo_edges, side="left")
        j = np.clip(j, 0, len(t.block_last) - 1)
        ok = (t.block_start[j] <= lo_edges) & (hi_edges <= t.block_last[j])
        contrib = np.where(ok, t.block_max[j], 0.0)
        ub += contrib
        cover.append(np.where(ok, j, -1))

    order = np.argsort(-ub, kind="stable")
    top_ids = np.empty(0, np.int64)
    top_scores = np.empty(0, np.float64)
    theta = -np.inf
    pos = 0
    while pos < len(order):
        # strict <: a doc can ATTAIN ub (max in every covering block), and a
        # tie at θ with a smaller doc_id outranks the incumbent — skipping
        # ub == θ would break exact tie-break identity with the oracle
        if ub[order[pos]] < theta and len(top_ids) >= k:
            break  # every remaining interval is provably below θ
        # take a batch of intervals (bounded decoded width)
        batch = [order[pos]]
        width = int(hi_edges[order[pos]] - lo_edges[order[pos]] + 1)
        pos += 1
        while pos < len(order) and width < BATCH_DOCS:
            nxt = order[pos]
            if ub[nxt] < theta and len(top_ids) >= k:
                break
            batch.append(nxt)
            width += int(hi_edges[nxt] - lo_edges[nxt] + 1)
            pos += 1
        batch = np.array(batch)
        ids_list, sc_list = [], []
        for i in batch:
            blocks_per_term = [
                np.array([cover[ti][i]]) if cover[ti][i] >= 0 else np.empty(0, np.int64)
                for ti in range(len(terms))
            ]
            ids_i, sc_i = _score_terms_on_docs(
                terms, blocks_per_term, int(lo_edges[i]), int(hi_edges[i]),
                avgdl, k1, b, deleted, allowed, min_match, min_match_slots,
                required, chains, after, dismax_tb, demote,
            )
            ids_list.append(ids_i)
            sc_list.append(sc_i)
        ids_b = np.concatenate([top_ids] + ids_list)
        sc_b = np.concatenate([top_scores] + sc_list)
        top_ids, top_scores = _topk(ids_b, sc_b, k)
        if len(top_ids) >= k:
            theta = top_scores[-1] if len(top_scores) else -np.inf
    return top_ids, top_scores
