"""Kernel-level equivalence fuzzer: `shard_topk` with no Spark.

Hypothesis draws small corpora (with positions) split into 1-8 doc-range
sources — shards of `shard_size` docs, each source carrying its true
lower doc bound — encoded with small block sizes, with and without
per-posting dl_blocks (store_dl; without them dls come from the norms
rows), and queries over the whole clause surface the kernel sees:
min_match / min_match_slots, required groups, zero-idf filter groups,
phrase, near and unordered chains, `after` cursors, dismax, demotion,
deletes, keep-lists (empty included), k=None, boosted views and
tie-heavy corpora (equal lengths, so many scores tie at θ), with WAND
batches from one interval up to the default width (every drawn corpus
fits one default batch, so that width takes the exhaustive path and the
small ones run the block-max loop). Every case asserts two equalities,
bit for bit:
  1. block-max pruned == exhaustive (prune=False);
  2. one call over every source == one call per source, merged by
     (score DESC, doc_id ASC) — the single-task plan's one kernel call
     against the per-shard calls of the distributed plan.

Fixed seed, derandomized, bounded examples: about 13 s on 4 cores.
"""

from collections import defaultdict

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from hora_spark.config import BM25Config
from hora_spark.functions.bm25 import idf_np
from hora_spark.functions.codec import decode_block
from hora_spark.functions import wand
from hora_spark.functions.wand import TermPosting, shard_topk
from hora_spark.operators.query import _chain_slots
from hora_spark.operators.segments import NORMS_TERM, encode_shard_rows

CFG = BM25Config()
K1, B = CFG.k1, CFG.b


def _corpus(rng, n_sources, shard_size, tail, vocab, max_len, ties):
    """Token lists of every doc; doc d belongs to source d // shard_size."""
    n_docs = (n_sources - 1) * shard_size + tail
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    lens = (np.full(n_docs, max_len) if ties
            else rng.integers(0, max_len + 1, n_docs))
    return [[f"t{x}" for x in rng.choice(vocab, size=int(n), p=p)]
            for n in lens]


def _sources(docs, shard_size, block_size, store_dl=True):
    """Per source: {term: TermPosting} with lo = shard_id × shard_size,
    plus avgdl and each term's doc set. store_dl=False encodes no
    dl_blocks: every posting then reads its dls from the norms rows of
    all sources, as `_shard_search` does for that layout."""
    rows, pos = defaultdict(list), defaultdict(list)
    for d, toks in enumerate(docs):
        by_term = defaultdict(list)
        for p_, t in enumerate(toks):
            by_term[t].append(p_)
        for t, ps in by_term.items():
            rows[d // shard_size].append((d // shard_size, d, len(toks), t, len(ps)))
            pos[d // shard_size].extend(ps)
    dls = [len(t) for t in docs if t]
    avgdl = float(np.mean(dls)) if dls else 1.0
    df = defaultdict(set)
    for d, toks in enumerate(docs):
        for t in toks:
            df[t].add(d)
    n_live = len(dls)
    idf = {t: float(idf_np(n_live, np.array([len(s)]), CFG)[0])
           for t, s in df.items()}
    segs = []
    for s in range(-(-len(docs) // shard_size)):
        pdf = pd.DataFrame(rows[s], columns=["shard_id", "doc_id", "dl",
                                             "term", "tf"])
        segs.append(encode_shard_rows(pdf, block_size, store_dl=store_dl,
                                      pos_flat=np.array(pos[s], np.int64))
                    if rows[s] else None)
    dl_lookup = None
    if not store_dl and any(seg is not None for seg in segs):
        norms = [r for seg in segs if seg is not None
                 for r in seg.itertuples(index=False) if r.term == NORMS_TERM]
        nids = np.concatenate([decode_block(bytes(r.doc_blocks[0]))
                               for r in norms])
        ndls = np.concatenate([decode_block(bytes(r.tf_blocks[0]), delta=False)
                               for r in norms]).astype(np.float64)
        order = np.argsort(nids, kind="mergesort")
        dl_lookup = (nids[order], ndls[order])
    out = []
    for s, seg in enumerate(segs):
        post = {}
        if seg is not None:
            for r in seg.itertuples(index=False):
                if r.term == NORMS_TERM:
                    continue
                assert store_dl == bool(len(r.dl_blocks))
                tf_max = np.asarray(r.block_tf_max, np.float64)
                dl_min = np.asarray(r.block_dl_min, np.float64)
                w = idf[r.term]
                post[r.term] = TermPosting(
                    w, list(r.doc_blocks), list(r.tf_blocks),
                    list(r.dl_blocks), r.block_last,
                    w * tf_max / (tf_max + K1 * (1 - B + B * dl_min / avgdl)),
                    dl_lookup=dl_lookup, pos_blocks=list(r.pos_blocks),
                    lo=s * shard_size)
        out.append(post)
    return out, avgdl, df


def _zero_idf(tp: TermPosting) -> TermPosting:
    """A fielded-filter view: contribution 0, block bound 0."""
    v = tp.boosted(1.0)
    v.idf, v.block_max = 0.0, np.zeros_like(tp.block_max)
    return v


def _call(sources, q, avgdl, k, prune, after=None):
    """Slots built as the query layer builds them, over `sources` (a list
    of per-source posting dicts), then one shard_topk call."""
    kind, toks = q["kind"], q["toks"]
    positional = kind in ("phrase", "near", "near_unordered")
    distinct = sorted(set(toks) | set(q["required"]))
    tp, idx_of = [], {}
    for t in distinct:
        plist = [src[t] for src in sources if t in src]
        w = q["boosts"].get(t, 1.0)
        if w != 1.0:
            plist = [p.boosted(w) for p in plist]
        if plist:
            idx_of[t] = list(range(len(tp), len(tp) + len(plist)))
            tp.extend(plist)
    if not tp:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    slots = defaultdict(list, idx_of)
    mm, mm_slots, required, chains = 0, None, None, None
    if positional:
        window = None if kind == "phrase" else q["window"]
        chains = [(_chain_slots(toks, window, slots), window,
                   kind == "near_unordered")]
        mm = len(set(toks))
    elif kind == "all":
        mm = len(set(toks))
    elif kind == "min_match":
        mm = q["mm"]
    if q["required"]:
        required = [slots[t] for t in q["required"]]
        if q["mm"] and kind == "any":
            mm = q["mm"]
            mm_slots = [i for t in sorted(set(toks)) for i in slots[t]]
    if q["filter"] is not None:
        scoring = list(range(len(tp)))
        fslots = []
        for src in sources:
            if q["filter"] in src:
                fslots.append(len(tp))
                tp.append(_zero_idf(src[q["filter"]]))
        required = (required or []) + [fslots]
        if mm_slots is None and not q["required"]:
            mm_slots, mm = scoring, max(mm, 1)
    return shard_topk(tp, k, avgdl, K1, B, prune=prune, deleted=q["deleted"],
                      allowed=q["allowed"], min_match=mm,
                      min_match_slots=mm_slots, required=required,
                      chains=chains, after=after, dismax_tb=q["dismax"],
                      demote=q["demote"])


def _merged(parts, k):
    ids = np.concatenate([p[0] for p in parts])
    sc = np.concatenate([p[1] for p in parts])
    order = np.lexsort((ids, -sc)) if k is not None else np.argsort(ids)
    order = order[:k] if k is not None else order
    return ids[order], sc[order]


def _same(a, b, k):
    if k is None:  # enumeration: unordered
        oa, ob = np.argsort(a[0]), np.argsort(b[0])
        a, b = (a[0][oa], a[1][oa]), (b[0][ob], b[1][ob])
    return np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


KINDS = ["any", "min_match", "all", "phrase", "near", "near_unordered"]

query_st = st.fixed_dictionaries({
    "kind": st.sampled_from(KINDS),
    "toks": st.lists(st.integers(0, 5), min_size=1, max_size=4),
    "required": st.lists(st.integers(0, 5), max_size=2, unique=True),
    "mm": st.integers(0, 3),
    "window": st.integers(1, 4),
    "boost": st.sampled_from([None, 0.5, 2.5]),
    "filter": st.one_of(st.none(), st.integers(0, 5)),
    "dismax": st.sampled_from([None, 0.0, 0.4, 1.0]),
    "demote": st.one_of(st.none(), st.integers(0, 5)),
    "deleted": st.booleans(),
    "allowed": st.sampled_from([None, "empty", "some"]),
    "page2": st.booleans(),
    "k": st.sampled_from([None, 1, 2, 5, 40]),
})


@seed(20261021)
@settings(derandomize=True, max_examples=250, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    n_sources=st.integers(1, 8),
    shard_size=st.integers(1, 24),
    tail=st.integers(1, 24),
    vocab=st.integers(2, 6),
    max_len=st.integers(1, 10),
    ties=st.booleans(),
    block_size=st.integers(1, 4),
    store_dl=st.booleans(),
    batch_docs=st.sampled_from([1, 3, 16, wand.BATCH_DOCS]),
    rng_seed=st.integers(0, 2**31 - 1),
    queries=st.lists(query_st, min_size=1, max_size=4),
)
def test_one_call_over_sources_equals_pruned_exhaustive_and_merged(
        n_sources, shard_size, tail, vocab, max_len, ties, block_size,
        store_dl, batch_docs, rng_seed, queries):
    # small batches make the pruned loop run many batches and stop at θ
    real_batch, wand.BATCH_DOCS = wand.BATCH_DOCS, batch_docs
    try:
        _check(n_sources, shard_size, tail, vocab, max_len, ties, block_size,
               store_dl, rng_seed, queries)
    finally:
        wand.BATCH_DOCS = real_batch


def _check(n_sources, shard_size, tail, vocab, max_len, ties, block_size,
           store_dl, rng_seed, queries):
    tail = min(tail, shard_size)
    rng = np.random.default_rng(rng_seed)
    docs = _corpus(rng, n_sources, shard_size, tail, vocab, max_len, ties)
    sources, avgdl, df = _sources(docs, shard_size, block_size, store_dl)
    n_docs = len(docs)
    for raw in queries:
        toks = [f"t{x % vocab}" for x in raw["toks"]]
        kind = raw["kind"]
        if kind in ("phrase", "near", "near_unordered"):
            if len(toks) < 2:
                toks = toks * 2
            req = []
        else:
            toks = sorted(set(toks))
            req = [f"t{x % vocab}" for x in raw["required"]]
        q = {
            "kind": kind, "toks": toks, "required": req, "mm": raw["mm"],
            "window": raw["window"],
            "boosts": ({} if raw["boost"] is None
                       else {toks[0]: raw["boost"]}),
            "filter": (None if raw["filter"] is None
                       else f"t{raw['filter'] % vocab}"),
            "dismax": raw["dismax"],
            "demote": (None if raw["demote"] is None else (
                np.array(sorted(df.get(f"t{raw['demote'] % vocab}", ())),
                         np.int64), 0.5)),
            "deleted": (np.sort(rng.choice(n_docs, n_docs // 4, replace=False))
                        .astype(np.int64) if raw["deleted"] else None),
            "allowed": {None: None, "empty": np.empty(0, np.int64),
                        "some": np.sort(rng.choice(n_docs, n_docs // 2 + 1,
                                                   replace=False))
                        .astype(np.int64)}[raw["allowed"]],
        }
        k = raw["k"]
        after = None
        if raw["page2"]:
            first = _call(sources, q, avgdl, k or 3, prune=False)
            if len(first[0]):
                after = (float(first[1][-1]), int(first[0][-1]))
        ref = _call(sources, q, avgdl, k, prune=False, after=after)
        got = _call(sources, q, avgdl, k, prune=True, after=after)
        assert _same(ref, got, k), ("pruned != exhaustive", q, k, after)
        per_source = _merged(
            [_call([src], q, avgdl, k, prune=True, after=after)
             for src in sources], k)
        assert _same(ref, per_source, k), ("one call != per-source merge",
                                           q, k, after)
