"""WAND pruned path must EXACTLY match the exhaustive decode-all path —
the strengthened version of the reference's index-vs-bruteforce agreement
harness (/root/reference/src/lib.rs:89-111), asserted instead of printed.

Pure numpy (no Spark): adversarial corpora with heavy ties, Zipf terms,
single-doc blocks, and degenerate one-term queries.
"""

import numpy as np
import pytest

from hora_spark.functions.bm25 import idf_np
from hora_spark.config import BM25Config
from hora_spark.functions.codec import encode_block, encode_posting
from hora_spark.functions.wand import TermPosting, shard_topk

CFG = BM25Config()
K1, B = CFG.k1, CFG.b


def make_corpus(rng, n_docs, n_terms, zipf_s=1.2, max_tf=5, tie_heavy=False):
    """Random corpus → dict term -> (doc_ids, tfs), plus dls."""
    if tie_heavy:
        dls = np.full(n_docs, 10, np.int64)  # identical dl → massive ties
    else:
        dls = rng.integers(1, 50, n_docs).astype(np.int64)
    corpus = {}
    for t in range(n_terms):
        df = max(1, int(n_docs / ((t + 1) ** zipf_s)))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = (np.ones(df, np.int64) if tie_heavy else rng.integers(1, max_tf + 1, df).astype(np.int64))
        corpus[f"t{t}"] = (docs, tfs)
    return corpus, dls


def postings_for(corpus, dls, terms, n_docs, avgdl, block_size):
    tps = []
    for t in sorted(terms):
        if t not in corpus:
            continue
        docs, tfs = corpus[t]
        idf = float(idf_np(n_docs, np.array([len(docs)]), CFG)[0])
        db, tb, last, ns = encode_posting(docs, tfs, block_size)
        dlb = [encode_block(dls[docs][i: i + block_size], delta=False)
               for i in range(0, len(docs), block_size)]
        sat = tfs / (tfs + K1 * (1 - B + B * dls[docs] / avgdl))
        contrib = idf * sat
        bmax = [float(contrib[i: i + block_size].max()) for i in range(0, len(docs), block_size)]
        tps.append(TermPosting(idf, list(db), list(tb), dlb, last, np.array(bmax)))
    return tps


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("block_size", [1, 4, 64])
@pytest.mark.parametrize("tie_heavy", [False, True])
def test_pruned_equals_exhaustive(monkeypatch, seed, block_size, tie_heavy):
    """At the default WAND batch width these 500-doc postings fit one
    batch and take the exhaustive path; batches of 1 and 16 decoded docs
    run the block-max loop over them (many batches, θ cut-offs, ties at
    θ), which must return the exhaustive rows too."""
    import hora_spark.functions.wand as wand_mod

    rng = np.random.default_rng(seed)
    n_docs, n_terms = 500, 30
    corpus, dls = make_corpus(rng, n_docs, n_terms, tie_heavy=tie_heavy)
    avgdl = float(dls.mean())
    queries = [["t0"], ["t5", "t1"], ["t0", "t2", "t9", "t20"], ["t29"], ["t0", "t0absent"]]
    for batch_docs in (wand_mod.BATCH_DOCS, 1, 16):
        monkeypatch.setattr(wand_mod, "BATCH_DOCS", batch_docs)
        for q in queries:
            for k in (1, 5, 10, 100):
                tps = postings_for(corpus, dls, q, n_docs, avgdl, block_size)
                ids_e, sc_e = shard_topk(tps, k, avgdl, K1, B, prune=False)
                ids_p, sc_p = shard_topk(tps, k, avgdl, K1, B, prune=True)
                assert (ids_e == ids_p).all(), f"ids differ q={q} k={k} batch={batch_docs}"
                np.testing.assert_allclose(sc_e, sc_p, rtol=0, atol=1e-12)


def test_empty_and_missing_terms():
    ids, sc = shard_topk([], 5, 1.0, K1, B)
    assert len(ids) == 0


def test_tiebreak_doc_id_asc():
    """Identical docs: scores tie exactly → smaller doc_id first; the
    pruned path must preserve this even when ub == θ (strict-< skip)."""
    n = 64
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, np.int64)
    dls = np.full(n, 7, np.float64)
    idf = 1.5
    db, tb, last, ns = encode_posting(docs, tfs, 8)
    dlb = [encode_block(dls[i: i + 8].astype(np.int64), delta=False)
           for i in range(0, n, 8)]
    sat = 1 / (1 + K1 * (1 - B + B * 7 / 7.0))
    bmax = [idf * sat] * len(last)
    tp = TermPosting(idf, list(db), list(tb), dlb, last, np.array(bmax))
    for prune in (False, True):
        ids, sc = shard_topk([tp], 5, 7.0, K1, B, prune=prune)
        assert (ids == np.array([0, 1, 2, 3, 4])).all()
        assert np.allclose(sc, idf * sat)


def test_rare_term_decodes_only_its_posting(monkeypatch):
    """Scale property: a rare-term query must decode O(posting) bytes, NOT
    a shard-sized doc-length sidecar (the round-1 design decoded the whole
    shard's norms per query — rare-term cost scaled with shard size)."""
    import pandas as pd

    import hora_spark.functions.wand as wand_mod
    from hora_spark.operators.segments import encode_shard_rows
    from hora_spark.operators.query import QuerySpec, _shard_search

    n_docs = 20_000
    rows = {
        "shard_id": np.zeros(n_docs + 5, np.int32),
        "doc_id": np.concatenate([np.arange(n_docs), np.arange(5) * 1000]),
        "dl": np.full(n_docs + 5, 10, np.int64),
        "term": np.array(["common"] * n_docs + ["rare"] * 5, dtype=object),
        "tf": np.ones(n_docs + 5, np.int64),
    }
    seg_pdf = encode_shard_rows(pd.DataFrame(rows), block_size=64)

    calls = {"n": 0}
    real = wand_mod.decode_block

    def counting(buf, base=0, delta=True):
        calls["n"] += 1
        return real(buf, base=base, delta=delta)

    monkeypatch.setattr(wand_mod, "decode_block", counting)
    out = _shard_search(seg_pdf, [QuerySpec(terms=("rare",))],
                        {"rare": 2.0}, k=10,
                        avgdl=10.0, k1=K1, b=B, prune=True)
    assert sorted(out["doc_id"]) == [0, 1000, 2000, 3000, 4000]
    # rare posting = 1 block → 3 decodes (doc, tf, dl); the 20k-doc common
    # posting and the shard norms sidecar must never be touched
    assert calls["n"] <= 3, f"decoded {calls['n']} blocks for a 5-doc posting"


def test_one_batch_is_one_scoring_call(monkeypatch):
    """A pruned search whose intervals fit in one WAND batch scores them
    all in ONE _score_terms_on_docs call, with the exhaustive rows; with
    smaller batches the block-max loop makes one call per batch, not
    one per interval."""
    import hora_spark.functions.wand as wand_mod

    rng = np.random.default_rng(5)
    corpus, dls = make_corpus(rng, 400, 6)
    avgdl = float(dls.mean())
    tps = postings_for(corpus, dls, ["t0", "t1", "t3"], 400, avgdl, 4)
    assert sum(len(t.block_last) for t in tps) > 20  # many intervals
    calls = {"n": 0}
    real = wand_mod._score_terms_on_docs

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(wand_mod, "_score_terms_on_docs", counting)
    want = shard_topk(tps, 10, avgdl, K1, B, prune=False)
    for batch_docs, max_calls in ((wand_mod.BATCH_DOCS, 1), (128, 4)):
        monkeypatch.setattr(wand_mod, "BATCH_DOCS", batch_docs)
        calls["n"] = 0
        got = shard_topk(tps, 10, avgdl, K1, B, prune=True)
        # 400 docs in batches of ≥ 128 decoded docs: at most 4 batches
        assert 1 <= calls["n"] <= max_calls, (batch_docs, calls["n"])
        assert np.array_equal(got[0], want[0]), batch_docs
        assert np.array_equal(got[1], want[1]), batch_docs


def test_source_lower_bound_is_checked():
    """A row whose first block ends below its source's lower bound is a
    mislabeled shard row and raises; a true bound shapes block_start."""
    db, tb, last, _ = encode_posting(np.array([10, 12, 19]), np.ones(3), 2)
    dlb = [encode_block(np.array([5, 5]), delta=False),
           encode_block(np.array([5]), delta=False)]
    tp = TermPosting(1.0, db, tb, dlb, last, np.ones(2), lo=8)
    assert tp.block_start.tolist() == [8, 13]
    with pytest.raises(ValueError, match="mislabeled"):
        TermPosting(1.0, db, tb, dlb, last, np.ones(2), lo=16)
