"""Top-k BM25 retrieval over the segment table — the `search(item, k)`
analog (/root/reference/src/core/ann_index.rs:74-97).

Lifecycle (mirrors SURVEY.md §3.2): `search_topk` runs five stages, one
module-level function each.
  1. normalize (`_normalize`): every query — a string, a (text, mode[,
     near_window]) tuple or a dict — merges with the call-level options
     into ONE frozen `QuerySpec`, validated and tokenized with THE SAME
     tokenizer the index was built with (driver-side, tiny, no job).
  2. resolve terms (`_resolve_terms`): prefix/fuzzy/wildcard/regex
     expansion against the stats-table dictionary, boost-key scope, and
     the query-term idf lookup (predicate-pushed filter, small collect —
     the query-vs-centroid ranking analog, hora's
     src/index/pq_idx.rs:413-421), served by the per-stats-table idf cache
     whenever it can be.
  3. choose the physical plan (`_choose_plan`): single-task, distributed
     or cogroup, from the snapshot's size, its deletes and the filter.
  4. run (`_run`): ONE segment scan WHERE term IN (query terms ∪ NOT
     terms) — parquet row-group pruning via min/max on the term column,
     the `search_n_center` probe analog: only matching index data is read
     (a store_dl=False index adds its reserved norms row to the same
     scan) — then DAAT + block-max WAND in a pandas UDF (`_shard_search`)
     → top-k. The distributed and cogroup plans call it once per shard
     group; the single-task plan calls it ONCE over every shard's rows,
     each row one more posting source (as append deltas already are).
  5. merge (`_merge`): global top-k by a per-query rank on (score DESC,
     doc_id ASC) (the distributed form of hora's heap truncation,
     src/index/hnsw_idx.rs:434-437); the single-task plan's one call
     already returns it, so nothing merges there.

Queries are BATCHED: one Spark job scores any number of queries; the shard
UDF loops over queries in numpy. Single-query latency is the batch of one.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, replace
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig
from hora_spark.functions.tokenize import tokenize_py, tokens_col
from hora_spark.functions.wand import TermPosting, shard_topk
from hora_spark.operators.segments import NORMS_TERM
from hora_spark.sources.storage import SnapshotStore

RESULT_SCHEMA = "query_id int, doc_id long, score double"

POSITIONAL_MODES = ("phrase", "near", "near_unordered")
_MODES = ("any", "all") + POSITIONAL_MODES

_EMPTY = pd.DataFrame(
    {"query_id": pd.Series([], dtype=np.int32),
     "doc_id": pd.Series([], dtype=np.int64),
     "score": pd.Series([], dtype=np.float64)}
)


@dataclass(frozen=True)
class QuerySpec:
    """One query as the shard UDF sees it: normalized, validated and
    tokenized once on the driver (`QuerySpec.from_options`). Every token
    field holds index tokens. Frozen and hashable over plain values, so
    equal specs ARE the same query — the batch memo keys on the spec.
    The four expansion fields are filled by normalize and folded into
    `terms` by resolve (PLANS.md §1 lists which stage fills each field)."""

    # scored tokens: RAW order for positional modes (order and, for
    # phrase, duplicates define the match), sorted distinct otherwise
    terms: tuple[str, ...] = ()
    mode: str = "any"
    near_window: int = 5
    exclude: tuple[str, ...] = ()  # NOT terms, fields_not terms included
    min_match: int = 0
    after: tuple[float, int] | None = None  # (score, doc_id) cursor
    boosts: tuple[tuple[str, float], ...] = ()  # sorted (term, weight)
    required: tuple[str, ...] = ()  # boolean-query must terms
    # boolean-query positional clauses: (tokens, window | None, unordered)
    chains: tuple[tuple[tuple[str, ...], int | None, bool], ...] = ()
    dismax_tb: float | None = None  # None = plain BM25 sum
    filter_groups: tuple[tuple[str, ...], ...] = ()  # 'field:tok' OR-groups
    demote_terms: tuple[str, ...] = ()  # boosting-query negative terms
    demote_factor: float = 1.0
    stems: tuple[str, ...] = ()
    fuzzy: tuple[tuple[str, int], ...] = ()
    wildcards: tuple[str, ...] = ()
    regexes: tuple[str, ...] = ()

    @property
    def scored_terms(self) -> set[str]:
        """Every term that can score: text, must and chain tokens."""
        return (set(self.terms) | set(self.required)
                | {t for ct, _, _ in self.chains for t in ct})

    @property
    def id_terms(self) -> tuple[str, ...]:
        """Terms whose postings decode doc ids only: NOT and demotion."""
        return self.exclude + self.demote_terms

    @classmethod
    def from_options(cls, o: dict, meta: dict) -> QuerySpec:
        """One query's options (`_query_options`) → its spec, tokenized
        with the index's pinned mode and validated against its meta."""
        mode, mm, pf = o["mode"], int(o["min_match"]), bool(o["prefix"])
        after = None
        if o["after"] is not None:
            s, d = o["after"]
            after = (float(s), int(d))
        boosts = _norm_boosts(o["boosts"])
        syn = o["synonyms"]
        req = o.get("required") or ()
        req = [req] if isinstance(req, str) else list(req)
        phs = _norm_phrases(o.get("phrases"))
        dismax_tb = _norm_dismax(o["score_mode"], o["tie_breaker"])
        fds = _norm_fieldspec(o["fields"])
        fnot = _norm_fieldspec(o["fields_not"])
        neg = _norm_negative(o["negative"], o["negative_boost"])
        if mm and mode != "any":
            raise ValueError(
                "min_match applies to mode='any' only (mode='all' IS "
                "min_match=len(terms); positional modes imply it)")
        if pf and mode != "any":
            raise ValueError(
                "prefix/fuzzy expansion applies to mode='any' only")
        if pf and mm:
            raise ValueError(
                "min_match over prefix/fuzzy expansions is ambiguous (one "
                "stem can satisfy many clauses) — use one or the other")
        if syn and (mode != "any" or mm or pf):
            raise ValueError(
                "synonyms apply to plain mode='any' queries only (their "
                "count/position semantics over expanded groups are "
                "ambiguous in min_match/prefix/positional modes)")
        if (req or phs) and mode != "any":
            raise ValueError(
                "required terms / phrase clauses are boolean-query parts "
                "(mode='any' base); the whole-query positional/conjunctive "
                "modes cannot host them")
        if (req or phs) and syn:
            raise ValueError(
                "synonyms cannot compose with required/phrase clauses "
                "(expansion semantics over must clauses are ambiguous)")
        if ((mode in POSITIONAL_MODES or phs)
                and not bool(meta.get("store_positions", False))):
            raise ValueError(
                "phrase/near search requires an index built with "
                "IndexConfig.store_positions=True"
            )

        # tokenize with the INDEX's pinned mode (recorded at build time) —
        # a unicode-built index must see unicode query terms and vice versa
        uni = bool(meta.get("unicode", False))
        tok = partial(tokenize_py, unicode=uni)
        exclude = set(tok(o["exclude"])) if o["exclude"] else set()
        groups: tuple[tuple[str, ...], ...] = ()
        if fds:
            # one OR-group per field, AND across fields; sorted field
            # order pins the required-group order (determinism)
            ft = _field_terms(fds, "fields", uni, meta)
            groups = tuple(tuple(ft[f]) for f in sorted(ft))
        if fnot:
            # negative filters ride the NOT-term machinery (doc ids only)
            exclude.update(*_field_terms(fnot, "fields_not", uni, meta).values())
        demote, factor = (), 1.0
        if neg is not None:
            neg_text, factor = neg
            demote = tuple(sorted(set(tok(neg_text))))
        expansions: tuple = ((), (), (), ())
        if mode in POSITIONAL_MODES:
            terms = tok(o["text"])
        elif pf:
            plains, *expansions = _parse_prefix_terms(o["text"], uni)
            terms = sorted(set(plains))
        else:
            terms = sorted(set(tok(o["text"])))
        # boolean-query clauses: must terms tokenize plainly (each word
        # must reduce to index tokens — all become required); phrase
        # clauses keep RAW ordered token lists like whole-query phrases
        required = sorted({t for w in req for t in tok(w)})
        chains = []
        for p_text, p_win, p_unord in phs:
            c_toks = tok(p_text)
            if len(c_toks) < 2:
                raise ValueError(
                    f"phrase clause {p_text!r} must tokenize to at least "
                    "two tokens (a single token is just a required term)")
            chains.append((tuple(c_toks), p_win, p_unord))
        if syn:
            norm_sy = {
                _one_token(key, uni, f"synonym key {key!r} must reduce to "
                           "exactly one index token"):
                [_one_token(v, uni, f"synonym {v!r} for {key!r} must reduce "
                            "to exactly one index token (multi-token "
                            "synonyms would need phrase semantics)")
                 for v in ([vals] if isinstance(vals, str) else vals)]
                for key, vals in syn.items()}
            terms = sorted(set(terms)
                           | {s for t in terms for s in norm_sy.get(t, ())})
        if boosts:
            boosts = {_one_token(key, uni, f"boost key {key!r} must reduce "
                                 "to exactly one index token"): w
                      for key, w in boosts.items()}
        stems, fuzzy, wildcards, regexes = expansions
        return cls(
            terms=tuple(terms), mode=mode, near_window=int(o["near_window"]),
            exclude=tuple(sorted(exclude)), min_match=mm, after=after,
            boosts=tuple(sorted(boosts.items())) if boosts else (),
            required=tuple(required), chains=tuple(chains),
            dismax_tb=dismax_tb, filter_groups=groups, demote_terms=demote,
            demote_factor=factor if demote else 1.0, stems=tuple(stems),
            fuzzy=tuple(fuzzy), wildcards=tuple(wildcards),
            regexes=tuple(regexes))


def _chain_slots(toks, window, idx_of: dict[str, list[int]]) -> list:
    """One positional chain's slots: an exact phrase (window None) has one
    slot per token OFFSET; a proximity chain one per DISTINCT token in
    query order (the first is the anchor of an ordered near)."""
    if window is None:
        return [(off, idx_of[tok]) for off, tok in enumerate(toks)]
    return [(i, idx_of[tok]) for i, tok in enumerate(dict.fromkeys(toks))]


def _shard_search(
    seg_pdf: pd.DataFrame,
    queries: list[QuerySpec],
    idf_map: dict,
    k: int | None,
    avgdl: float,
    k1: float,
    b: float,
    prune: bool,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    shard_size: int | None = None,
) -> pd.DataFrame:
    """One task's rows: the segment rows of one shard (distributed and
    cogroup plans) or of every shard (single-task plan) for all query
    terms. Runs WAND once per query over all of them: every row is one
    posting source, and every doc lives in exactly one source (shards
    and append deltas are disjoint doc ranges), so one call is exact.
    shard_size gives each source its true lower doc bound, shard_id ×
    shard_size, so sources never overlap in the kernel's intervals (None
    = bound 0, for callers without shard ids). Each query's top-k comes
    out ordered (score DESC, doc_id ASC), queries in batch order; k=None
    rows are unordered. Doc lengths are decoded from the postings' own
    dl_blocks — the query touches O(matched posting) bytes, never a
    shard-sized sidecar (rare-term cost ∝ posting size, not shard size).
    Exception: indexes built with store_dl=False carry no dl_blocks; the
    scan then includes the norms rows and dls come from a sorted lookup
    over the decoded sidecars (scores byte-identical)."""
    is_norms = seg_pdf["term"] == NORMS_TERM
    norms_pdf = seg_pdf[is_norms]
    seg_pdf = seg_pdf[~is_norms]
    if len(seg_pdf) == 0:
        return _EMPTY
    dl_lookup = None
    if any(len(r) == 0 for r in seg_pdf["dl_blocks"]):
        from hora_spark.functions.codec import decode_block

        ids_all, dls_all = [], []
        for row in norms_pdf.itertuples(index=False):  # base + append deltas
            ids_all.append(decode_block(bytes(row.doc_blocks[0]), base=0, delta=True))
            dls_all.append(decode_block(bytes(row.tf_blocks[0]), delta=False))
        nids = np.concatenate(ids_all)
        ndls = np.concatenate(dls_all).astype(np.float64)
        order = np.argsort(nids, kind="mergesort")
        dl_lookup = (nids[order], ndls[order])
    # a term can have MULTIPLE segment rows (base build + appended deltas);
    # each is an independent posting source — every doc lives in exactly
    # one source, so summing per-source contributions stays exact and the
    # per-source block maxima still add up to a true upper bound
    excl_all = {t for q in queries for t in q.id_terms}
    # exclusion terms need only their DOC IDS (no idf, no tf/dl decode):
    # keep the raw compressed sources and decode ids lazily, once per term
    excl_raw: dict[str, list[tuple[list, np.ndarray]]] = {}
    postings: dict[str, list[TermPosting]] = {}
    for row in seg_pdf.itertuples(index=False):
        if row.term in excl_all:
            excl_raw.setdefault(row.term, []).append(
                (list(row.doc_blocks), np.asarray(row.block_last, np.int64)))
        idf = idf_map.get(row.term)
        if idf is None:  # not a query term (scan is pre-filtered in prod)
            continue
        # stored bounds are avgdl-free (per-block max tf, min dl); the
        # block upper bound idf·sat(tf_max, dl_min) dominates every doc's
        # idf·sat(tf, dl) in the block (sat rises with tf, falls with dl)
        # — derived here, query-sized work (the ADC-LUT analog)
        tf_max = np.asarray(row.block_tf_max, dtype=np.float64)
        dl_min = np.asarray(row.block_dl_min, dtype=np.float64)
        ub = idf * tf_max / (tf_max + k1 * (1.0 - b + b * dl_min / avgdl))
        postings.setdefault(row.term, []).append(TermPosting(
            idf, row.doc_blocks, row.tf_blocks, row.dl_blocks, row.block_last,
            ub, dl_lookup=dl_lookup,
            # the scan includes pos_blocks only for phrase queries
            pos_blocks=(list(pb) if (pb := getattr(row, "pos_blocks", None))
                        is not None and len(pb) else None),
            lo=int(row.shard_id) * shard_size if shard_size else 0,
        ))
    excl_cache: dict[str, np.ndarray | None] = {}

    def _excl_ids(terms) -> np.ndarray | None:
        """Sorted unique doc ids of these exclusion terms in these rows —
        each term decoded once per task regardless of how many queries
        exclude it. Decodes ONLY doc_blocks (ids): exclusion needs no
        tf/dl, so a store_dl=False layout needs no norms lookup here."""
        arrs = []
        for term in terms:
            if term not in excl_cache:
                from hora_spark.functions.codec import decode_block

                parts = [decode_block(bytes(blk), base=int(last[j - 1]) if j else 0,
                                      delta=True)
                         for blocks, last in excl_raw.get(term, ())
                         for j, blk in enumerate(blocks)]
                excl_cache[term] = np.unique(np.concatenate(parts)) if parts else None
            if excl_cache[term] is not None and len(excl_cache[term]):
                arrs.append(excl_cache[term])
        if not arrs:
            return None
        return arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))

    _NO_HITS = (np.empty(0, np.int64), np.empty(0, np.float64))

    # mode rides PER QUERY (a mixed phrase + bag-of-words batch is the
    # normal shape of real traffic — one Spark job serves it)
    def _run_query(q: QuerySpec):
        terms = q.terms
        positional = q.mode in POSITIONAL_MODES
        boolean = bool(q.required or q.chains)
        # phrase/near modes ship RAW ordered token lists (order and, for
        # phrase, duplicates matter); other modes ship sorted distinct.
        # mode='any' boolean queries add must terms and positional-chain
        # terms to the slot universe (all matched terms score)
        if positional:
            distinct = sorted(set(terms))
        elif boolean:
            distinct = sorted(q.scored_terms)
        else:
            distinct = terms
        boosts = dict(q.boosts)
        tp: list[TermPosting] = []
        idx_of: dict[str, list[int]] = {}
        for t in distinct:
            if t in postings:
                plist = postings[t]
                # per-term boost (term^w): boosted VIEWS share the
                # parent's decode caches, so blocks decode once per
                # shard however many queries boost this term
                w = boosts.get(t, 1.0)
                if w != 1.0:
                    plist = [p.boosted(w) for p in plist]
                idx_of[t] = list(range(len(tp), len(tp) + len(plist)))
                tp.extend(plist)
        if not tp:
            return _NO_HITS
        chains = None
        required = None
        mm_slots = None
        if positional:
            if len(idx_of) < len(distinct):
                return _NO_HITS  # an absent term makes the match unreachable
            # phrase: exact adjacency; near/near_unordered: anchored
            # proximity uses the first term as the anchor, unordered lets
            # any slot anchor
            window = None if q.mode == "phrase" else q.near_window
            chains = [(_chain_slots(terms, window, idx_of), window,
                       q.mode == "near_unordered")]
        elif boolean:
            # boolean query (query_string): must terms + positional
            # chains are REQUIRED clauses — rows missing any of their
            # terms can contribute no results (sources partition the
            # doc-id space, so this skip is exact for any row set)
            if any(t not in idx_of for t in q.required) or any(
                    t not in idx_of for ct, _, _ in q.chains for t in ct):
                return _NO_HITS
            required = [idx_of[t] for t in q.required] or None
            chains = [(_chain_slots(ct, cw, idx_of), cw, cu)
                      for ct, cw, cu in q.chains] or None
            if q.min_match >= 1:
                # minimum_should_match counts SHOULD clauses only (the
                # Lucene convention when must/phrase clauses are present)
                mm_slots = [i for t in sorted(set(terms))
                            if t in idx_of for i in idx_of[t]]
        # conjunctive/phrase/near: require every DISTINCT query term —
        # for mode="all", terms absent from the corpus are counted too
        # (len(terms) includes them), making min_match unreachable and
        # the query empty, which IS conjunctive semantics. mode="any"
        # honors an explicit per-query min_match (minimum_should_match:
        # at least that many distinct terms PRESENT in the doc — absent
        # terms can never count, matching Lucene's matched-clause count)
        mm = (len(terms) if q.mode == "all"
              else len(distinct) if positional else q.min_match)
        if q.filter_groups:
            # fielded filters: zero-score must clauses. Each group's
            # '<field>:<token>' postings join the slot list with idf 0 —
            # contribution 0, block upper bound 0 — so WAND interval
            # selection and θ are driven by scoring terms alone and
            # pruning stays exact. Groups are OR within (multi-value
            # filter), AND across (one group per field).
            scoring_slots = list(range(len(tp)))
            fgs = []
            for grp in q.filter_groups:
                slots: list[int] = []
                for ft in grp:
                    plist = postings.get(ft)
                    if plist:
                        slots.extend(range(len(tp), len(tp) + len(plist)))
                        tp.extend(plist)
                if not slots:
                    return _NO_HITS  # no doc in these rows carries the value
                fgs.append(slots)
            required = (required or []) + fgs
            # qualification must count SCORING slots only: a filter entry
            # (contribution 0) may neither satisfy min_match nor surface
            # a doc with no scoring match as a score-0 result. Must/chain
            # clauses already force a scoring match, and an explicit
            # min_match kept its should-slot universe.
            if not boolean and mm_slots is None:
                mm_slots = scoring_slots
                mm = max(mm, 1)
        # per-query NOT terms ride the tombstone machinery: their shard-
        # local doc ids union with the global deletes, applied pre-heap,
        # so θ tracks the k-th QUALIFIED score and pruning stays exact
        dels_q = deleted
        ex = _excl_ids(q.exclude)
        if ex is not None:
            dels_q = (ex if dels_q is None or not len(dels_q)
                      else np.union1d(dels_q, ex))
        # boosting query (ES `boosting`): the negative terms' doc ids
        # decode through the SAME lazy exclusion cache (ids only, no
        # tf/dl) — demotion is exclusion's softer sibling
        ids_d = _excl_ids(q.demote_terms)
        demote = None if ids_d is None else (ids_d, q.demote_factor)
        return shard_topk(tp, k, avgdl, k1, b, prune=prune,
                          deleted=dels_q, allowed=allowed,
                          min_match=mm, min_match_slots=mm_slots,
                          required=required, chains=chains,
                          after=q.after, dismax_tb=q.dismax_tb,
                          demote=demote)

    # identical specs in one batch compute ONCE (batches routinely repeat
    # queries — common-subexpression elimination across the batch): a
    # QuerySpec is frozen and hashable over its normalized fields, so the
    # memo keys on the spec itself; results are reused by reference and
    # only the query_id label differs. No semantic change — a duplicated
    # spec's rows were already byte-identical by determinism.
    out_q, out_d, out_s = [], [], []
    memo: dict[QuerySpec, tuple] = {}
    for qid, spec in enumerate(queries):
        res = memo.get(spec)
        if res is None:
            res = memo[spec] = _run_query(spec)
        ids, scores = res
        if len(ids):
            out_q.append(np.full(len(ids), qid, np.int32))
            out_d.append(ids)
            out_s.append(scores)
    if not out_q:
        return _EMPTY
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        }
    )


_FUZZY_RE = re.compile(r"^(?P<stem>.+?)~(?P<dist>[12])?$")

# idf-cache sentinel keys ('\x00' is unreachable by both tokenizer modes,
# so they can never collide with a real term; expansion keys '*stem',
# '~d:stem', '/pat' are likewise tokenizer-unreachable):
#   _CACHE_COMPLETE → the SORTED full term list of this snapshot's
#     dictionary (every term also has its idf cached) — set when the
#     vocabulary fit under cfg.max_idf_cache_terms;
#   _CACHE_PROBED → the one-shot full-load probe already ran (don't
#     re-probe a big vocabulary on every call).
_CACHE_COMPLETE = "\x00__vocab_complete__"
_CACHE_PROBED = "\x00__vocab_probed__"
_CACHE_DF = "\x00__df_map__"  # {term: df} — set only alongside _CACHE_COMPLETE


def _cached_vocab(cache: dict | None) -> list[str] | None:
    """The snapshot's full dictionary if the cache holds it, else None."""
    return cache.get(_CACHE_COMPLETE) if cache else None


def _idf_lookup(
    store: SnapshotStore,
    version: int | None,
    cache: dict,
    cfg: EngineConfig,
    missing: list[str],
) -> None:
    """Resolve `missing` terms' idfs into `cache` (None = absent).

    First call per snapshot: ONE limit-bounded collect probes the stats
    table; a vocabulary at or below cfg.max_idf_cache_terms loads whole
    (the collect doubles as the lookup), making every later lookup and
    prefix/wildcard/regex expansion a zero-job driver operation. Above
    the cap the probe's rows still seed the cache and lookups fall back
    to the pushed-down per-term isin scan — the limit stops the probe
    scan early, so big vocabularies pay one ordinary job, not a full
    dictionary read."""
    if cache.get(_CACHE_COMPLETE) is not None:
        for t in missing:
            cache.setdefault(t, None)  # complete dict: absent term
        return
    if not cache.get(_CACHE_PROBED) and cfg.max_idf_cache_terms > 0:
        cache[_CACHE_PROBED] = True
        cap = cfg.max_idf_cache_terms
        rows = (
            store.read("stats", version)
            .select("term", "idf", "df")
            .limit(cap + 1)
            .collect()
        )
        for r in rows:
            cache[r["term"]] = float(r["idf"])
        if len(rows) <= cap:
            cache[_CACHE_COMPLETE] = sorted(r["term"] for r in rows)
            cache[_CACHE_DF] = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                cache.setdefault(t, None)
            return
        missing = [t for t in missing if t not in cache]
        if not missing:
            return
    stats = store.read("stats", version).filter(F.col("term").isin(missing))
    found = {r["term"]: float(r["idf"])
             for r in stats.select("term", "idf").collect()}
    for t in missing:
        cache[t] = found.get(t)


def _parse_prefix_terms(
    text: str, unicode: bool,
) -> tuple[list[str], list[str], list[tuple[str, int]], list[str], list[str]]:
    """Split an expansion-syntax query into (plain tokens, prefix stems,
    fuzzy specs, wildcard patterns, regex patterns): whitespace words
    ending in a single trailing '*' are prefix stems (the
    pushdown-friendly special case), words ending in '~' or '~1'/'~2'
    are fuzzy terms (Lucene's fuzzy syntax; bare '~' means edit distance
    1), words with '*' / '?' anywhere ELSE are wildcard patterns ('*' =
    any run, '?' = one char — Lucene WildcardQuery, incl. leading/infix
    wildcards), '/pattern/' words are WHOLE-TERM regex queries (Lucene
    RegexpQuery: the pattern must match the entire term; keep to the
    portable regex subset — classes, alternation, quantifiers — since
    the dictionary scan uses the JVM engine and SQL twins use RE2),
    everything else tokenizes normally. A stem/fuzzy word must reduce to
    exactly ONE index token; a wildcard's literal chars must already BE
    one normalized index token (type patterns lowercase)."""
    import re as _re

    plains: list[str] = []
    stems: list[str] = []
    fuzz: list[tuple[str, int]] = []
    wilds: list[str] = []
    regexes: list[str] = []
    for w in (text or "").split():
        if len(w) > 2 and w.startswith("/") and w.endswith("/"):
            pat = w[1:-1]
            try:
                _re.compile(pat)
            except _re.error as e:
                raise ValueError(f"bad regex query {w!r}: {e}") from None
            regexes.append(pat)
            continue
        is_prefix = (len(w) > 1 and w.endswith("*")
                     and "*" not in w[:-1] and "?" not in w)
        is_wild = not is_prefix and ("*" in w or "?" in w)
        fm = None if (is_prefix or is_wild) else _FUZZY_RE.match(w)
        if is_wild:
            lit = w.replace("*", "").replace("?", "")
            if not lit:
                raise ValueError(
                    f"wildcard {w!r} has no literal characters (a "
                    "match-everything pattern is a full-dictionary scan, "
                    "not a query)")
            ts = tokenize_py(lit, unicode=unicode)
            if len(ts) != 1 or ts[0] != lit:
                raise ValueError(
                    f"wildcard {w!r}: the literal characters must form "
                    "exactly one normalized index token (lowercase, no "
                    "punctuation)")
            wilds.append(w)
        elif is_prefix or fm:
            raw = w.rstrip("*") if fm is None else fm.group("stem")
            st = _one_token(raw, unicode, f"expansion token {w!r} must "
                            "reduce to exactly one index token")
            if fm is None:
                stems.append(st)
            else:
                fuzz.append((st, int(fm.group("dist") or 1)))
        else:
            plains.extend(tokenize_py(w, unicode=unicode))
    return plains, stems, fuzz, wilds, regexes


def _expand(store: SnapshotStore, version: int | None, pats: list,
            cache: dict, cap: int, key, matcher, cond, use_vocab: bool,
            total_err, one_err) -> dict:
    """Expand dictionary patterns of one kind against the index
    DICTIONARY (the stats table) → {pattern: [terms]}: ONE scan with the
    OR of every missing pattern's pushed-down predicate `cond(p)` serves
    the whole batch — or, when `use_vocab` and the snapshot's full
    dictionary is cached, a zero-job filter of it (same candidate set).
    Field terms ('lang:en') are filter vocabulary, not dictionary words,
    so they never match. The driver-side `matcher(p)` attributes the
    shared rows to each pattern and is the authority either way. Each
    pattern expands to at most `cap` terms — a one-letter prefix over a
    web-scale vocabulary is a user error, not a job to run (Lucene's
    maxClauseCount) — and each expanded term scores with its OWN idf
    (Lucene's scoring-boolean rewrite): the idfs and each pattern's term
    list (under the tokenizer-unreachable `key(p)`) seed the same
    idf cache the plain lookup uses."""
    from functools import reduce
    from operator import or_

    missing = [p for p in pats if key(p) not in cache]
    if missing:
        total_cap = cap * len(missing)
        vocab = _cached_vocab(cache) if use_vocab else None
        if vocab is not None:
            ms = [matcher(p) for p in missing]
            rows = [{"term": t, "idf": cache[t]} for t in vocab
                    if ":" not in t and any(m(t) for m in ms)
                    ][:total_cap + 1]
        else:
            rows = (
                store.read("stats", version)
                .filter(reduce(or_, [cond(p) for p in missing])
                        & ~F.col("term").contains(":"))
                .select("term", "idf")
                .limit(total_cap + 1)
                .collect()
            )
        if len(rows) > total_cap:
            raise ValueError(total_err(total_cap, missing))
        for p in missing:
            m = matcher(p)
            got = [(r["term"], float(r["idf"])) for r in rows
                   if m(r["term"])]
            if len(got) > cap:
                raise ValueError(one_err(p, len(got)))
            cache[key(p)] = [t for t, _ in got]
            for t, i in got:
                cache[t] = i
    return {p: cache[key(p)] for p in pats}


def _expand_stems(
    store: SnapshotStore,
    version: int | None,
    stems: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Prefix stems ('tok*'): OR'd startswith predicates (parquet pushes
    StringStartsWith, so only matching row groups are read), capped at
    cfg.max_prefix_expansion per stem; cache key '*stem' (terms never
    contain '*')."""
    cap = cfg.max_prefix_expansion
    return _expand(
        store, version, stems, cache, cap, lambda s: "*" + s,
        lambda s: lambda t: t.startswith(s),
        lambda s: F.col("term").startswith(s), True,
        lambda total, missing: (
            f"prefix expansion exceeds {total} terms for stems "
            f"{missing}; narrow the prefix or raise "
            "EngineConfig.max_prefix_expansion"),
        lambda s, n: (
            f"prefix '{s}*' expands to {n} terms "
            f"(> max_prefix_expansion={cap}); narrow the prefix"))


def _lev(a: str, b: str) -> int:
    """Edit distance — a tiny driver-side verify over the ≤cap collected
    rows only (attributing shared scan rows to the right stem)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _expand_fuzzy(
    store: SnapshotStore,
    version: int | None,
    fuzz: list[tuple[str, int]],
    cache: dict,
    cfg: EngineConfig,
) -> dict[tuple[str, int], list[str]]:
    """Fuzzy terms ("tok~", "tok~2"): every index term within edit
    distance d of the stem (the stem itself included, like Lucene's
    FuzzyQuery). A pushed-down length window (|len(term) − len(stem)| ≤
    d — a necessary condition for edit distance ≤ d) prunes most of the
    dictionary before the JVM-side `levenshtein` verifies exactly; no
    Python runs per term. The dictionary is vocabulary-sized (terms, not
    docs), so even at 10^12 turns the scan is the small side of the
    workload. Capped at cfg.max_fuzzy_expansion per stem; cache key
    '~d:stem'."""
    cap = cfg.max_fuzzy_expansion

    def matcher(fz):
        s, d = fz
        return lambda t: abs(len(t) - len(s)) <= d and _lev(t, s) <= d

    def cond(fz):
        s, d = fz
        return (F.length("term").between(len(s) - d, len(s) + d)
                & (F.levenshtein(F.col("term"), F.lit(s)) <= d))

    return _expand(
        store, version, fuzz, cache, cap, lambda fz: "~{1}:{0}".format(*fz),
        matcher, cond, False,
        lambda total, missing: (
            f"fuzzy expansion exceeds {total} terms for "
            f"{missing}; shorten the distance or raise "
            "EngineConfig.max_fuzzy_expansion"),
        lambda fz, n: (
            "fuzzy '{}~{}' expands to {} terms (> max_fuzzy_expansion="
            "{}); narrow it".format(*fz, n, cap)))


def _expand_wildcards(
    store: SnapshotStore,
    version: int | None,
    pats: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Wildcard patterns ('*' = any run, '?' = one char, anywhere in the
    word — Lucene WildcardQuery): OR'd LIKE predicates. Leading/infix
    wildcards cannot push a prefix down, so the scan reads the whole
    (dictionary-sized, term-sorted) stats table — the same cost Lucene
    documents for leading wildcards; the corpus itself is never touched.
    Tokens contain no '%'/'_' in either tokenizer mode, so '*'→'%' /
    '?'→'_' is escape-free. Same max_prefix_expansion cap as prefix
    stems; cache key '*pattern' (patterns always contain a wildcard
    char, so stem keys can't collide)."""
    import fnmatch

    cap = cfg.max_prefix_expansion
    return _expand(
        store, version, pats, cache, cap, lambda p: "*" + p,
        lambda p: lambda t: fnmatch.fnmatchcase(t, p),
        lambda p: F.col("term").like(p.replace("*", "%").replace("?", "_")),
        True,
        lambda total, missing: (
            f"wildcard expansion exceeds {total} terms for "
            f"patterns {missing}; narrow them or raise "
            "EngineConfig.max_prefix_expansion"),
        lambda p, n: (
            f"wildcard {p!r} expands to {n} terms "
            f"(> max_prefix_expansion={cap}); narrow it"))


def _expand_regex(
    store: SnapshotStore,
    version: int | None,
    pats: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Whole-term regex patterns ('/pat/' — Lucene RegexpQuery: the
    pattern must match the ENTIRE term): OR'd anchored rlike predicates.
    Like leading wildcards, a regex cannot push a prefix down, so the
    scan reads the (dictionary-sized, term-sorted) stats table; the
    corpus is never touched. Matching a cached dictionary with Python re
    (the attribution authority either way) also closes the JVM-vs-Python
    pre-filter asymmetry for non-portable patterns. Same
    max_prefix_expansion cap; cache key '/pattern'."""
    cap = cfg.max_prefix_expansion
    return _expand(
        store, version, pats, cache, cap, lambda p: "/" + p,
        lambda p: re.compile(f"^(?:{p})$").match,
        lambda p: F.col("term").rlike(f"^(?:{p})$"), True,
        lambda total, missing: (
            f"regex expansion exceeds {total} terms for "
            f"{missing}; narrow the pattern or raise "
            "EngineConfig.max_prefix_expansion"),
        lambda p, n: (
            f"regex '/{p}/' expands to {n} terms "
            f"(> max_prefix_expansion={cap}); narrow it"))


# ---- stage 1: normalize ----------------------------------------------------

def _norm_boosts(bo) -> dict[str, float] | None:
    if not bo:
        return None
    out = {}
    for key, w in bo.items():
        w = float(w)
        if not w > 0:
            raise ValueError(
                f"boost weight for {key!r} must be > 0 (got {w}): "
                "block-max pruning scales its bounds by the boost, "
                "which is only an upper bound for positive weights")
        out[key] = w
    return out


def _norm_phrases(ph) -> list[tuple[str, int | None, bool]]:
    """Positional clauses of a boolean query: each a string (exact
    phrase), a (text, window) / (text, window, unordered) tuple, or a
    dict {text, window, unordered}. window=None → exact adjacency;
    a windowed clause defaults to unordered=True (Lucene "..."~N slop
    is order-free)."""
    out: list[tuple[str, int | None, bool]] = []
    for p in (ph or []):
        if isinstance(p, str):
            out.append((p, None, False))
        elif isinstance(p, dict):
            w = p.get("window")
            out.append((p["text"], None if w is None else int(w),
                        bool(p.get("unordered", w is not None))))
        else:
            parts = tuple(p)
            w = parts[1] if len(parts) > 1 else None
            unord = (bool(parts[2]) if len(parts) > 2
                     else w is not None)
            out.append((parts[0], None if w is None else int(w), unord))
    return out


def _norm_dismax(sm, tb) -> float | None:
    """score_mode/tie_breaker → dismax_tb (None = plain sum)."""
    if sm not in ("sum", "dismax"):
        raise ValueError(
            f"unknown score_mode {sm!r}; valid: 'sum', 'dismax'")
    if sm == "sum":
        return None
    tb = float(tb)
    if not 0.0 <= tb <= 1.0:
        raise ValueError(
            f"tie_breaker must be in [0, 1] (got {tb}): the WAND "
            "bound argument (dismax ≤ sum) needs tb ≤ 1, and a "
            "negative tb is not a score combiner")
    return tb


def _norm_negative(neg, nb) -> tuple[str, float] | None:
    """negative/negative_boost → (text, factor); None = no demotion."""
    if neg is None:
        return None
    nb = float(nb)
    if not 0.0 < nb <= 1.0:
        raise ValueError(
            f"negative_boost must be in (0, 1] (got {nb}): the WAND "
            "bound argument (demoted ≤ undemoted ≤ block bounds) "
            "needs nb ≤ 1, and nb ≤ 0 is exclusion, not demotion — "
            "use exclude/fields_not for that")
    return (str(neg), nb)


def _norm_fieldspec(fd) -> dict[str, list[str]] | None:
    """fields / fields_not: {field: value | [values]} → {field:
    [values]}; tokenization (pinned index mode) happens later with
    the other token normalization."""
    if fd is None:
        return None
    if not isinstance(fd, dict) or not fd:
        raise ValueError(
            "fields/fields_not must be a non-empty dict "
            "{field: value | [values]}")
    out: dict[str, list[str]] = {}
    for f, v in fd.items():
        vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
        if not vals:
            raise ValueError(f"field {f!r} has an empty value list")
        out[str(f)] = [str(x) for x in sorted(map(str, vals))]
    return out


def _one_token(word: str, uni: bool, err: str) -> str:
    """The one index token `word` reduces to; ValueError(err) otherwise."""
    ts = tokenize_py(word, unicode=uni)
    if len(ts) != 1:
        raise ValueError(err)
    return ts[0]


def _field_terms(fd: dict[str, list[str]], what: str, uni: bool,
                 meta: dict) -> dict[str, list[str]]:
    """{field: [values]} → {field: ['field:tok', ...]} with the
    pinned tokenizer; validates against the index's field schema."""
    idx_fields = set(meta.get("field_cols") or [])
    unknown = sorted(set(fd) - idx_fields)
    if unknown:
        raise ValueError(
            f"{what} names field(s) {unknown} the index was not "
            f"built with (IndexConfig.field_cols={sorted(idx_fields)})")
    return {f: sorted({
        f + ":" + _one_token(v, uni, f"{what} value {v!r} for field {f!r} "
                             "must tokenize to exactly one token (multi-"
                             "token field matching would need phrase "
                             "semantics)")
        for v in vals}) for f, vals in fd.items()}


def _query_options(q, call: dict) -> dict:
    """One query in any spelling → its options: the call-level options,
    overridden by whatever the query sets. A (text, mode, near_window)
    tuple's None or missing slots inherit; so do a dict's unset keys."""
    if isinstance(q, str):
        o = {**call, "text": q}
    elif isinstance(q, dict):
        o = {**call, "text": "", **q}
    else:
        parts = tuple(q)
        o = {**call, "text": parts[0]}
        if len(parts) > 1:
            o["mode"] = parts[1]
        if len(parts) > 2 and parts[2] is not None:
            o["near_window"] = parts[2]
    o["mode"] = o["mode"] or call["mode"]
    return o


def _normalize(queries: list, call: dict, meta: dict) -> list[QuerySpec]:
    """Stage 1: every query → its QuerySpec. `call` holds the call-level
    options under their per-query dict keys. No Spark."""
    opts = [_query_options(q, call) for q in queries]
    bad = sorted({o["mode"] for o in opts if o["mode"] not in _MODES})
    if bad:
        raise ValueError(f"unknown search mode(s) {bad}; valid: {_MODES}")
    return [QuerySpec.from_options(o, meta) for o in opts]


# ---- stage 2: resolve terms -------------------------------------------------

def _resolve_terms(
    store: SnapshotStore, version: int | None, specs: list[QuerySpec],
    cache: dict, cfg: EngineConfig, meta: dict,
) -> tuple[list[QuerySpec], dict[str, float]] | None:
    """Stage 2: expansions folded into each spec's terms, boost keys
    checked, and the idf of every scored term → (specs, idf_map); None
    when no scoring term is live (the result is empty). Raises before
    the search job when a value read from disk could not score: a
    non-finite avgdl or idf would reach the final sort, where the pandas
    (NaN last) and Spark (NaN first) plans order it differently."""
    avgdl = float(meta["avgdl"])
    if not (math.isfinite(avgdl) and avgdl > 0):
        raise ValueError(
            f"snapshot avgdl is {avgdl!r}: BM25 needs a finite avgdl > 0 "
            "(corrupt index metadata — rebuild the index)")
    # ONE dictionary scan per expansion kind serves the whole batch
    # (none at all when the kind is unused or already cached)
    stems = _expand_stems(store, version, sorted(
        {x for s in specs for x in s.stems}), cache, cfg)
    fuzzy = _expand_fuzzy(store, version, sorted(
        {x for s in specs for x in s.fuzzy}), cache, cfg)
    wilds = _expand_wildcards(store, version, sorted(
        {x for s in specs for x in s.wildcards}), cache, cfg)
    regexes = _expand_regex(store, version, sorted(
        {x for s in specs for x in s.regexes}), cache, cfg)
    specs = [replace(s, terms=tuple(sorted(set(s.terms).union(
        *(stems[x] for x in s.stems), *(fuzzy[x] for x in s.fuzzy),
        *(wilds[x] for x in s.wildcards), *(regexes[x] for x in s.regexes)))))
        if s.stems or s.fuzzy or s.wildcards or s.regexes else s
        for s in specs]
    # boost keys must name actual query terms (post-expansion; corpus-
    # absent query terms still count — the boost is then a no-op, but
    # the user DID type that term). A stray key is a typo, not a no-op.
    for s in specs:
        stray = sorted({t for t, _ in s.boosts} - s.scored_terms)
        if stray:
            raise ValueError(
                f"boost keys {stray} are not terms of their query "
                f"(terms: {sorted(s.scored_terms)})")
    all_terms = sorted(set().union(*(s.scored_terms for s in specs)))
    if not all_terms:
        return None
    # idf lookup: small vocabularies resolve from the one-shot full
    # dictionary cache (zero jobs after the first probe); big ones fall
    # back to a pushdown isin filter on the term-sorted stats parquet —
    # query-sized result, tiny collect. Expansions pre-seeded the cache,
    # so they cost no extra job.
    missing = [t for t in all_terms if t not in cache]
    if missing:
        _idf_lookup(store, version, cache, cfg, missing)
    idf_map = {t: cache[t] for t in all_terms if cache[t] is not None}
    if not idf_map:
        # no scoring term is live: a fielded filter alone never
        # surfaces a doc (filter clauses score 0 by definition)
        return None
    bad = sorted(t for t, v in idf_map.items() if not math.isfinite(v))
    if bad:
        raise ValueError(
            f"non-finite idf for terms {bad} (corrupt stats table — "
            "rebuild the index)")
    # fielded-filter terms enter the scan and the shard postings with a
    # PINNED idf of 0.0 — never their stats-table idf (they must not
    # score) and never through the shared cache (which holds real idfs)
    for s in specs:
        for grp in s.filter_groups:
            for t in grp:
                idf_map[t] = 0.0
    return specs, idf_map


# ---- stage 3: choose the physical plan --------------------------------------

class _Plan(NamedTuple):
    kind: str  # "single" | "distributed" | "cogroup"
    deleted: np.ndarray | None  # broadcast forms: sorted tombstones
    allowed: np.ndarray | None  # broadcast forms: sorted keep-list
    aux: DataFrame | None  # cogroup: tagged deletes ∪ keep-list by shard
    has_filter: bool


def _choose_plan(
    spark: SparkSession, store: SnapshotStore, version: int | None,
    meta: dict, cfg: EngineConfig, filter_df: DataFrame | None, allowed_ids,
) -> _Plan:
    """Stage 3: which physical plan scores this call, and the delete /
    keep-list state it ships.

    Tombstoned ids (delete support; hora's has_deletion check,
    hnsw_idx.rs:235-237) and the filter's keep-list are applied INSIDE
    the shard UDF, before top-k selection, so survivors' scores and ranks
    are exact. Two physical forms, identical results:
    - small sets (≤ cfg.max_broadcast_deletes, per meta's n_deletes
      upper bound): collected to sorted arrays and shipped to every task
      (the single-task or distributed plan);
    - large sets (bulk purges): NEVER collected — doc-range sharding
      means doc_id // shard_size IS the shard key, so each shard's
      tombstones cogroup with its segment rows (the cogroup plan) and no
      driver state grows with the delete volume."""
    n_del = int(meta.get("n_deletes", 0))
    allow_pre = None
    if allowed_ids is not None:
        if filter_df is not None:
            raise ValueError("pass filter_df or allowed_ids, not both")
        allow_pre = np.unique(np.asarray(list(allowed_ids), dtype=np.int64))
        if len(allow_pre) > cfg.max_broadcast_deletes:
            raise ValueError(
                f"allowed_ids holds {len(allow_pre)} ids (> "
                f"max_broadcast_deletes={cfg.max_broadcast_deletes}); "
                "pass a filter_df instead — the driver-resident fast "
                "path exists for config-bounded windows only")
    has_filter = filter_df is not None or allow_pre is not None
    allow_rows = None
    if filter_df is not None:
        filter_df = filter_df.select(
            F.col(filter_df.columns[0]).cast("long").alias("doc_id"))
        # ONE size-probe job: collect up to ceiling+1 ids. Small filters
        # get their broadcast array from this same collect (no separate
        # count job); an over-ceiling probe aborts early via the limit.
        allow_rows = filter_df.limit(cfg.max_broadcast_deletes + 1).collect()
    big = ((n_del > cfg.max_broadcast_deletes and store.exists("deletes", version))
           or (allow_rows is not None
               and len(allow_rows) > cfg.max_broadcast_deletes))
    if big:
        # either auxiliary set is too large to broadcast → ship BOTH as
        # one tagged table cogrouped by shard. Exact integer DIV,
        # bit-identical to the build's numpy `ids // shard_size` — a
        # double-precision `/` would round the quotient near 2^53 and
        # silently map a row to the wrong shard (this path exists
        # precisely for the huge-corpus case).
        shard_size = int(meta["shard_size"])
        shard_col = F.expr(
            f"CAST(CAST(doc_id AS BIGINT) DIV {shard_size} AS INT)"
        ).alias("shard_id")
        aux = None
        if store.exists("deletes", version):
            aux = store.read("deletes", version).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(1).alias("is_del"))
        if has_filter:
            if filter_df is None:  # driver-resident keep-list, tiny
                filter_df = spark.createDataFrame(
                    [(int(i),) for i in allow_pre], "doc_id long")
            fa = filter_df.select("doc_id", F.lit(0).alias("is_del"))
            aux = fa if aux is None else aux.unionByName(fa)
        return _Plan("cogroup", None, None,
                     aux.select("doc_id", "is_del", shard_col), has_filter)
    del_arr = store.deleted_ids(version)
    allow_arr = allow_pre
    if allow_arr is None and has_filter:
        allow_arr = np.unique(np.array(
            [r["doc_id"] for r in allow_rows], np.int64))

    # SMALL-INDEX FAST PATH: when the whole segments table is at most
    # cfg.max_single_task_scan_bytes on disk, coalesce the scan to
    # one task whose one WAND call scores every shard's rows — scan,
    # WAND and the global top-k become a single Exchange-free stage (the two
    # shuffles of the distributed plan are pure overhead at this
    # size). The byte check is one cached getContentSummary per
    # immutable data dir; the shard-count pre-gate keeps that call
    # cheap on a NameNode even for pathological layouts. Real
    # corpora exceed the ceiling and keep the distributed plan.
    single = False
    n_sh = int(meta.get("n_shards") or 0)
    if cfg.max_single_task_scan_bytes > 0 and 0 < n_sh <= 1024:
        try:
            tb = store.table_bytes("segments", version)
        except Exception:
            tb = None
        single = tb is not None and tb <= cfg.max_single_task_scan_bytes
    return _Plan("single" if single else "distributed", del_arr, allow_arr,
                 None, has_filter)


# ---- stage 4: run -----------------------------------------------------------

def _run(
    spark: SparkSession, store: SnapshotStore, version: int | None,
    meta: dict, cfg: EngineConfig, plan: _Plan, specs: list[QuerySpec],
    idf_map: dict[str, float], k: int | None, prune: bool,
) -> DataFrame:
    """Stage 4: the pushed-down segment scan and the WAND UDF of `plan` →
    per-shard results (the single-task plan: one call over every shard's
    rows, so its output is already the global top-k).

    store_dl=True (default): the scan reads strictly query-term rows
    (positive terms plus any per-query NOT terms — exclusion postings
    ride the same pushed-down IN filter; only their doc ids decode).
    store_dl=False layout: postings carry no dl, so the reserved norms
    row rides in the same pushed-down scan (one extra row per shard)."""
    avgdl = float(meta["avgdl"])
    k1, b = cfg.bm25.k1, cfg.bm25.b
    shard_size = int(meta["shard_size"])
    live_terms = sorted(idf_map)
    scan_terms = live_terms + sorted(
        {t for s in specs for t in s.id_terms} - set(live_terms))
    if not bool(meta.get("store_dl", True)):
        scan_terms = scan_terms + [NORMS_TERM]
    seg_cols = ["shard_id", "term", "doc_blocks", "tf_blocks", "dl_blocks",
                "block_last", "block_tf_max", "block_dl_min"]
    if any(s.mode in POSITIONAL_MODES or s.chains for s in specs):
        seg_cols.append("pos_blocks")  # read ONLY when some query needs them
    segs = (
        store.read("segments", version)
        .filter(F.col("term").isin(scan_terms))
        .select(*seg_cols)
    )

    if plan.kind == "cogroup":
        has_filter = plan.has_filter
        b_queries = spark.sparkContext.broadcast(specs)
        b_idf = spark.sparkContext.broadcast(idf_map)

        def run_cg(seg_pdf: pd.DataFrame, aux_pdf: pd.DataFrame) -> pd.DataFrame:
            dels = None
            # a shard with NO filter rows under an active filter allows
            # nothing (empty array ≠ None = no filter)
            alw = np.empty(0, np.int64) if has_filter else None
            if len(aux_pdf):
                tag = aux_pdf["is_del"].to_numpy()
                ids_np = aux_pdf["doc_id"].to_numpy(np.int64)
                d = ids_np[tag == 1]
                if len(d):
                    dels = np.unique(d)
                if has_filter:
                    alw = np.unique(ids_np[tag == 0])
            return _shard_search(seg_pdf, b_queries.value, b_idf.value, k,
                                 avgdl, k1, b, prune, deleted=dels,
                                 allowed=alw, shard_size=shard_size)

        return (
            segs.groupby("shard_id").cogroup(plan.aux.groupby("shard_id"))
            .applyInPandas(run_cg, RESULT_SCHEMA)
        )

    del_arr, allow_arr = plan.deleted, plan.allowed
    if plan.kind == "single":
        # ONE task: the query state (specs/idf/deletes/keep-list) is
        # query-sized and rides the task closure — four explicit
        # broadcast variables would only add py4j round trips here
        # (the distributed plans keep their broadcasts). Every shard's
        # row is one more posting source of ONE kernel call, whose output
        # is already the global per-query top-k in final order — no
        # per-shard loop and no merge
        def run_one(batches):
            parts = [p for p in batches if len(p)]
            if parts:
                yield _shard_search(
                    pd.concat(parts, ignore_index=True), specs, idf_map, k,
                    avgdl, k1, b, prune, deleted=del_arr, allowed=allow_arr,
                    shard_size=shard_size)

        return segs.coalesce(1).mapInPandas(run_one, RESULT_SCHEMA)

    b_queries = spark.sparkContext.broadcast(specs)
    b_idf = spark.sparkContext.broadcast(idf_map)
    b_del = spark.sparkContext.broadcast(del_arr)
    b_allow = spark.sparkContext.broadcast(allow_arr)

    def run(seg_pdf: pd.DataFrame) -> pd.DataFrame:
        return _shard_search(seg_pdf, b_queries.value, b_idf.value, k,
                             avgdl, k1, b, prune, deleted=b_del.value,
                             allowed=b_allow.value, shard_size=shard_size)

    return segs.groupBy("shard_id").applyInPandas(run, RESULT_SCHEMA)


# ---- stage 5: merge ---------------------------------------------------------

def _merge(local: DataFrame, plan: _Plan, k: int | None, meta: dict,
           n_queries: int) -> DataFrame:
    """Stage 5: per-shard results → the global top-k per query, ordered
    (query_id, score DESC, doc_id ASC).

    k=None is match ENUMERATION: every qualifying doc with its exact
    score, no global rank, no sort — shards are disjoint doc ranges, so
    the union needs no dedup and downstream aggregation (facets,
    counting, exports) keeps its partial/final shape. The single-task
    plan's one kernel call already emitted the global top-k of each
    query in this order, so it passes through.

    Otherwise per-shard output is ≤ k rows per query, so the merge input
    is bounded by n_shards·|queries|·k rows — driver-computable from the
    snapshot meta. When that bound is small the whole merge runs in ONE
    single-partition task (one exchange; the per-query rank and the
    global order come from a single local sort, and the separate
    range-partitioned orderBy — with its sampling pass — disappears).
    Large fan-ins (huge shard counts × batch sizes) keep the
    two-exchange window plan, whose per-partition state never exceeds
    one query's candidate set."""
    if k is None or plan.kind == "single":
        return local
    n_shards = int(meta.get("n_shards") or 0)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    if n_shards and n_shards * n_queries * k <= 2_000_000:
        local = local.repartition(1)
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )

def search_topk(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list[str],
    k: int | None = 10,
    cfg: EngineConfig | None = None,
    prune: bool = True,
    version: int | None = None,
    idf_cache: dict | None = None,
    filter_df: DataFrame | None = None,
    mode: str = "any",
    near_window: int = 5,
    exclude: str | None = None,
    min_match: int = 0,
    expand_prefixes: bool = False,
    after: tuple[float, int] | None = None,
    boosts: dict[str, float] | None = None,
    synonyms: dict[str, list] | None = None,
    score_mode: str = "sum",
    tie_breaker: float = 0.0,
    fields: dict | None = None,
    fields_not: dict | None = None,
    negative: str | None = None,
    negative_boost: float = 1.0,
    allowed_ids=None,
) -> DataFrame:
    """Batched top-k search → DataFrame(query_id, doc_id, score) with ≤ k
    rows per query, ordered (query_id, score DESC, doc_id ASC).

    allowed_ids: driver-resident keep-list (internal fast path for
    callers that ALREADY hold the ids — rescore's pass-1 window): same
    semantics as filter_df but skips its size-probe job entirely. Must
    fit the broadcast ceiling (callers pass config-bounded windows).

    fields: INDEX-RESIDENT fielded filters (ES filter context) —
    {field: value | [values]} over the build's IndexConfig.field_cols.
    Each value must tokenize to exactly one token with the index's
    pinned mode; multiple values for one field are OR'd, distinct
    fields AND'd. Matching docs' scores are the unchanged text-BM25
    scores (filter clauses score 0, the ES convention), and at least
    one scoring term must match (a filter alone never surfaces a doc).
    Unlike filter_df (a doc-id keep-list needing a documents-table
    scan), the '<field>:<token>' postings live in the SAME shard as the
    doc's text postings, so the filter intersects inside the shard UDF —
    no extra scan, no cogroup, no driver state, and WAND pruning stays
    exact (filter slots carry idf 0, hence block upper bound 0).
    Composes with every mode, boolean clauses, min_match, boosts,
    dismax, paging, deletes, and filter_df. Per-query via the dict key
    'fields'.

    fields_not: negative fielded filters — {field: value | [values]}
    whose matching docs are EXCLUDED (must_not in filter context); rides
    the per-query NOT-term machinery (doc ids only, no scoring impact).
    Per-query via the dict key 'fields_not'.

    negative / negative_boost: boosting query (the ES `boosting` query —
    exclusion's softer sibling): docs containing ANY token of `negative`
    stay eligible but their final score is multiplied by negative_boost
    ∈ (0, 1] (1 = identity). The negative postings decode doc ids only,
    in the same pushed-down scan as NOT terms; θ tracks demoted scores
    and factor ≤ 1 keeps every score under the undemoted block bounds,
    so WAND pruning stays exact. Composes with every mode, clause kind,
    dismax, fields, and paging. Per-query via the dict keys
    'negative' / 'negative_boost'.

    score_mode: 'sum' (default, the BM25 sum) or 'dismax' (Lucene
    DisjunctionMaxQuery / ES dis_max): each doc scores
    max_contrib + tie_breaker·(sum − max_contrib) over its matched
    terms — the classic combiner for synonym/expansion queries, where
    the BEST variant should count instead of stacking near-duplicates.
    tie_breaker ∈ [0, 1] (0 = pure best clause; 1 = the plain sum).
    A pure score combiner: composes with every mode, qualification
    (min_match/required/phrases), boosts, filters, and paging — WAND
    pruning stays exact because dismax ≤ sum ≤ the block upper bounds.
    Per-query via the dict keys 'score_mode' / 'tie_breaker'.

    queries: list of query strings, OR per-query (text, mode) /
    (text, mode, near_window) tuples — a MIXED batch (phrase + bag-of-
    words + conjunctive) runs as ONE Spark job: the shard UDF already
    loops per query, so the mode simply rides along; the scan reads
    pos_blocks only when some query in the batch is positional. Plain
    strings (and None tuple slots) fall back to the call-level
    mode/near_window arguments.

    mode: 'any' (default, bag-of-words OR), 'all' (conjunctive — only
    docs matching EVERY distinct query term, scored with the same sums;
    a query containing a corpus-absent term returns no rows), or
    'phrase' (exact adjacency: the query's token sequence must occur
    contiguously in the doc — verified from pos_blocks inside the index,
    no source-text join; requires IndexConfig.store_positions=True;
    scored like 'all' over the phrase's distinct terms), or 'near'
    (proximity: some occurrence of the FIRST query term has every other
    distinct term within near_window tokens; same positional layout
    requirement, same conjunctive scoring), or 'near_unordered'
    (order-free proximity, closer to Lucene slop: some occurrence of
    ANY query term has every other distinct term within near_window
    tokens — identical to 'near' for 2-term queries, strictly more
    permissive from 3 terms up).

    idf_cache: optional {term: idf | None} dict scoped to ONE stats
    table (the Engine keys it by the snapshot's stats dirs, which only a
    rebuild replaces) — repeat terms skip the stats lookup job entirely.
    None marks a term known to be absent.

    filter_df: optional one-column DataFrame of ALLOWED doc ids (filtered
    search — 'only role=user turns', 'only English docs'): results are the
    exact top-k among those docs, with each doc's UNFILTERED global-stats
    BM25 score (the same frozen-stats convention as deletes, inverted).
    Physical forms mirror the delete path: small sets broadcast as one
    sorted array; above cfg.max_broadcast_deletes the keep-list cogroups
    with its own shard (doc-range sharding makes doc_id DIV shard_size
    the shard key), so driver state never grows with the filter. Costs
    one size-probe job (a limit-bounded collect of ≤ ceiling+1 ids, which
    doubles as the broadcast array when the filter is small).

    exclude: NOT terms (must_not) — docs containing ANY token of this
    string are excluded from the result; survivors' scores unchanged
    (frozen-stats, like deletes — the exclusion postings decode doc ids
    only, inside the same pushed-down scan). Per-query via dict specs.

    min_match: minimum_should_match for mode='any' — keep only docs
    matching at least this many DISTINCT query terms (absent-from-corpus
    terms can never count, matching Lucene's matched-clause semantics).

    expand_prefixes: parse dictionary-expansion syntax — trailing-'*'
    words are prefix queries ("tok*" matches every index term starting
    with 'tok'), trailing-'~' / '~1' / '~2' words are fuzzy queries
    ("tok~2" matches every index term within edit distance 2 of 'tok',
    the stem included), and words with '*' / '?' anywhere else are
    wildcard queries ("*ing", "t?ble", "s*am" — Lucene WildcardQuery,
    leading/infix included). Expansion happens against the stats-table
    dictionary (pushed-down startswith for prefixes; length-window + JVM
    levenshtein for fuzzy; LIKE over the dictionary for wildcards —
    leading wildcards scan the whole term-sorted stats table, never the
    corpus; all capped at cfg.max_prefix_expansion /
    cfg.max_fuzzy_expansion per stem) and each expanded term scores
    with its OWN idf (Lucene's scoring-boolean rewrite).

    k=None: return ALL matching docs (match enumeration — see
    search_matches) instead of a top-k; the result is unordered.

    after: (score, doc_id) deep-paging cursor (search_after, the scale-
    safe alternative to OFFSET): results are the top-k among docs
    STRICTLY AFTER the cursor in (score DESC, doc_id ASC) order, i.e.
    the next page when the cursor is the last row of the previous page.
    Page N costs the same as page 1 (the cursor filter is applied
    pre-heap inside each shard, so θ tightens just as fast and no shard
    ever materializes N·k rows — OFFSET-style paging would). Cursor
    equality is exact-float sound because the cursor comes from this
    engine's own previous page (pinned summation order ⇒ bit-identical
    recomputation). Composes with every mode/filter; per-query via the
    dict key 'after'.

    boosts: per-term query boosts (Lucene's term^w) — {term: weight},
    each weight > 0; a boosted term's BM25 contribution is multiplied by
    its weight (and the WAND block upper bounds scale with it, so
    pruning stays exact). Keys must tokenize to single index tokens and
    appear among the query's terms (post-expansion) — a stray key is an
    error, not a silent no-op. Composes with every mode; per-query via
    the dict key 'boosts'.

    synonyms: query-time synonym table {term: [synonym, ...]} (the
    Lucene/ES query-time synonym filter, in its scoring-boolean-rewrite
    form): each query token that appears as a key is expanded to itself
    plus its synonyms, and every expanded term scores with its OWN idf —
    the same rewrite as prefix/fuzzy expansion. Keys that match no query
    token are ignored (the table is corpus-level, passed whole; unlike
    boosts, a non-matching key is expected, not a typo). Keys and
    synonyms must each reduce to exactly ONE index token (multi-token
    synonyms would need phrase semantics). mode='any' without min_match
    or prefix parsing only — the count/position semantics of the other
    modes are ambiguous over expanded groups. Per-query via the dict
    key 'synonyms'.

    required: must clauses of a boolean query (Lucene '+term'): a string
    or list of words, each tokenized with the index mode; every result
    doc must contain EVERY required token. Required tokens score like
    any other matched term (Lucene scores must clauses); a required
    token absent from the corpus makes the query empty, the must
    semantics. Dict-spec key 'required'; mode='any' base only.

    phrases: positional clauses of a boolean query — a list of strings
    (exact adjacency), (text, window) / (text, window, unordered)
    tuples, or dicts {text, window, unordered}. Every clause must match
    (Lucene's '"exact phrase"' / '"loose terms"~N' inside a boolean
    query); windowed clauses default to unordered=True (slop is
    order-free). Clause terms join the scored term set; requires the
    positional index layout. Composes with required/exclude/min_match/
    boosts/after — min_match then counts SHOULD terms only (the text
    tokens), the Lucene minimum_should_match convention. Dict-spec key
    'phrases'; mode='any' base only.

    Per-query dict specs may set any of {text, mode, near_window,
    exclude, min_match, prefix, after, boosts, synonyms, required,
    phrases}; unset keys inherit the call-level arguments, so a mixed
    batch (phrase + NOT + prefix + plain + page-2 + boosted +
    synonym-expanded + boolean) is still ONE Spark job."""
    cfg = cfg or EngineConfig()
    meta = store.meta(version)
    if "avgdl" not in meta:
        raise FileNotFoundError(
            f"no built index at {store.root!r}: run build first "
            "(the analog of searching an un-built hora index)"
        )
    specs = _normalize(queries, {
        "mode": mode, "near_window": near_window, "exclude": exclude,
        "min_match": min_match, "prefix": expand_prefixes, "after": after,
        "boosts": boosts, "synonyms": synonyms, "score_mode": score_mode,
        "tie_breaker": tie_breaker, "fields": fields,
        "fields_not": fields_not, "negative": negative,
        "negative_boost": negative_boost,
    }, meta)
    cache = idf_cache if idf_cache is not None else {}
    resolved = _resolve_terms(store, version, specs, cache, cfg, meta)
    if resolved is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    specs, idf_map = resolved
    plan = _choose_plan(spark, store, version, meta, cfg, filter_df,
                        allowed_ids)
    local = _run(spark, store, version, meta, cfg, plan, specs, idf_map, k,
                 prune)
    return _merge(local, plan, k, meta, len(specs))


def search_matches(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    **kw,
) -> DataFrame:
    """ALL matching docs per query → DataFrame(query_id, doc_id, score),
    UNORDERED (no global top-k, no sort — callers aggregate or order).
    Accepts every search_topk option (modes, exclude, min_match, prefixes,
    filter_df, deletes honored). The enumeration is inherently exhaustive,
    so block-max pruning is bypassed; per-shard output is the shard's
    match set, and no driver-side state grows with the result."""
    kw.pop("k", None)
    kw.pop("prune", None)
    return search_topk(spark, store, queries, k=None, **kw)


_FACET_AGGS = {
    "avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
    # exact distinct (the honest form of ES `cardinality`): two-phase
    # partial-distinct aggregation, no sketch error — at any bucket size
    # the expanded rows stay (query, facet, value)-keyed, never driver-side
    "distinct": F.countDistinct,
    # exact percentiles (linear interpolation — the ES `percentiles` agg
    # with the TDigest replaced by Spark's exact sort-based percentile;
    # DuckDB's quantile_cont matches the same definition)
    "p50": lambda c: F.percentile(c, 0.5),
    "p90": lambda c: F.percentile(c, 0.9),
    "p99": lambda c: F.percentile(c, 0.99),
}
_ROUNDED_AGGS = ("avg", "p50", "p90", "p99")  # interpolated floats → 6dp


def facet_counts(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    docs_df: DataFrame,
    facet_col: str,
    id_col: str = "doc_id",
    metrics: dict[str, list] | None = None,
    **kw,
) -> DataFrame:
    """Facet counts over ALL matching docs (the search-engine facet
    panel): → DataFrame(query_id, facet, n_docs[, <col>_<agg>...]). The
    match set joins to the docs table on doc_id (sort-merge at scale;
    the facet value is per-doc, so no pre-aggregation is possible before
    the join), then a map-side-combined groupBy counts per (query,
    facet value).

    metrics (the ES stats sub-aggregation analog): {column: aggs} adds
    per-bucket aggregations of docs-table columns — aggs from {'avg',
    'min', 'max', 'sum', 'distinct', 'p50', 'p90', 'p99'}, output
    column '<col>_<agg>'. 'distinct' is an EXACT distinct count (the
    honest cardinality agg — no HLL error bars); the percentile aggs
    are exact with linear interpolation (ES `percentiles` minus the
    TDigest approximation; DuckDB's quantile_cont is the same
    definition). The reserved column name 'score' aggregates the
    match's BM25 score instead of a docs column. avg/percentiles (and
    every score agg — engines may differ in the last ulp) are rounded
    to 6dp; min/max/sum/distinct of integral docs columns stay exact."""
    matches = search_matches(spark, store, queries, **kw)
    metrics = {c: ([fns] if isinstance(fns, str) else list(fns))
               for c, fns in (metrics or {}).items()}
    for c, fns in metrics.items():
        bad = sorted(set(fns) - set(_FACET_AGGS))
        if bad:
            raise ValueError(
                f"unknown facet aggregation(s) {bad} for {c!r}; "
                f"valid: {sorted(_FACET_AGGS)}")
    doc_metric_cols = [c for c in metrics if c != "score"]
    facets = docs_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(facet_col).alias("facet"),
        *[F.col(c) for c in doc_metric_cols],
    )
    aggs = [F.count("*").alias("n_docs")]
    for c, fns in metrics.items():
        for fn in fns:
            col = _FACET_AGGS[fn](c)
            if fn in _ROUNDED_AGGS or c == "score":
                col = F.round(col, 6)
            aggs.append(col.alias(f"{c}_{fn}"))
    return (
        matches.select("query_id", "doc_id", "score")
        .join(facets, "doc_id")
        .groupBy("query_id", "facet")
        .agg(*aggs)
    )


def significant_terms(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    docs_df: DataFrame,
    k_terms: int = 10,
    min_doc_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Significant-terms aggregation (the ES significant_terms bucket agg,
    JLH heuristic): terms OVERREPRESENTED in each query's match set
    relative to the background corpus →
    DataFrame(query_id, term, fg_count, bg_count, score, rnk), top
    k_terms per query by (score DESC, term ASC).

    fg_count = matching docs containing the term (the match set comes
    from search_matches, so every search option composes — modes,
    filters, NOT terms); bg_count = the index's document frequency (the
    stats table, background INCLUDES the foreground — ES's default
    superset convention); score = JLH:
        (fg_rate − bg_rate) · (fg_rate / bg_rate)
    with fg_rate = fg_count/|matches|, bg_rate = bg_count/N. The score
    is ROUNDED to 6dp before ranking so the selection is reproducible
    across engines (same convention as mlt_select_terms); min_doc_count
    drops noise terms (ES's min_doc_count).

    Plan: one match-enumeration job → join matched ids to the docs
    table (sort-merge at scale) → tokenize ONLY matched docs (JVM
    split, codegen) → explode distinct tokens → map-side-combined
    count per (query, term) → join the vocabulary-sized stats table
    (broadcast-able) → per-query top-k window. No driver state, no
    corpus-wide tokenize: cost scales with the MATCH set, not the
    corpus."""
    version = kw.get("version")
    meta = store.meta(version)
    n_docs = int(meta["n_docs"])
    uni = bool(meta.get("unicode", False))
    matches = search_matches(spark, store, queries, **kw)
    fg_tot = matches.groupBy("query_id").agg(F.count("*").alias("fg_docs"))
    docs = docs_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(F.col(text_col), unicode=uni).alias("toks"),
    )
    fg = (
        matches.select("query_id", "doc_id")
        .join(docs, "doc_id")
        .select("query_id",
                F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("fg_count"))
        .filter(F.col("fg_count") >= int(min_doc_count))
    )
    bg = store.read("stats", version).select(
        "term", F.col("df").alias("bg_count"))
    fg_rate = F.col("fg_count") / F.col("fg_docs")
    bg_rate = F.col("bg_count") / F.lit(float(n_docs))
    # NB fg_tot is one row per query but deliberately NOT broadcast-
    # hinted: a broadcast build is its own job, so hinting would run the
    # match enumeration twice SEQUENTIALLY; the shuffle join keeps both
    # subtrees inside one parallel job (r6 A/B: the hint measured +20%)
    scored = (
        fg.join(bg, "term")  # every fg term is in the dictionary
        .join(fg_tot, "query_id")
        .withColumn("score",
                    F.round((fg_rate - bg_rate) * (fg_rate / bg_rate), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_terms))
        .select("query_id", "term", "fg_count", "bg_count", "score", "rnk")
        .orderBy("query_id", "rnk")
    )


def mlt_select_terms(
    store: SnapshotStore,
    text: str,
    max_terms: int = 10,
    min_term_freq: int = 1,
    version: int | None = None,
    idf_cache: dict | None = None,
) -> list[str]:
    """More-like-this term selection (Elasticsearch MLT semantics,
    simplified): tokenize the source text with the index's pinned mode,
    weight each distinct term by tf_in_source · idf (the classic
    "interesting terms" heuristic), and keep the top max_terms by
    (weight DESC, term ASC). The weight is ROUNDED to 6 decimals before
    ranking so the selection is reproducible across engines (the SQL
    oracle ranks the same rounded weight — ln() may differ in the last
    ulp between libms). One pushed-down stats lookup, query-sized;
    corpus-absent source terms can never be selected (no idf)."""
    meta = store.meta(version)
    if "avgdl" not in meta:
        raise FileNotFoundError(
            f"no built index at {store.root!r}: run build first")
    uni = bool(meta.get("unicode", False))
    toks = tokenize_py(text, unicode=uni)
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    cand = sorted(t for t, n in tf.items() if n >= min_term_freq)
    if not cand:
        return []
    cache = idf_cache if idf_cache is not None else {}
    missing = [t for t in cand if t not in cache]
    if missing:
        _idf_lookup(store, version, cache, EngineConfig(), missing)
    weighted = [(round(tf[t] * cache[t], 6), t) for t in cand
                if cache[t] is not None]
    weighted.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in weighted[:max_terms]]


def search_with_text(
    spark: SparkSession,
    store: SnapshotStore,
    source_df: DataFrame,
    queries: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """search_nodes analog (/root/reference/src/core/ann_index.rs:81-84):
    join the ≤ |queries|·k result ids back to the source table for payload
    columns — the result side is tiny, so it is the broadcast side."""
    res = search_topk(spark, store, queries, k=k, **kw)
    return source_df.join(F.broadcast(res), source_df[id_col] == res["doc_id"], "inner").drop(
        res["doc_id"]
    )
