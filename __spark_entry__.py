"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: build the inverted index over sf0.001 documents
                 and run a top-k BM25 search through the block-max WAND
                 path, returning (doc_id, score, text).
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data pipeline ops); each (spark, sf_dir) →
                 DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query (EVERY query since round
                 3 — 43/43). Portable hashing (md5) and pinned float
                 rounding (6dp) keep both engines value-identical. The
                 approximate ANN paths are seeded-deterministic, so their
                 candidate sets are re-derived in SQL from literals;
                 multimodal decode is checked against a committed
                 local-decode fixture.

All floats are rounded to 6dp on BOTH sides; every computed column is
aliased identically on both sides.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hora_spark.config import BM25Config, EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.functions.snippets import snippet_sql
from hora_spark.functions.tokenize import (tokenize_py, tokenize_sql_array,
                                           tokens_col)
from hora_spark.operators import dedup, multimodal, similarity, textstats
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk

BM25 = BM25Config()
K = 20
HOT_QUERY = ["join", "hash", "row"]
MID_QUERY = ["scan", "window", "spark"]
RARE_QUERY = ["dup"]
MIX_QUERY = ["dup", "join"]
FIVE_QUERY = ["filter", "merge", "sort", "batch", "stream"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------------
# corpora / engines are cached per sf_dir so the 20+ driver queries don't
# re-tokenize or re-build the index each time
_CORPUS_CACHE: dict[str, object] = {}
_ENGINE_CACHE: dict[str, Engine] = {}


def _corpus(spark: SparkSession, sf_dir: str):
    if sf_dir not in _CORPUS_CACHE:
        _CORPUS_CACHE[sf_dir] = prepare(
            _docs(spark, sf_dir), id_col="doc_id"
        )
    return _CORPUS_CACHE[sf_dir]


def _engine(spark: SparkSession, sf_dir: str) -> Engine:
    if sf_dir not in _ENGINE_CACHE:
        path = tempfile.mkdtemp(prefix="hora_idx_")
        eng = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=32, n_buckets=8)))
        eng.build(_docs(spark, sf_dir), id_col="doc_id")
        _ENGINE_CACHE[sf_dir] = eng
    return _ENGINE_CACHE[sf_dir]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: index build + WAND top-k + payload join."""
    sf_dir = "/root/testdata/sf0.001"
    eng = _engine(spark, sf_dir)
    res = eng.search(" ".join(HOT_QUERY), k=10)
    docs = _docs(spark, sf_dir)
    return (
        docs.join(F.broadcast(res), "doc_id", "inner")
        .select("doc_id", F.round("score", 6).alias("score"), "text")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# ------------------------------------------------------------ BM25 family --

def _q_doc_stats(spark, sf_dir):
    """Per-doc token lengths PLUS the corpus aggregates as constant
    columns (r5: consolidates the former separate corpus_stats entry so
    the 50-slot driver window gains room — both dataflows stay verified:
    the per-doc scan/tokenize AND the count/avg aggregation)."""
    c = _corpus(spark, sf_dir)
    stats = spark.createDataFrame(
        [(c.n_docs, round(c.avgdl, 6))], "n_docs long, avgdl double")
    return (c.docs.select("doc_id", F.col("dl").alias("dl"))
            .crossJoin(F.broadcast(stats)).orderBy("doc_id"))


def _q_term_stats(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    return c.term_stats.select(
        "term", "df", F.round("idf", 6).alias("idf")
    ).orderBy(F.desc("df"), F.asc("term"))


def _q_tf_sample(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    return c.tf.filter(F.col("doc_id") < 50).select("doc_id", "term", "tf")


def _mk_bm25_query(terms: list[str], k: int = K):
    def run(spark, sf_dir):
        c = _corpus(spark, sf_dir)
        res = bruteforce_topk(spark, c, " ".join(terms), k=k)
        return res.select("doc_id", F.round("score", 6).alias("score"))
    return run


def _mk_bm25_indexed(terms: list[str], k: int = K, prune: bool = True):
    def run(spark, sf_dir):
        eng = _engine(spark, sf_dir)
        res = eng.search(" ".join(terms), k=k, prune=prune)
        return res.select("doc_id", F.round("score", 6).alias("score"))
    return run


# the five standing benchmark queries (hot/mid/rare/mixed/five-term) and
# the indexed-batch subset — consolidated into labeled multi-query entries
# in round 5 so every DISTINCT operator fits inside the driver's 50-row
# correctness window (r4 verdict item 1); per-query results unchanged
BRUTE_QUERIES = [HOT_QUERY, MID_QUERY, RARE_QUERY, MIX_QUERY, FIVE_QUERY]
BATCH_QUERIES = [HOT_QUERY, MID_QUERY, RARE_QUERY, MIX_QUERY]


def _q_bm25_topk_multi(spark, sf_dir):
    """Brute-force BM25 oracle family, one entry: each standing query's
    exact top-k, labeled by query_id. The per-query plans are unchanged
    (TakeOrderedAndProject each); the union is label bookkeeping."""
    c = _corpus(spark, sf_dir)
    out = None
    for qi, terms in enumerate(BRUTE_QUERIES):
        res = bruteforce_topk(spark, c, " ".join(terms), k=K).select(
            F.lit(qi).alias("query_id"), "doc_id",
            F.round("score", 6).alias("score"))
        out = res if out is None else out.unionByName(res)
    return out


def _q_bm25_indexed_batch(spark, sf_dir):
    """The indexed WAND path over a BATCH of queries in ONE Spark job
    (the engine's native shape: the shard UDF loops per query) — must
    equal the same per-query SQL oracles exactly."""
    eng = _engine(spark, sf_dir)
    res = eng.searches([" ".join(t) for t in BATCH_QUERIES], k=K)
    return res.select("query_id", "doc_id", F.round("score", 6).alias("score"))


DELETED_IDS = list(range(10))


def _q_bm25_deleted(spark, sf_dir):
    """Delete support through the WAND path: tombstone ids 0-9, search —
    survivors' scores stay frozen (oracle: same BM25 SQL minus those ids).
    Separate engine instance so the shared cached index stays untouched."""
    key = sf_dir + "#deleted"
    if key not in _ENGINE_CACHE:
        path = tempfile.mkdtemp(prefix="hora_idx_del_")
        eng = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=32, n_buckets=8)))
        eng.build(_docs(spark, sf_dir), id_col="doc_id")
        eng.delete(DELETED_IDS)
        _ENGINE_CACHE[key] = eng
    res = _ENGINE_CACHE[key].search(" ".join(HOT_QUERY), k=K)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_rebuilt(spark, sf_dir):
    """Append + rebuild end to end: build over the first half of the
    corpus, append the second half (ids continue seamlessly because the
    append orders by doc_id), rebuild to refresh N/avgdl/idf — results
    must equal the plain full-corpus BM25 oracle exactly."""
    from hora_spark.streaming.incremental import append_build

    key = sf_dir + "#rebuilt"
    if key not in _ENGINE_CACHE:
        docs = _docs(spark, sf_dir)
        half = int(docs.agg(F.max("doc_id")).collect()[0][0]) // 2
        path = tempfile.mkdtemp(prefix="hora_idx_rb_")
        eng = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=32, n_buckets=8)))
        eng.build(docs.filter(F.col("doc_id") <= half), id_col="doc_id")
        append_build(spark, eng.store, docs.filter(F.col("doc_id") > half),
                     order_cols=["doc_id"], cfg=eng.cfg, batch_id="delta-half")
        eng.rebuild()
        _ENGINE_CACHE[key] = eng
    res = _ENGINE_CACHE[key].search(" ".join(MID_QUERY), k=K)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_conjunctive(spark, sf_dir):
    """Conjunctive (AND) search through the WAND path: exact top-k among
    docs containing EVERY hot-query term, scores = the usual BM25 sums.
    Oracle: same BM25 SQL with HAVING count(*) = n_terms."""
    eng = _engine(spark, sf_dir)
    res = eng.search(" ".join(HOT_QUERY), k=K, mode="all")
    return res.select("doc_id", F.round("score", 6).alias("score"))


PHRASE_QUERY = "part filter"


def _q_bm25_phrase(spark, sf_dir):
    """Phrase search end to end: index built with store_positions=True,
    exact token-adjacency verified from pos_blocks (no source-text join),
    scored as conjunctive BM25 over the phrase terms. Oracle: token-string
    containment (adjacency in token space) ∘ the conjunctive BM25 SQL."""
    key = sf_dir + "#pos"
    if key not in _ENGINE_CACHE:
        path = tempfile.mkdtemp(prefix="hora_idx_pos_")
        # the positional fixture also carries fielded-filter postings
        # (lang:*/source:*) — fields compose with every search mode and
        # test_fields pins that field postings leave text scoring and
        # corpus stats byte-identical, so every query sharing this
        # engine is unaffected
        eng = Engine(spark, path, EngineConfig(index=IndexConfig(
            block_size=32, n_buckets=8, store_positions=True,
            field_cols=("lang", "source"))))
        eng.build(_docs(spark, sf_dir), id_col="doc_id")
        _ENGINE_CACHE[key] = eng
    res = _ENGINE_CACHE[key].search(PHRASE_QUERY, k=K, mode="phrase")
    return res.select("doc_id", F.round("score", 6).alias("score"))


RESCORE_WINDOW = 50
RESCORE_QW, RESCORE_RW = 1.0, 0.5


def _q_bm25_rescore(spark, sf_dir):
    """Two-pass proximity rescoring (ES rescore window): top-50 by plain
    BM25 over the phrase's terms, then the phrase query re-scores that
    window — final = 1.0·bm25 + 0.5·phrase_score (0 for non-phrase window
    docs). Oracle: the base scored CTE windowed by (s DESC, doc_id), left
    joined to the phrase-scored CTE, weights combined on RAW doubles and
    rounded once at the end — exactly the engine's arithmetic."""
    _q_bm25_phrase(spark, sf_dir)  # ensures the positional engine exists
    eng = _ENGINE_CACHE[sf_dir + "#pos"]
    res = eng.rescore(PHRASE_QUERY, k=K, window_size=RESCORE_WINDOW,
                      rescore_mode="phrase", query_weight=RESCORE_QW,
                      rescore_weight=RESCORE_RW)
    return res.select("doc_id", F.round("score", 6).alias("score"),
                      F.round("base_score", 6).alias("base_score"),
                      F.round("rescore_score", 6).alias("rescore_score"))


def _rescore_sql(phrase: str, k: int = K, window: int = RESCORE_WINDOW,
                 qw: float = RESCORE_QW, rw: float = RESCORE_RW) -> str:
    terms = tokenize_py(phrase)
    vals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    needle = " " + " ".join(terms) + " "
    contrib = (f"LN((N - df + 0.5) / (df + 0.5) + 1.0)"
               f" * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b}"
               f" + {BM25.b} * docs.dl / avgdl))")
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
scored AS (
  SELECT tfx.doc_id, sum({contrib}) AS s
  FROM tfx JOIN docs USING (doc_id) JOIN dfs USING (term)
  JOIN q USING (term) CROSS JOIN stats
  GROUP BY tfx.doc_id
),
win AS (SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id ASC LIMIT {window}),
matched AS (SELECT doc_id FROM tok
            WHERE ' ' || array_to_string(toks, ' ') || ' ' LIKE '%{needle}%'),
prox AS (
  SELECT tfx.doc_id, sum({contrib}) AS ps
  FROM tfx JOIN docs USING (doc_id) JOIN dfs USING (term)
  JOIN q USING (term) JOIN matched USING (doc_id) CROSS JOIN stats
  GROUP BY tfx.doc_id
  HAVING count(*) = {len(set(terms))}
)
SELECT win.doc_id,
       ROUND({qw!r} * win.s + {rw!r} * coalesce(prox.ps, 0.0), 6) AS score,
       ROUND(win.s, 6) AS base_score,
       ROUND(coalesce(prox.ps, 0.0), 6) AS rescore_score
FROM win LEFT JOIN prox USING (doc_id)
ORDER BY {qw!r} * win.s + {rw!r} * coalesce(prox.ps, 0.0) DESC, win.doc_id ASC
LIMIT {k}
"""
    )


def _q_bm25_search_after(spark, sf_dir):
    """Deep paging (search_after): page 2 of the hot query via the
    (score, doc_id) cursor of page 1's last row — the cursor filter is
    applied pre-heap inside each shard, so page N costs page-1 work
    (never the N·k rows-per-shard an OFFSET plan materializes). Oracle:
    the same BM25 SQL with OFFSET k — rank-identity between the cursor
    path and the global ordering IS the correctness claim."""
    eng = _engine(spark, sf_dir)
    q = " ".join(HOT_QUERY)
    p1 = eng.search(q, k=K).collect()  # cursor = last row, UNROUNDED score
    cursor = (p1[-1]["score"], p1[-1]["doc_id"])
    res = eng.search(q, k=K, after=cursor)
    return res.select("doc_id", F.round("score", 6).alias("score"))


MLT_DOC_ID = 42
MLT_MAX_TERMS = 10


def _q_more_like_this(spark, sf_dir):
    """More-like-this: doc 42's top-10 tf·idf "interesting terms" (weight
    rounded to 6dp, ties by term ASC — reproducible selection) become a
    bag-of-words query; the source doc is excluded from the result.
    Oracle: the same selection as a SQL window + BM25 over the selected
    terms with doc 42 result-excluded."""
    eng = _engine(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    text = docs.filter(F.col("doc_id") == MLT_DOC_ID).collect()[0]["text"]
    res = eng.more_like_this(text, k=K, max_terms=MLT_MAX_TERMS,
                             source_doc_id=MLT_DOC_ID)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _mlt_sql(doc_id: int = MLT_DOC_ID, max_terms: int = MLT_MAX_TERMS,
             k: int = K) -> str:
    """Twin of Engine.more_like_this: term selection (tf·idf, ROUND 6dp,
    term-ASC ties) in a window, then the standard BM25 top-k over the
    selected terms, with the source doc excluded from the RESULT only
    (frozen stats, like deletes)."""
    return (
        BM25_CTES
        + f""",
mlt AS (
  SELECT term, ROUND(tfx.tf * LN((N - df + 0.5) / (df + 0.5) + 1.0), 6) AS w
  FROM tfx JOIN dfs USING (term) CROSS JOIN stats
  WHERE tfx.doc_id = {doc_id}
),
q AS (SELECT term FROM mlt ORDER BY w DESC, term ASC LIMIT {max_terms}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  WHERE tfx.doc_id <> {doc_id}
  GROUP BY tfx.doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


EXPLAIN_TOPN = 5


def _q_score_explain(spark, sf_dir):
    """Score breakdown (Lucene Explanation / ES _explain analog): the
    hot query's top-5 docs decomposed into per-(doc, term) BM25
    summands — tf and dl decoded from the SAME stored postings the
    search path reads, idf/contrib/score rounded to 6dp. Oracle: the
    identical decomposition straight from the tokenized corpus CTEs."""
    eng = _engine(spark, sf_dir)
    return eng.explain(" ".join(HOT_QUERY), k=EXPLAIN_TOPN)


def _explain_sql(terms: list[str], n: int = EXPLAIN_TOPN) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
),
topd AS (SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id ASC LIMIT {n})
SELECT tfx.doc_id, tfx.term, tfx.tf, docs.dl,
       ROUND(LN((N - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
       ROUND(LN((N - df + 0.5) / (df + 0.5) + 1.0)
             * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)), 6) AS contrib,
       ROUND(topd.s, 6) AS score
FROM tfx
JOIN topd USING (doc_id)
JOIN docs USING (doc_id)
JOIN dfs USING (term)
JOIN q USING (term)
CROSS JOIN stats
"""
    )


SUGGEST_INPUTS = "joib hashh windo"  # misspellings of index vocabulary
SUGGEST_N = 3


def _q_spell_suggest(spark, sf_dir):
    """Spell suggestion (ES term suggester): per misspelled token, the
    top-3 dictionary corrections ranked (edit distance, df DESC, term) —
    a total order, so hash-checkable. mode='missing' semantics are
    mirrored by the oracle's NOT IN filter, so present/absent agreement
    is verified too, not assumed."""
    eng = _engine(spark, sf_dir)
    return eng.suggest(SUGGEST_INPUTS, n=SUGGEST_N, max_distance=2,
                       mode="missing")


def _suggest_sql(inputs: list[str], n: int = SUGGEST_N) -> str:
    vals = ", ".join(f"('{t}')" for t in inputs)
    return (
        BM25_CTES
        + f""",
qi(input) AS (VALUES {vals}),
miss AS (SELECT input FROM qi WHERE input NOT IN (SELECT term FROM dfs)),
cand AS (SELECT m.input, dfs.term AS suggestion,
                CAST(levenshtein(m.input, dfs.term) AS INTEGER) AS distance, df
         FROM miss m, dfs
         WHERE levenshtein(m.input, dfs.term) <= 2 AND dfs.term <> m.input)
SELECT input, suggestion, distance, df, rnk FROM (
  SELECT cand.*, CAST(row_number() OVER (
           PARTITION BY input
           ORDER BY distance, df DESC, suggestion) AS INTEGER) AS rnk
  FROM cand)
WHERE rnk <= {n}
"""
    )


NEAR_QUERY = "table hash"
NEAR_WINDOW = 4


def _q_bm25_near(spark, sf_dir):
    """Proximity search on the positional index: some occurrence of the
    first term has every other term within NEAR_WINDOW tokens. Oracle:
    per-term 0-based position lists in SQL + a pairwise distance check,
    composed with the conjunctive BM25 scorer."""
    key = sf_dir + "#pos"
    if key not in _ENGINE_CACHE:
        _q_bm25_phrase(spark, sf_dir)  # builds + caches the positional engine
    res = _ENGINE_CACHE[key].search(NEAR_QUERY, k=K, mode="near",
                                    near_window=NEAR_WINDOW)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_near_sql(query: str, window: int, k: int = K) -> str:
    t1, t2 = query.split()
    p = ("list_filter(range(len(toks)), i -> toks[i+1] = '{t}')")
    p1, p2 = p.format(t=t1), p.format(t=t2)
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES ('{t1}'), ('{t2}')),
matched AS (
  SELECT doc_id FROM tok
  WHERE len(list_filter({p1},
        p -> len(list_filter({p2}, qq -> abs(qq - p) <= {window})) > 0)) > 0),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  JOIN matched USING (doc_id)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
  HAVING count(*) = 2
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


NEAR_UNORD_QUERY = "table hash join"
NEAR_UNORD_WINDOW = 3


def _q_bm25_near_unordered(spark, sf_dir):
    """Order-free proximity (Lucene-slop-like) on the positional index:
    some occurrence of ANY query term has every other term within the
    window. Three terms, so it genuinely differs from the anchored mode.
    Oracle: per-term 0-based position lists + an any-anchor pairwise
    distance check, composed with the conjunctive BM25 scorer."""
    key = sf_dir + "#pos"
    if key not in _ENGINE_CACHE:
        _q_bm25_phrase(spark, sf_dir)  # builds + caches the positional engine
    res = _ENGINE_CACHE[key].search(NEAR_UNORD_QUERY, k=K,
                                    mode="near_unordered",
                                    near_window=NEAR_UNORD_WINDOW)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_near_unordered_sql(query: str, window: int, k: int = K) -> str:
    terms = sorted(set(query.split()))
    pos = {t: f"list_filter(range(len(toks)), i -> toks[i+1] = '{t}')"
           for t in terms}
    anchor_preds = []
    for t in terms:
        others = " AND ".join(
            f"len(list_filter({pos[o]}, q -> abs(q - p) <= {window})) > 0"
            for o in terms if o != t)
        anchor_preds.append(f"len(list_filter({pos[t]}, p -> {others})) > 0")
    matched = "\n     OR ".join(anchor_preds)
    vals = ", ".join(f"('{t}')" for t in terms)
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
matched AS (
  SELECT doc_id FROM tok
  WHERE {matched}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  JOIN matched USING (doc_id)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
  HAVING count(*) = {len(terms)}
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


# ---- boolean queries (query_string: the Lucene classic-QueryParser
# subset): '+must' terms, exact-phrase AND windowed-proximity clauses,
# a boosted should term, a should term for minimum_should_match, and a
# must_not term — ALL composed in one query through the WAND kernel's
# required-slot-groups + positional-chains machinery.
QS_QUERY = '+scan "part filter" "table hash"~4 row^2 merge -dup'
QS_MIN_MATCH = 1  # ≥1 of the SHOULD terms {merge, row} (Lucene counts
#                   should clauses only when must/phrase clauses exist)


def _q_query_string(spark, sf_dir):
    """Query-string search end to end: parse the Lucene-style string,
    compile to a boolean spec (required=[scan], exact chain 'part
    filter', unordered window-4 chain 'table hash', boost row^2,
    exclude dup, min_match=1 over {merge, row}), run as ONE search job
    on the positional index. Oracle: the same clauses composed in SQL —
    position-list predicates for the chains, per-term containment for
    the must term, a FILTERed count for the should minimum."""
    key = sf_dir + "#pos"
    if key not in _ENGINE_CACHE:
        _q_bm25_phrase(spark, sf_dir)  # builds + caches the positional engine
    res = _ENGINE_CACHE[key].query_string(QS_QUERY, k=K,
                                          min_match=QS_MIN_MATCH)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_bool_sql(should: list[str], required: list[str],
                   chains: list[tuple[str, int | None]],
                   exclude_terms: list[str] | None = None,
                   boosts: dict[str, float] | None = None,
                   min_match: int = 0, k: int = K) -> str:
    """Boolean-query twin: BM25 sum over ALL clause terms (should ∪
    required ∪ chain terms, boosts as a CASE multiplier), restricted to
    docs that (a) contain every required term, (b) match every chain —
    exact chains as token-string containment, windowed chains as the
    any-anchor pairwise position check (order-free) — minus docs with
    any excluded term, keeping only docs whose matched SHOULD-term count
    reaches min_match (a FILTERed count over the should set)."""
    chain_tok = [(tokenize_py(t), w) for t, w in chains]
    all_terms = sorted(set(should) | set(required)
                       | {t for ct, _ in chain_tok for t in ct})
    vals = ", ".join(f"('{t}')" for t in all_terms)
    pos = "list_filter(range(len(toks)), i -> toks[i+1] = '{t}')"
    preds = [f"len(list_filter(toks, t -> t = '{t}')) > 0"
             for t in required]
    for ct, w in chain_tok:
        if w is None:
            needle = " " + " ".join(ct) + " "
            preds.append("' ' || array_to_string(toks, ' ') || ' ' "
                         f"LIKE '%{needle}%'")
        else:
            terms_d = sorted(set(ct))
            p_of = {t: pos.format(t=t) for t in terms_d}
            anchors = []
            for t in terms_d:
                others = " AND ".join(
                    f"len(list_filter({p_of[o]}, q -> abs(q - p) <= {w})) > 0"
                    for o in terms_d if o != t)
                anchors.append(
                    f"len(list_filter({p_of[t]}, p -> {others})) > 0")
            preds.append("(" + "\n     OR ".join(anchors) + ")")
    matched = "\n  AND ".join(preds)
    if exclude_terms:
        ets = ", ".join(f"'{t}'" for t in sorted(set(exclude_terms)))
        filt = (f"WHERE tfx.doc_id NOT IN "
                f"(SELECT DISTINCT doc_id FROM tfx WHERE term IN ({ets}))")
    else:
        filt = ""
    if min_match and should:
        sv = ", ".join(f"'{t}'" for t in sorted(set(should)))
        having = (f"HAVING count(*) FILTER (WHERE tfx.term IN ({sv})) "
                  f">= {int(min_match)}")
    else:
        having = ""
    if boosts:
        cases = " ".join(f"WHEN '{t}' THEN {float(w)!r}"
                         for t, w in sorted(boosts.items()))
        bw = f"(CASE tfx.term {cases} ELSE 1.0 END) * "
    else:
        bw = ""
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
matched AS (SELECT doc_id FROM tok WHERE {matched}),
scored AS (
  SELECT tfx.doc_id,
         sum( {bw}LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  JOIN matched USING (doc_id)
  CROSS JOIN stats
  {filt}
  GROUP BY tfx.doc_id
  {having}
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


# one batch, seventeen predicate shapes, ONE Spark job (round-5: per-query
# mode rides through the shard UDF; measured ~3.3× over mode-segregated
# jobs at batch-10, PLANS.md r5). The last five are dict
# specs exercising the advanced predicates: NOT terms (must_not),
# minimum_should_match, dictionary prefix expansion, fuzzy
# (edit-distance) expansion, and per-term boosts.
MIXED_BATCH = [
    (" ".join(MID_QUERY), "any", None),
    (" ".join(HOT_QUERY), "all", None),
    (PHRASE_QUERY, "phrase", None),
    (NEAR_QUERY, "near", NEAR_WINDOW),
    {"text": " ".join(HOT_QUERY), "exclude": " ".join(RARE_QUERY)},
    {"text": " ".join(MID_QUERY), "min_match": 2},
    {"text": "join s*", "prefix": True},
    {"text": "hash~ w00042~", "prefix": True},  # fuzzy: edit distance ≤ 1
    {"text": " ".join(HOT_QUERY),                # per-term boosts (term^w)
     "boosts": {"join": 2.5, "row": 0.5}},
    {"text": "join",                             # query-time synonyms:
     "synonyms": {"join": ["hash", "scan"],      # expanded, own idfs;
                  "zzz": ["row"]}},              # non-matching key ignored
    {"text": "*ow h?sh", "prefix": True},        # wildcards: leading-* scan
                                                 # + '?' single-char
    (NEAR_UNORD_QUERY, "near_unordered", NEAR_UNORD_WINDOW),  # order-free
                                                 # proximity (Lucene slop)
    {"text": "row", "required": ["scan"],        # boolean query: must +
     "phrases": [PHRASE_QUERY]},                 # exact chain + should
    {"text": "join",                             # dis_max: synonym
     "synonyms": {"join": ["hash", "scan"]},     # expansion scored
     "score_mode": "dismax", "tie_breaker": 0.3},  # best-variant + tb·rest
    {"text": " ".join(MID_QUERY),                # index-resident fielded
     "fields": {"lang": "en"},                   # filters: lang:en AND
     "fields_not": {"source": "src1"}},          # NOT source:src1 — the
                                                 # '<field>:<tok>' postings
                                                 # intersect inside the
                                                 # shard UDF, no docs scan
    {"text": " ".join(HOT_QUERY),                # boosting query (ES
     "negative": " ".join(RARE_QUERY),           # `boosting`): docs with
     "negative_boost": 0.4},                     # 'dup' score ×0.4, not
                                                 # excluded — demotion
    {"text": "/jo.n|h[au]sh/", "prefix": True},  # whole-term regex query
                                                 # (Lucene RegexpQuery)
                                                 # over the dictionary
]


def _q_search_mixed_batch(spark, sf_dir):
    """Mixed-mode batched search: bag-of-words + conjunctive + phrase +
    proximity + NOT terms + minimum_should_match + prefix expansion +
    fuzzy expansion + per-term boosts + synonym expansion + wildcard
    expansion + order-free proximity + a boolean (must + phrase-clause)
    query + dis_max-scored synonym expansion + index-resident fielded
    filters (lang:en, -source:src1) + a boosting query (negative terms
    demote, x0.4) + a whole-term regex expansion in one job over the
    positional index. Oracle: the union of the seventeen
    single-predicate SQL twins, labeled by query_id."""
    key = sf_dir + "#pos"
    if key not in _ENGINE_CACHE:
        _q_bm25_phrase(spark, sf_dir)  # builds + caches the positional engine
    res = _ENGINE_CACHE[key].searches(MIXED_BATCH, k=K)
    return res.select("query_id", "doc_id", F.round("score", 6).alias("score"))


def _mixed_batch_sql(k: int = K) -> str:
    twins = [
        _bm25_sql(MID_QUERY, k),
        _bm25_sql(HOT_QUERY, k, conjunctive=True),
        _bm25_phrase_sql(PHRASE_QUERY, k),
        _bm25_near_sql(NEAR_QUERY, NEAR_WINDOW, k),
        _bm25_sql(HOT_QUERY, k, exclude_terms=RARE_QUERY),
        _bm25_sql(MID_QUERY, k, min_match=2),
        _bm25_sql(["join"], k, prefix_stems=["s"]),
        _bm25_sql([], k, fuzzy_specs=[("hash", 1), ("w00042", 1)]),
        _bm25_sql(HOT_QUERY, k, boosts={"join": 2.5, "row": 0.5}),
        # synonym expansion == plain BM25 over the expanded term set
        # ('zzz' matches no query token, so 'row' must NOT appear)
        _bm25_sql(["join", "hash", "scan"], k),
        _bm25_sql([], k, wildcards=["*ow", "h?sh"]),
        _bm25_near_unordered_sql(NEAR_UNORD_QUERY, NEAR_UNORD_WINDOW, k),
        _bm25_bool_sql(["row"], ["scan"], [(PHRASE_QUERY, None)], k=k),
        _bm25_sql(["join", "hash", "scan"], k, dismax_tb=0.3),
        # fielded filters: lang/source are single-token values, so the
        # engine's token-level field match == the SQL equality predicate
        _bm25_sql(MID_QUERY, k,
                  keep_where="lang = 'en' AND source <> 'src1'"),
        _bm25_sql(HOT_QUERY, k, demote_terms=RARE_QUERY, demote_factor=0.4),
        _bm25_sql([], k, regexes=["jo.n|h[au]sh"]),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT {qi} AS query_id, doc_id, score FROM ({sql})"
        for qi, sql in enumerate(twins)
    )


# match ENUMERATION (k=None): every qualifying doc with its exact score,
# no global sort/top-k — the corpus-filter/export verb. Three predicate
# shapes, still one job.
MATCH_ENUM_BATCH = [
    " ".join(RARE_QUERY),
    {"text": " ".join(MIX_QUERY), "min_match": 2},
    {"text": " ".join(HOT_QUERY), "exclude": " ".join(RARE_QUERY)},
]


COLLAPSE_PER_GROUP = 2


def _q_search_collapse(spark, sf_dir):
    """Field collapsing (ES collapse): top-K over the hot query keeping
    at most 2 docs per `source` value — exact over the full match set
    (match enumeration → docs join → two windowed group-limits; see
    operators/collapse.py for why the in-UDF pruned form was rejected).
    Oracle: the scored CTE joined to documents, ROW_NUMBER per source on
    RAW scores (the engine ranks raw doubles, rounds once at output),
    rn ≤ per_group, then the global top-K."""
    eng = _engine(spark, sf_dir)
    res = eng.collapse([" ".join(HOT_QUERY)], _docs(spark, sf_dir),
                       "source", k=K, per_group=COLLAPSE_PER_GROUP)
    return res.select("doc_id", F.round("score", 6).alias("score"),
                      "source")


def _collapse_sql(terms: list[str], k: int = K,
                  per_group: int = COLLAPSE_PER_GROUP) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
),
keyed AS (
  SELECT scored.doc_id, scored.s, d.source,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY scored.s DESC, scored.doc_id ASC) AS grp_rn
  FROM scored JOIN documents d ON scored.doc_id = d.doc_id
)
SELECT doc_id, ROUND(s, 6) AS score, source
FROM keyed WHERE grp_rn <= {int(per_group)}
ORDER BY s DESC, doc_id ASC LIMIT {int(k)}
"""
    )


def _q_search_matches(spark, sf_dir):
    """k=None match enumeration through the indexed path (search_matches /
    Engine.matches): ALL qualifying docs per query, exact BM25 scores,
    UNORDERED (the driver compare is order-insensitive). Covers the
    `matched docs as a set` surface facets and exports are built on."""
    eng = _engine(spark, sf_dir)
    res = eng.matches(MATCH_ENUM_BATCH)
    return res.select("query_id", "doc_id", F.round("score", 6).alias("score"))


def _match_enum_sql() -> str:
    twins = [
        _bm25_sql(RARE_QUERY, enumerate_all=True),
        _bm25_sql(MIX_QUERY, min_match=2, enumerate_all=True),
        _bm25_sql(HOT_QUERY, exclude_terms=RARE_QUERY, enumerate_all=True),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT {qi} AS query_id, doc_id, score FROM ({sql})"
        for qi, sql in enumerate(twins)
    )


FACET_QUERIES = [" ".join(RARE_QUERY), " ".join(MIX_QUERY)]


def _q_facet_lang(spark, sf_dir):
    """Facet panel (Engine.facets): counts of ALL matching docs per
    (query, lang) — match enumeration joined to a docs-table column,
    then a map-side-combined count per (query_id, facet value) — plus
    per-bucket stats (ES stats sub-aggregation, r5): avg/max/exact-p50
    of the docs-table n_chars column, avg/max of the match's BM25
    score, and an exact distinct count of source per bucket (the
    honest ES cardinality/percentiles aggs — no sketch error)."""
    eng = _engine(spark, sf_dir)
    res = eng.facets(FACET_QUERIES, _docs(spark, sf_dir), "lang",
                     metrics={"n_chars": ["avg", "max", "p50"],
                              "score": ["avg", "max"],
                              "source": ["distinct"]})
    return res.select("query_id", "facet", "n_docs",
                      "n_chars_avg", "n_chars_max", "n_chars_p50",
                      "score_avg", "score_max", "source_distinct")


SIGTERMS_K, SIGTERMS_MIN_DC = 15, 2


def _q_significant_terms(spark, sf_dir):
    """Significant-terms aggregation (ES significant_terms, JLH): the
    hot query's match set is tokenized (matched docs only), each term's
    foreground doc count is compared to its background df, and the top
    15 terms by rounded JLH score are returned. Oracle: the same rates
    and rounding derived from the tokenized-corpus CTEs."""
    eng = _engine(spark, sf_dir)
    res = eng.significant_terms([" ".join(HOT_QUERY)], _docs(spark, sf_dir),
                                k_terms=SIGTERMS_K,
                                min_doc_count=SIGTERMS_MIN_DC)
    return res.select("term", "fg_count", "bg_count", "score", "rnk")


def _significant_terms_sql(terms: list[str], k_terms: int = SIGTERMS_K,
                           min_dc: int = SIGTERMS_MIN_DC) -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
m AS (SELECT DISTINCT doc_id FROM tfx JOIN q USING (term)),
fgt AS (SELECT count(*) AS fg_docs FROM m),
fg AS (SELECT term, count(*) AS fg_count
       FROM tfx JOIN m USING (doc_id) GROUP BY term
       HAVING count(*) >= {int(min_dc)}),
sc AS (SELECT term, fg_count, df AS bg_count,
         ROUND((CAST(fg_count AS DOUBLE)/fg_docs - CAST(df AS DOUBLE)/N)
               * ((CAST(fg_count AS DOUBLE)/fg_docs) / (CAST(df AS DOUBLE)/N)), 6) AS score
       FROM fg JOIN dfs USING (term) CROSS JOIN fgt CROSS JOIN stats)
SELECT term, fg_count, bg_count, score,
       CAST(row_number() OVER (ORDER BY score DESC, term ASC) AS INT) AS rnk
FROM sc ORDER BY score DESC, term ASC LIMIT {int(k_terms)}
"""
    )


def _facet_sql() -> str:
    parts = []
    for qi, q in enumerate(FACET_QUERIES):
        vals = ", ".join(f"'{t}'" for t in sorted(set(q.split())))
        parts.append(
            f"""SELECT {qi} AS query_id, d.lang AS facet, count(*) AS n_docs,
       ROUND(avg(d.n_chars), 6) AS n_chars_avg, max(d.n_chars) AS n_chars_max,
       ROUND(quantile_cont(d.n_chars, 0.5), 6) AS n_chars_p50,
       ROUND(avg(m.s), 6) AS score_avg, ROUND(max(m.s), 6) AS score_max,
       count(DISTINCT d.source) AS source_distinct
FROM (SELECT tfx.doc_id,
             sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
                  * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
      FROM tfx JOIN docs USING (doc_id) JOIN dfs USING (term)
      CROSS JOIN stats
      WHERE term IN ({vals})
      GROUP BY tfx.doc_id) m
JOIN documents d USING (doc_id)
GROUP BY d.lang"""
        )
    return BM25_CTES + "\nUNION ALL\n".join(parts)


def _bm25_multi_sql(queries: list[list[str]], k: int = K) -> str:
    """Twin of the labeled multi-query entries: one corpus scan, scores
    per (query_id, doc), per-query top-k by (s DESC, doc_id ASC)."""
    vals = ", ".join(
        f"({qi}, '{t}')" for qi, terms in enumerate(queries)
        for t in sorted(set(terms))
    )
    return (
        BM25_CTES
        + f""",
q(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id, tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  GROUP BY q.query_id, tfx.doc_id
),
ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT query_id, doc_id, ROUND(s, 6) AS score FROM ranked WHERE rnk <= {k}
"""
    )


def _q_bm25_filtered(spark, sf_dir):
    """Filtered search through the WAND path: exact top-k among ONLY the
    lang='en' docs ('search just the English turns'), scores frozen at the
    unfiltered global-stats values (the deletes convention inverted).
    Oracle: the same BM25 SQL with an IN-subquery pre-top-k filter."""
    eng = _engine(spark, sf_dir)
    fdf = _docs(spark, sf_dir).filter(F.col("lang") == "en").select("doc_id")
    res = eng.search_filtered(" ".join(HOT_QUERY), fdf, k=K)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_search_snippets(spark, sf_dir):
    """The full retrieval-stack answer shape (`search_nodes`,
    ann_index.rs:81-84, + highlighting): WAND top-k → broadcast payload
    join-back (doc_id, score, raw text all hash-checked — the r3/r4
    search_with_text entry rides along as the text column) → highlighted
    snippet (pure-Column best window around the densest query-term
    cluster) — all JVM-side after the shard UDF."""
    from hora_spark.functions.snippets import with_snippets
    from hora_spark.operators.query import search_with_text

    eng = _engine(spark, sf_dir)
    res = search_with_text(spark, eng.store, _docs(spark, sf_dir),
                           [" ".join(MID_QUERY)], k=K)
    out = with_snippets(res, sorted(set(MID_QUERY)), window=4)
    return out.select("doc_id", F.round("score", 6).alias("score"), "text",
                      "snippet")


def _q_bm25_topk_per_source(spark, sf_dir):
    """Grouped top-k on the SEARCH path: the best 3 BM25-scored docs per
    `source` group for the hot query — the 'best turn per conversation'
    shape over the north input, expressed as full query scoring (no global
    limit) + WindowGroupLimit per group. Scores match the global BM25
    oracle digit-for-digit; only the grouping differs."""
    from hora_spark.functions.bm25 import score_col
    from hora_spark.operators.oracle import query_terms_df

    c = _corpus(spark, sf_dir)
    cfg = EngineConfig()
    q = query_terms_df(spark, " ".join(HOT_QUERY), c, cfg)
    scored = (
        c.tf.join(F.broadcast(q.select("term", "idf")), "term", "inner")
        .withColumn("contrib", score_col(F.col("tf"), F.col("dl"), F.col("idf"),
                                         F.lit(c.avgdl), cfg.bm25))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(src, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", F.round("score", 6).alias("score"), "rnk")
    )


# mixed-language corpus for the unicode tokenizer mode: the documents
# table augmented with deterministic non-ASCII suffixes (CJK / Cyrillic /
# Arabic / accented Latin — NFC-safe literals), derived identically as an
# expression on BOTH engines so no external data is needed
UNI_TAGS = ["数据 处理", "данные поток", "بيانات نظام", "café über", "数据 поток"]
UNI_QUERY = "数据 café данные"
UNI_LIM = 400


def _uni_docs(spark, sf_dir):
    tags = F.array(*[F.lit(t) for t in UNI_TAGS])
    return _docs(spark, sf_dir).filter(F.col("doc_id") < UNI_LIM).select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" "),
            F.element_at(tags, (F.col("doc_id") % 5).cast("int") + F.lit(1)),
        ).alias("text"),
    )


def _q_bm25_unicode(spark, sf_dir):
    """Unicode-mode index end to end: build over the mixed-language corpus
    with IndexConfig(unicode=True), search a CJK+Latin+Cyrillic query
    through the WAND path — non-ASCII turns are searchable, scores match
    the DuckDB BM25 twin (unicode \\p{L}\\p{N} tokenizer) digit for digit."""
    key = sf_dir + "#unicode"
    if key not in _ENGINE_CACHE:
        path = tempfile.mkdtemp(prefix="hora_idx_uni_")
        eng = Engine(spark, path, EngineConfig(
            index=IndexConfig(block_size=32, n_buckets=8, unicode=True)))
        eng.build(_uni_docs(spark, sf_dir), id_col="doc_id")
        _ENGINE_CACHE[key] = eng
    res = _ENGINE_CACHE[key].search(UNI_QUERY, k=K)
    return res.select("doc_id", F.round("score", 6).alias("score"))


ROUTE_QUERIES = [" ".join(HOT_QUERY), " ".join(RARE_QUERY),
                 "water stream people"]
ROUTE_MIN_SCORE = 0.5


def _q_route_matches(spark, sf_dir):
    """Reverse search (Percolator shape): three standing queries score
    every document with frozen corpus stats; matches ≥ the threshold are
    routed. The batch twin of streaming/routing.stream_route — one
    broadcast join + groupBy, no index needed on the doc side."""
    from hora_spark.streaming.routing import route_docs

    c = _corpus(spark, sf_dir)
    terms = sorted({t for q in ROUTE_QUERIES for t in q.split()})
    idf = {r["term"]: float(r["idf"]) for r in
           c.term_stats.filter(F.col("term").isin(terms)).collect()}
    out = route_docs(_docs(spark, sf_dir), ROUTE_QUERIES, idf, c.avgdl,
                     min_score=ROUTE_MIN_SCORE)
    return out.select("doc_id", "query_id", "score")


def _route_sql(queries: list[str], min_score: float) -> str:
    vals = ", ".join(
        f"({qi}, '{t}')" for qi, q in enumerate(queries)
        for t in sorted(set(q.split()))
    )
    return (
        BM25_CTES
        + f""",
q(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id, tfx.doc_id,
         ROUND(sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ), 6) AS score
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  GROUP BY q.query_id, tfx.doc_id
)
SELECT doc_id, query_id, score FROM scored WHERE score >= {min_score}
"""
    )


def _q_topk_per_term(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    terms = ["join", "dup", "spark"]
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        c.tf.filter(F.col("term").isin(terms))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("term", "doc_id", "tf", "rnk")
    )


# ------------------------------------------------------------ dedup family --

def _q_exact_dups(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir)).select(
        "content_hash", "n_docs", "keep_doc_id"
    )


def _q_exact_dedup_count(spark, sf_dir):
    """Kept for bench.py cross-round comparability (consolidated out of
    queries() in r5 — n_kept is derivable from exact_dup_groups).
    r6: the kept-count IS the number of distinct content hashes (one
    representative per class), so the count computes in one scan + one
    exact two-phase distinct agg — no semi-join, tokenize+md5 once."""
    from hora_spark.operators.dedup import normalized_text_col

    h = F.md5(normalized_text_col(F.col("text")))
    return _docs(spark, sf_dir).agg(F.count_distinct(h).alias("n_kept"))


def _q_minhash_lsh_pairs(spark, sf_dir):
    df = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(df, n_hashes=8, bands=4, max_bucket=1000)
    ver = dedup.jaccard_pairs(df, pairs)
    return ver.select("doc_a", "doc_b", "jaccard")


def _q_training_pipeline(spark, sf_dir):
    """The COMPOSED training-corpus pipeline end to end (quality gate →
    exact dedup → LSH near-dup removal), hash-checked as one unit: the
    surviving doc_id set must match a DuckDB re-derivation of every stage.
    max_bucket high enough that the star-pair guard stays inactive at this
    input size, so the plain-pairwise SQL twin is exact."""
    from hora_spark.operators.pipeline import prepare_training_corpus

    df = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    cleaned, _ = prepare_training_corpus(
        df, min_quality=0.3, min_tokens=5, near_dup_jaccard=0.85,
        lsh_hashes=8, lsh_bands=4, lsh_max_bucket=1000, count_stages=False,
    )
    return cleaned.select("doc_id").orderBy("doc_id")


def _q_jaccard_small(spark, sf_dir):
    df = _docs(spark, sf_dir).filter(F.col("doc_id") < 60)
    return dedup.jaccard_pairs(df, None, threshold=0.05).select("doc_a", "doc_b", "jaccard")


def _q_doc_signatures(spark, sf_dir):
    """simhash + min-shingle fingerprint + 4-salt minhash signature in ONE
    per-doc pass (consolidated from the separate r3/r4 simhash_values +
    fingerprints + minhash_signatures entries so all driver queries fit
    the recorded 50-row window; every signature kernel keeps a
    hash-checked row, now over the FULL table instead of 50/20-doc caps)."""
    sig = dedup.minhash_signature_col(F.col("text"), n_hashes=4)
    return _docs(spark, sf_dir).select(
        "doc_id",
        dedup.simhash_col(F.col("text")).alias("simhash"),
        textstats.fingerprint_col(F.col("text")).alias("fingerprint"),
        sig[0].alias("mh0"), sig[1].alias("mh1"),
        sig[2].alias("mh2"), sig[3].alias("mh3"),
    )


def _q_simhash_pairs(spark, sf_dir):
    # cap raised above the sample size so the SQL oracle (uncapped) is
    # exact here; the over-cap star-pair path is pinned in pytest instead
    df = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.simhash_near_pairs(df, max_bucket=100_000).select(
        "doc_a", "doc_b", "hamming"
    )


def _q_dup_clusters(spark, sf_dir):
    """Transitive dedup: connected components over the simhash near-pair
    graph — every doc in a near-dup CLOSURE maps to the min-id
    representative (what a training pipeline actually keeps). Iterative
    min-label propagation with pointer doubling; oracle is a recursive
    CTE over the same pair graph."""
    df = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    pairs = dedup.simhash_near_pairs(df, max_bucket=100_000)
    return dedup.connected_components(pairs).orderBy("doc_id")


# -------------------------------------------------------- textstats family --

def _q_textstats(spark, sf_dir):
    # fan the one-row-group scan out before the per-doc stats (values and
    # the order-insensitive hash unchanged; the single-split table would
    # otherwise compute every row's stats in one task)
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return textstats.analyze(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio", "mean_token_len",
        "is_english",
    )


def _q_lang_breakdown(spark, sf_dir):
    df = textstats.analyze(_docs(spark, sf_dir))
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.sum(F.col("is_english").cast("long")).alias("n_englishish"),
    )


# ------------------------------------------------------- similarity family --

def _q_knn_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.bruteforce_knn(emb, queries, k=10).select(
        "query_id", "vec_id", "sim"
    )


KNN_METRICS = ("cosine", "dot", "euclidean", "manhattan", "angular")


def _q_knn_multi_metric(spark, sf_dir):
    """ALL FIVE reference metrics (metrics.rs:56-103, sign-inverted to the
    larger-is-closer `sim` convention) through one labeled entry: exact
    brute-force top-10 per (metric, query). Each metric's plan is the
    unchanged single-metric mapInPandas + window top-k; the union is label
    bookkeeping (consolidated in r5 for the 50-row driver window — and it
    upgrades dot/euclidean from pytest-only to driver-hash-checked)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = None
    for metric in KNN_METRICS:
        res = similarity.bruteforce_knn(emb, queries, k=10, metric=metric).select(
            F.lit(metric).alias("metric"), "query_id", "vec_id", "sim"
        )
        out = res if out is None else out.unionByName(res)
    return out


def _knn_multi_sql() -> str:
    """Twin of _q_knn_multi_metric: the five metric expressions re-derived
    in SQL over the same shared (e, q) CTEs, per-(metric, query) top-10
    under the pinned (sim DESC, vec_id ASC) tie-break. `ROUND + 0`
    canonicalizes IEEE −0.0 (self-distance under manhattan/angular)."""
    scorers = {
        "cosine": "list_cosine_similarity(e.v, qv)",
        "dot": "list_dot_product(e.v, qv)",
        "euclidean": ("-list_sum(list_transform(range(len(e.v)), "
                      "i -> (e.v[i+1] - qv[i+1]) * (e.v[i+1] - qv[i+1])))"),
        "manhattan": ("-list_sum(list_transform(range(len(e.v)), "
                      "i -> abs(e.v[i+1] - qv[i+1])))"),
        "angular": "2.0 * list_cosine_similarity(e.v, qv) - 2.0",
    }
    branches = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS metric, query_id, e.vec_id, {expr} AS s "
        f"FROM e CROSS JOIN q"
        for m, expr in scorers.items()
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
scored AS ({branches})
SELECT metric, query_id, vec_id, ROUND(s, 6) + 0 AS sim FROM scored
QUALIFY row_number() OVER (PARTITION BY metric, query_id
                           ORDER BY s DESC, vec_id ASC) <= 10"""


def _with_recall(approx, exact, k: int):
    """Annotate approximate kNN rows with a per-query recall-vs-exact
    column (the reference's accuracy harness, lib.rs:97-111, as a
    driver-visible number instead of a printout)."""
    ex = exact.select("query_id", F.col("vec_id").alias("exact_vec_id"))
    rec = (
        approx.join(F.broadcast(ex),
                    (approx.query_id == ex.query_id)
                    & (approx.vec_id == ex.exact_vec_id), "left")
        .groupBy(approx.query_id.alias("qid"))
        .agg(F.round(F.count("exact_vec_id") / F.lit(float(k)), 6).alias("recall"))
    )
    return (
        approx.join(F.broadcast(rec), approx.query_id == rec.qid)
        .select("query_id", "vec_id", "sim", "recall")
        .orderBy("query_id", F.desc("sim"), F.asc("vec_id"))
    )


def _q_knn_lsh(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.lsh_knn(emb, queries, k=10, n_planes=6, n_tables=6)
    return _with_recall(approx, similarity.bruteforce_knn(emb, queries, k=10), k=10)


def _q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact path (the oracle-checkable
    tier; the LSH scale path is recall-floor-tested in pytest). The fixture
    embeddings have no planted near-dups (max pairwise cosine ≈ 0.47), so
    the 0.40 threshold exercises the operator on real pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 300)
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.40, method="bruteforce"
    ).select("vec_a", "vec_b", "cosine")


def _q_knn_ivf(spark, sf_dir):
    """IVF coarse-probe ANN (the IVFPQ shape) with a recall column vs the
    exact brute force; seeded-deterministic, so hash-checked against a SQL
    re-derivation of the same candidate set (centroid literals)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.ivf_knn(emb, queries, k=10, n_lists=16, n_probe=6)
    return _with_recall(approx, similarity.bruteforce_knn(emb, queries, k=10), k=10)


def _q_embedding_norms(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x,
    ))
    return emb.select("vec_id", "label", F.round(norm, 6).alias("l2_norm"))


# -------------------------------------------------- relational scaffolding --

def _q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_top_customers(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 4).alias("total_spend"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"), "total_spend")
        .orderBy(F.desc("total_spend"), F.asc("custkey"))
        .limit(10)
    )


def _q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


def _q_supplier_revenue(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("s_suppkey").alias("suppkey"), F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.desc("revenue"), F.asc("suppkey"))
        .limit(15)
    )


def _q_nation_order_stats(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


def _q_part_price_rank(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(F.col("p_brand").alias("brand"), F.col("p_partkey").alias("partkey"),
                F.col("p_retailprice").alias("price"), "rnk")
    )


def _q_events_sessions(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the fixture; session tz is pinned UTC, so the
    # cast matches DuckDB's epoch_ms over the naive timestamp
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800_000), F.lit(1)).otherwise(F.lit(0)),
    )
    return sess.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def _q_events_gap_sessions(spark, sf_dir):
    """Batch twin of the stateful streaming sessionizer
    (streaming/sessions.py — applyInPandasWithState): same gap semantics,
    full session rows (start, end, counts, value)."""
    from hora_spark.streaming.sessions import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev, gap_minutes=30).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )


# ------------------------------------------------------------- multimodal --

def _q_multimodal_features(spark, sf_dir):
    """REAL decode since round 2 (pure-numpy PPM/WAV/VID0 parsers): every
    synthesized payload must parse (decode_ok) and yield deterministic
    features. Hash-checked since round 3 against the committed local-decode
    fixture (tools/make_multimodal_fixture.py)."""
    media = multimodal.synth_media(spark, n=60)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes", "decode_ok",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias("feature_sum"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # BM25 / inverted index family (brute family and the indexed
        # batch are consolidated into labeled multi-query entries so all
        # operators fit the driver's 50-row correctness window, r5)
        "doc_stats": _q_doc_stats,  # includes corpus n_docs/avgdl (r5)
        "term_df_idf": _q_term_stats,
        "tf_sample": _q_tf_sample,
        "bm25_topk_multi": _q_bm25_topk_multi,
        "bm25_indexed_batch": _q_bm25_indexed_batch,
        "bm25_indexed_five_noprune": _mk_bm25_indexed(FIVE_QUERY, prune=False),
        "bm25_indexed_deleted": _q_bm25_deleted,
        "bm25_indexed_rebuilt": _q_bm25_rebuilt,
        "bm25_topk_per_source": _q_bm25_topk_per_source,
        "bm25_topk_unicode": _q_bm25_unicode,
        "bm25_topk_filtered": _q_bm25_filtered,
        "bm25_topk_conjunctive": _q_bm25_conjunctive,
        "bm25_search_after": _q_bm25_search_after,
        "more_like_this": _q_more_like_this,
        "score_explain": _q_score_explain,
        "spell_suggest": _q_spell_suggest,
        "bm25_topk_phrase": _q_bm25_phrase,
        "bm25_rescore_phrase": _q_bm25_rescore,
        # near / near_unordered ride search_mixed_batch since r5's
        # query-string addition (window budget: 50 recorded rows)
        "query_string_search": _q_query_string,
        "search_mixed_batch": _q_search_mixed_batch,
        "search_matches": _q_search_matches,
        "search_collapse": _q_search_collapse,
        "facet_lang_counts": _q_facet_lang,
        "significant_terms": _q_significant_terms,
        "search_snippets": _q_search_snippets,
        "route_matches": _q_route_matches,
        "topk_per_term": _q_topk_per_term,
        # dedup family
        "exact_dup_groups": _q_exact_dups,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "jaccard_pairs_small": _q_jaccard_small,
        "training_pipeline": _q_training_pipeline,
        "doc_signatures": _q_doc_signatures,
        "simhash_near_pairs": _q_simhash_pairs,
        "dup_clusters": _q_dup_clusters,
        # text analysis family
        "text_stats": _q_textstats,
        "lang_breakdown": _q_lang_breakdown,
        # similarity family (the three single-metric brute entries are
        # consolidated into one five-metric labeled entry in r5;
        # _q_knn_bruteforce stays for bench.py's comparable timing key)
        "knn_multi_metric": _q_knn_multi_metric,
        "knn_lsh": _q_knn_lsh,      # approximate, but seeded → hash-checked
        "knn_ivf": _q_knn_ivf,      # approximate, but seeded → hash-checked
        "embedding_near_dups": _q_embedding_near_dups,
        "embedding_norms": _q_embedding_norms,
        # relational scaffolding
        "tpch_q1": _q_tpch_q1,
        "top_customers": _q_top_customers,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "events_gap_sessions": _q_events_gap_sessions,
        "supplier_revenue": _q_supplier_revenue,
        "nation_order_stats": _q_nation_order_stats,
        "part_price_rank": _q_part_price_rank,
        # multimodal plumbing (synthetic, deterministic) → hash-checked
        # against the committed local-decode fixture
        "multimodal_features": _q_multimodal_features,
    }


# ============================================================ oracle SQL ==

TOKS = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x <> '')"
)

# shared CTE prefix for the BM25 family
BM25_CTES = f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
docs AS (SELECT doc_id, len(toks) AS dl FROM tok WHERE len(toks) > 0),
tfx AS (SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
        GROUP BY doc_id, term),
stats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM docs),
dfs AS (SELECT term, count(*) AS df FROM tfx GROUP BY term)
"""


def _bm25_sql(terms: list[str], k: int = K, exclude: list[int] | None = None,
              keep_where: str | None = None, conjunctive: bool = False,
              exclude_terms: list[str] | None = None, min_match: int = 0,
              prefix_stems: list[str] | None = None,
              fuzzy_specs: list[tuple[str, int]] | None = None,
              wildcards: list[str] | None = None,
              regexes: list[str] | None = None,
              boosts: dict[str, float] | None = None,
              enumerate_all: bool = False, offset: int = 0,
              dismax_tb: float | None = None,
              demote_terms: list[str] | None = None,
              demote_factor: float = 1.0) -> str:
    """exclude: tombstoned doc ids — filtered from the RESULT only (corpus
    stats stay over all docs), matching frozen-stats delete semantics.
    keep_where: SQL predicate over the documents table selecting the
    ALLOWED doc ids (filtered search) — same pre-top-k, stats-global
    convention, inverted.
    conjunctive: only docs matching EVERY distinct query term (HAVING
    count(*) = n over the unique-(doc, term) tfx rows).
    exclude_terms: NOT terms (must_not) — drop docs containing ANY of
    these tokens; survivors' scores unchanged (frozen-stats, like deletes).
    min_match: minimum_should_match — keep docs matching at least this
    many DISTINCT query terms (absent-from-corpus terms can never join, so
    they never count, matching the engine's Lucene-style semantics).
    prefix_stems: dictionary prefix expansion — the query term set is the
    UNION of the plain `terms` and every corpus term starting with a stem
    (the engine expands against the same stats-table dictionary, each
    expansion scoring with its own idf).
    fuzzy_specs: dictionary fuzzy expansion [(stem, max_edit_distance)] —
    every corpus term within levenshtein distance d of the stem joins the
    query term set (stem included), same own-idf scoring as prefixes.
    boosts: per-term query boosts {term: w} — a boosted term's BM25
    contribution is multiplied by w (the engine's term^w rewrite).
    enumerate_all: match ENUMERATION (k=None) — every qualifying doc, no
    ORDER BY / LIMIT (the driver compare is order-insensitive).
    offset: pagination twin of the engine's search_after cursor — rows
    ranked (offset, offset+k] of the global (s DESC, doc_id ASC) order
    (the ORACLE may use OFFSET; the engine never does)."""
    vals = ", ".join(f"('{t}')" for t in terms)
    if prefix_stems or fuzzy_specs or wildcards or regexes:
        preds = [f"term LIKE '{s}%'" for s in (prefix_stems or [])]
        # fuzzy twin: dictionary expansion by edit distance (the engine's
        # length-window + levenshtein scan, in one DuckDB predicate);
        # wildcard twin: the same '*'→'%' / '?'→'_' LIKE rewrite;
        # regex twin: the same whole-term anchor (portable subset only —
        # the engine scans with the JVM engine, DuckDB uses RE2)
        preds += [f"levenshtein(term, '{s}') <= {int(d)}"
                  for s, d in (fuzzy_specs or [])]
        preds += ["term LIKE '{}'".format(
                      p.replace("*", "%").replace("?", "_"))
                  for p in (wildcards or [])]
        preds += [f"regexp_matches(term, '^(?:{p})$')"
                  for p in (regexes or [])]
        branches = [f"SELECT term FROM dfs WHERE {' OR '.join(preds)}"]
        if terms:
            branches.append(f"SELECT term FROM (VALUES {vals}) v(term)")
        q_cte = "q(term) AS (" + " UNION ".join(branches) + ")"
    else:
        q_cte = f"q(term) AS (VALUES {vals})"
    if exclude:
        filt = f"WHERE tfx.doc_id NOT IN ({', '.join(str(int(i)) for i in exclude)})"
    elif keep_where:
        filt = (f"WHERE tfx.doc_id IN "
                f"(SELECT doc_id FROM documents WHERE {keep_where})")
    elif exclude_terms:
        ets = ", ".join(f"'{t}'" for t in sorted(set(exclude_terms)))
        filt = (f"WHERE tfx.doc_id NOT IN "
                f"(SELECT DISTINCT doc_id FROM tfx WHERE term IN ({ets}))")
    else:
        filt = ""
    if conjunctive:
        having = f"HAVING count(*) = {len(set(terms))}"
    elif min_match:
        having = f"HAVING count(*) >= {int(min_match)}"
    else:
        having = ""
    if demote_terms:
        # boosting-query twin: demoted docs keep eligibility, score × nb
        # on the RAW double (the engine's exact arithmetic), ranked on
        # the demoted value
        dts = ", ".join(f"'{t}'" for t in sorted(set(demote_terms)))
        s_final = (f"(CASE WHEN doc_id IN (SELECT DISTINCT doc_id FROM tfx "
                   f"WHERE term IN ({dts})) THEN s * {float(demote_factor)!r} "
                   f"ELSE s END)")
    else:
        s_final = "s"
    tail = ("" if enumerate_all
            else f"\nORDER BY {s_final} DESC, doc_id ASC LIMIT {k}"
                 + (f" OFFSET {int(offset)}" if offset else ""))
    if boosts:
        cases = " ".join(f"WHEN '{t}' THEN {float(w)!r}"
                         for t, w in sorted(boosts.items()))
        bw = f"(CASE term {cases} ELSE 1.0 END) * "
    else:
        bw = ""
    contrib = (f"{bw}LN((N - df + 0.5) / (df + 0.5) + 1.0)"
               f" * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + "
               f"{BM25.b} * docs.dl / avgdl))")
    if dismax_tb is None:
        s_expr = f"sum( {contrib} )"
    else:
        # dis_max combiner: best clause + tb·(sum − best)
        s_expr = (f"(max( {contrib} ) + {float(dismax_tb)!r} * "
                  f"(sum( {contrib} ) - max( {contrib} )))")
    return (
        BM25_CTES
        + f""",
{q_cte},
scored AS (
  SELECT tfx.doc_id,
         {s_expr} AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN (SELECT DISTINCT term FROM q) USING (term)
  CROSS JOIN stats
  {filt}
  GROUP BY tfx.doc_id
  {having}
)
SELECT doc_id, ROUND({s_final}, 6) AS score FROM scored{tail}
"""
    )


def _bm25_phrase_sql(phrase: str, k: int = K) -> str:
    """Twin of _q_bm25_phrase: token-adjacency as normalized-token-string
    containment (' a b ' in ' '||join(toks)||' ') + conjunctive BM25."""
    terms = tokenize_py(phrase)
    vals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    needle = " " + " ".join(terms) + " "
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
matched AS (SELECT doc_id FROM tok
            WHERE ' ' || array_to_string(toks, ' ') || ' ' LIKE '%{needle}%'),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  JOIN matched USING (doc_id)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
  HAVING count(*) = {len(set(terms))}
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


def _bm25_unicode_sql(k: int = K) -> str:
    """Twin of _q_bm25_unicode: the SAME augmented corpus derived in SQL
    (list-literal tag lookup on doc_id % 5), unicode tokenizer, full BM25."""
    tags_sql = "['" + "','".join(UNI_TAGS) + "']"
    uni_toks = tokenize_sql_array("text", unicode=True)
    terms = sorted(set(tokenize_py(UNI_QUERY, unicode=True)))
    vals = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH aug AS (SELECT doc_id,
        coalesce(text, '') || ' ' || ({tags_sql})[CAST(doc_id % 5 AS INT) + 1] AS text
      FROM documents WHERE doc_id < {UNI_LIM}),
tok AS (SELECT doc_id, {uni_toks} AS toks FROM aug),
docs AS (SELECT doc_id, len(toks) AS dl FROM tok WHERE len(toks) > 0),
tfx AS (SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
        GROUP BY doc_id, term),
stats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM docs),
dfs AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
q(term) AS (VALUES {vals}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN q USING (term)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def _bm25_grouped_sql(terms: list[str], per_group: int = 3) -> str:
    """Grouped top-k twin of _bm25_sql: full scoring, then ROW_NUMBER per
    documents.source instead of a global LIMIT."""
    vals = ", ".join(f"('{t}')" for t in terms)
    return (
        BM25_CTES
        + f""",
q(term) AS (VALUES {vals}),
scored AS (
  SELECT tfx.doc_id,
         sum( LN((N - df + 0.5) / (df + 0.5) + 1.0)
              * tfx.tf / (tfx.tf + {BM25.k1} * (1.0 - {BM25.b} + {BM25.b} * docs.dl / avgdl)) ) AS s
  FROM tfx
  JOIN docs USING (doc_id)
  JOIN dfs USING (term)
  JOIN (SELECT DISTINCT term FROM q) USING (term)
  CROSS JOIN stats
  GROUP BY tfx.doc_id
)
SELECT source, doc_id, score, rnk FROM (
  SELECT d.source, s.doc_id, ROUND(s.s, 6) AS score,
         row_number() OVER (PARTITION BY d.source ORDER BY s.s DESC, s.doc_id ASC) AS rnk
  FROM scored s JOIN documents d USING (doc_id)
) WHERE rnk <= {per_group}
"""
    )


SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_distinct(list_transform(range(len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) "
    "WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] "
    "ELSE [] END"
)


def _minhash_expr(i: int, var: str = "s") -> str:
    return f"list_min(list_transform(sh, {var} -> md5('{i}:' || {var})))"


_LSH_N, _LSH_BANDS = 8, 4
_LSH_RPB = _LSH_N // _LSH_BANDS


def _simhash_ctes(lim: int) -> str:
    """60-bit simhash in DuckDB: md5 first 15 hex chars → BIGINT via a
    0x-prefixed cast, then per-bit majority — the exact twin of
    dedup.simhash_col (Spark conv(hex,16,10) == DuckDB CAST('0x…'))."""
    return f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < {lim}),
h AS (SELECT doc_id, list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs,
             len(toks) AS n FROM tok),
s AS (SELECT doc_id, CAST(list_sum(list_transform(range(60), b ->
          CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > n
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM h)
"""


# ---- approximate-kNN oracles (hard signal for the seeded-deterministic
# LSH and IVF paths) -------------------------------------------------------
#
# Both operators are seeded and deterministic (similarity.py: fixed
# hyperplane seeds; k-means on a sorted-prefix sample), so DuckDB can
# re-derive the SAME candidate sets from literals and re-rank them exactly
# — this upgrades knn_lsh/knn_ivf from rows-only to hash-checked, mirroring
# the reference making brute force the baseline for every index
# (/root/reference/src/lib.rs:89-101). DuckDB parses bare numeric literals
# as DECIMAL (precision loss in the last digit), so vectors are shipped as
# repr() strings and CAST per element — bit-exact float64 round-trip.

_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale
_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tests", "fixtures")


def _vec_sql(v) -> str:
    s = " ".join(repr(float(x)) for x in v)
    return f"list_transform(string_split('{s}', ' '), z -> CAST(z AS DOUBLE))"


_KNN_RERANK_SQL = """
scored AS (SELECT c.query_id, c.vec_id, list_cosine_similarity(e.v, q.qv) AS s
           FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
approx AS (SELECT query_id, vec_id, s FROM scored
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) <= 10),
exact AS (SELECT query_id, e.vec_id, list_cosine_similarity(e.v, qv) AS s
          FROM e CROSS JOIN q
          QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) <= 10),
rec AS (SELECT a.query_id, ROUND(count(x.vec_id) / 10.0, 6) AS recall
        FROM approx a LEFT JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
        GROUP BY a.query_id)
SELECT a.query_id, a.vec_id, ROUND(a.s, 6) + 0 AS sim, recall
FROM approx a JOIN rec USING (query_id)
"""


def _knn_lsh_sql(n_planes: int = 6, n_tables: int = 6, dim: int = 64) -> str:
    """Twin of _q_knn_lsh: the hyperplanes are data-independent (seeded
    numpy), embedded as literals; buckets, candidates, exact cosine re-rank
    and the recall-vs-bruteforce column all re-derived in SQL."""
    planes = [similarity._hyperplanes(dim, n_planes, 42 + t) for t in range(n_tables)]
    pv = ",\n".join(
        f"({t}, {i}, {_vec_sql(p)})"
        for t, P in enumerate(planes) for i, p in enumerate(P)
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
planes(tbl, bit, p) AS (VALUES {pv}),
cb AS (SELECT e.vec_id, tbl,
              CAST(sum(CASE WHEN list_dot_product(v, p) > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
       FROM e CROSS JOIN planes GROUP BY e.vec_id, tbl),
qb AS (SELECT query_id, tbl,
              CAST(sum(CASE WHEN list_dot_product(qv, p) > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
       FROM q CROSS JOIN planes GROUP BY query_id, tbl),
cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
         FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket),
{_KNN_RERANK_SQL}"""


def _knn_ivf_sql(sf_dir: str, n_lists: int = 16, n_probe: int = 6,
                 sample_size: int = 2048, seed: int = 42) -> str:
    """Twin of _q_knn_ivf: the coarse centroids are re-derived here with
    THE SAME numpy trainer over the same deterministic sorted-prefix sample
    (read via pyarrow, no Spark), embedded as literals; list assignment,
    probe choice, re-rank and recall are pure SQL. Centroids are literal
    but data-derived at oracle-build time, so testdata regeneration keeps
    the oracle consistent automatically."""
    import pyarrow.parquet as pq
    import numpy as np

    tb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    pdf = tb.to_pandas().sort_values("vec_id").head(sample_size)
    samp = np.array([np.asarray(v, np.float64) for v in pdf["embedding"]])
    samp = samp / np.maximum(np.linalg.norm(samp, axis=1, keepdims=True), 1e-30)
    cents = similarity._kmeans_centroids(samp, n_lists, seed)
    cv = ",\n".join(f"({cid}, {_vec_sql(c)})" for cid, c in enumerate(cents))
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
en AS (SELECT vec_id, v, list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-30)) AS vn FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qvn FROM en WHERE vec_id < 3),
cents(cid, c) AS (VALUES {cv}),
assign AS (SELECT vec_id, cid FROM (
    SELECT en.vec_id, cid,
           row_number() OVER (PARTITION BY en.vec_id ORDER BY list_distance(vn, c), cid) AS rn
    FROM en CROSS JOIN cents) WHERE rn = 1),
probes AS (SELECT query_id, cid FROM (
    SELECT q.query_id, cid,
           row_number() OVER (PARTITION BY q.query_id ORDER BY list_distance(qvn, c), cid) AS rn
    FROM q CROSS JOIN cents) WHERE rn <= {n_probe}),
cand AS (SELECT DISTINCT p.query_id, a.vec_id FROM assign a JOIN probes p ON a.cid = p.cid),
{_KNN_RERANK_SQL}"""


def _lsh_pairs_sql() -> str:
    mh = ", ".join(f"{_minhash_expr(i)} AS m{i}" for i in range(_LSH_N))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"m{b * _LSH_RPB + r}" for r in range(_LSH_RPB))
        + ")) AS key FROM sigs"
        for b in range(_LSH_BANDS)
    )
    return f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 200),
shing AS (SELECT doc_id, {SHINGLES} AS sh FROM tok),
sigs AS (SELECT doc_id, {mh} FROM shing),
bands AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / greatest(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)), 1), 6) AS jaccard
FROM pairs
JOIN shing sa ON sa.doc_id = pairs.doc_a
JOIN shing sb ON sb.doc_id = pairs.doc_b
"""


def _training_pipeline_sql() -> str:
    """DuckDB re-derivation of EVERY pipeline stage (quality gate → exact
    dedup keep-min → 8-hash/4-band LSH candidates → exact Jaccard ≥ 0.85 →
    drop doc_b), mirroring prepare_training_corpus stage for stage."""
    sw = "', '".join(textstats.EN_STOPWORDS)
    mh = ", ".join(f"{_minhash_expr(i)} AS m{i}" for i in range(_LSH_N))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"m{b * _LSH_RPB + r}" for r in range(_LSH_RPB))
        + ")) AS key FROM sigs"
        for b in range(_LSH_BANDS)
    )
    return f"""
WITH tok AS (SELECT doc_id, text, {TOKS} AS toks FROM documents WHERE doc_id < 200),
feat AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains(['{sw}'], x))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(lower(coalesce(text, '')), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
           / greatest(length(coalesce(text, '')), 1) AS pr,
         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
           / greatest(len(toks), 1) AS mtl
  FROM tok),
gated AS (
  SELECT doc_id, toks FROM feat
  WHERE n_tokens >= 5
    AND ROUND(least(1.0, swr * 2.0) * 0.5
              + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
              + (1.0 - least(1.0, pr * 4.0)) * 0.2, 6) >= 0.3),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(array_to_string(toks, ' ')) AS h FROM gated)
  GROUP BY h),
exact AS (SELECT g.doc_id, g.toks FROM gated g JOIN keep USING (doc_id)),
shing AS (SELECT doc_id, {SHINGLES} AS sh FROM exact),
sigs AS (SELECT doc_id, {mh} FROM shing),
bands AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
conf AS (
  SELECT DISTINCT doc_b FROM pairs
  JOIN shing sa ON sa.doc_id = pairs.doc_a
  JOIN shing sb ON sb.doc_id = pairs.doc_b
  WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / greatest(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)), 1), 6) >= 0.85)
SELECT doc_id FROM exact
WHERE doc_id NOT IN (SELECT doc_b FROM conf)
ORDER BY doc_id
"""


def oracle_sql(sf_dir: str = _ORACLE_SF_DIR) -> dict[str, str]:
    """sf_dir parameterizes the one data-derived oracle (knn_ivf's
    centroid literals); the driver calls this with no args at sf0.01.
    Memoized per sf_dir (the knn_ivf entry reads parquet + runs k-means,
    and the test harness calls this once per parametrized case); a fresh
    dict is returned each call so callers can't corrupt the cache."""
    return dict(_oracle_sql_cached(sf_dir))


@functools.lru_cache(maxsize=8)
def _oracle_sql_cached(sf_dir: str) -> dict[str, str]:
    sw = "', '".join(textstats.EN_STOPWORDS)
    o = {
        "doc_stats": BM25_CTES
        + """SELECT doc_id, dl, N AS n_docs, ROUND(avgdl, 6) AS avgdl
             FROM docs CROSS JOIN stats ORDER BY doc_id""",
        "term_df_idf": BM25_CTES
        + """SELECT dfs.term, df, ROUND(LN((N - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
             FROM dfs CROSS JOIN stats ORDER BY df DESC, term ASC""",
        "tf_sample": BM25_CTES
        + "SELECT doc_id, term, tf FROM tfx WHERE doc_id < 50",
        "bm25_topk_multi": _bm25_multi_sql(BRUTE_QUERIES),
        # the indexed WAND path must equal the same SQL oracle — this is
        # the driver-verified version of the rank-identity pytest
        "bm25_indexed_batch": _bm25_multi_sql(BATCH_QUERIES),
        "bm25_indexed_five_noprune": _bm25_sql(FIVE_QUERY),
        # delete: result-side exclusion only (stats frozen);
        # rebuild: plain full-corpus oracle — append+rebuild must converge
        # to exactly what a from-scratch build computes
        "bm25_indexed_deleted": _bm25_sql(HOT_QUERY, exclude=DELETED_IDS),
        "bm25_indexed_rebuilt": _bm25_sql(MID_QUERY),
        "bm25_topk_per_source": _bm25_grouped_sql(HOT_QUERY),
        "bm25_topk_unicode": _bm25_unicode_sql(),
        "bm25_topk_filtered": _bm25_sql(HOT_QUERY, keep_where="lang = 'en'"),
        "bm25_topk_conjunctive": _bm25_sql(HOT_QUERY, conjunctive=True),
        # page 2 via the search_after cursor must equal OFFSET k of the
        # global ordering — the cursor path is rank-identical, at page-1
        # cost (the engine never materializes N·k rows per shard)
        "bm25_search_after": _bm25_sql(HOT_QUERY, offset=K),
        "more_like_this": _mlt_sql(),
        "score_explain": _explain_sql(sorted(set(HOT_QUERY))),
        "spell_suggest": _suggest_sql(sorted(SUGGEST_INPUTS.split())),
        "bm25_topk_phrase": _bm25_phrase_sql(PHRASE_QUERY),
        "bm25_rescore_phrase": _rescore_sql(PHRASE_QUERY),
        "query_string_search": _bm25_bool_sql(
            ["merge", "row"], ["scan"],
            [("part filter", None), ("table hash", 4)],
            exclude_terms=["dup"], boosts={"row": 2.0},
            min_match=QS_MIN_MATCH),
        "search_mixed_batch": _mixed_batch_sql(),
        "search_matches": _match_enum_sql(),
        "search_collapse": _collapse_sql(HOT_QUERY),
        "facet_lang_counts": _facet_sql(),
        "significant_terms": _significant_terms_sql(HOT_QUERY),
        "search_snippets": (
            "WITH topk AS (" + _bm25_sql(MID_QUERY) + ") "
            "SELECT t.doc_id, t.score, d.text, "
            + snippet_sql("d.text", sorted(set(MID_QUERY)), 4)
            + " AS snippet FROM topk t JOIN documents d USING (doc_id)"
        ),
        "route_matches": _route_sql(ROUTE_QUERIES, ROUTE_MIN_SCORE),
        "topk_per_term": BM25_CTES
        + """SELECT term, doc_id, tf, rnk FROM (
               SELECT term, doc_id, tf,
                      row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk
               FROM tfx WHERE term IN ('join', 'dup', 'spark'))
             WHERE rnk <= 3""",
        # ---- dedup ----
        "exact_dup_groups": f"""
            WITH h AS (SELECT doc_id, md5(array_to_string({TOKS}, ' ')) AS content_hash
                       FROM documents)
            SELECT content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM h GROUP BY content_hash HAVING count(*) > 1""",

        "minhash_lsh_pairs": _lsh_pairs_sql(),
        # simhash + fingerprint + minhash share the tok CTE; lambda vars
        # renamed x/z (a CTE named s exists in the simhash prefix)
        "doc_signatures": _simhash_ctes(1 << 40)
        + f""",
            shing AS (SELECT doc_id, toks, {SHINGLES} AS sh FROM tok),
            fp AS (SELECT doc_id,
                          CASE WHEN len(toks) >= 3
                               THEN list_min(list_transform(sh, x -> md5(x)))
                               ELSE md5(array_to_string(toks, ' ')) END AS fingerprint,
                          {_minhash_expr(0, 'z')} AS mh0, {_minhash_expr(1, 'z')} AS mh1,
                          {_minhash_expr(2, 'z')} AS mh2, {_minhash_expr(3, 'z')} AS mh3
                   FROM shing)
            SELECT s.doc_id, simhash, fingerprint, mh0, mh1, mh2, mh3
            FROM s JOIN fp USING (doc_id)""",
        "simhash_near_pairs": _simhash_ctes(300)
        + """,
            bands AS (SELECT doc_id, simhash AS sh, CAST(b.range AS INT) AS band,
                             (simhash >> (CAST(b.range AS INT) * 15)) & 32767 AS key
                      FROM s CROSS JOIN range(4) b)
            SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                   bit_count(xor(a.sh, b2.sh)) AS hamming
            FROM bands a JOIN bands b2
              ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id""",
        "jaccard_pairs_small": f"""
            WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 60),
            shing AS (SELECT doc_id, {SHINGLES} AS sh FROM tok)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
            FROM shing a JOIN shing b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1) >= 0.05""",
        "training_pipeline": _training_pipeline_sql(),
        # transitive closure of the simhash near-pair graph via a
        # recursive CTE (DuckDB) vs iterative label propagation (Spark)
        "dup_clusters": _simhash_ctes(300).replace("\nWITH ", "\nWITH RECURSIVE ", 1)
        + """,
            bands AS (SELECT doc_id, simhash AS sh, CAST(b.range AS INT) AS band,
                             (simhash >> (CAST(b.range AS INT) * 15)) & 32767 AS key
                      FROM s CROSS JOIN range(4) b),
            prs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                    FROM bands a JOIN bands b2
                      ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
            edges AS (SELECT doc_a AS s2, doc_b AS d2 FROM prs
                      UNION SELECT doc_b, doc_a FROM prs),
            reach AS (
              SELECT DISTINCT s2 AS doc_id, s2 AS r FROM edges
              UNION
              SELECT e.s2, reach.r FROM edges e JOIN reach ON reach.doc_id = e.d2
            )
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
            ORDER BY doc_id""",
        # ---- text analysis ----
        "text_stats": f"""
            WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
            t AS (SELECT doc_id, toks, len(toks) AS n_tokens,
                         CAST(len(list_filter(toks, x -> list_contains(['{sw}'], x))) AS DOUBLE)
                           / greatest(len(toks), 1) AS swr
                  FROM tok)
            SELECT t.doc_id, n_tokens,
                   ROUND(swr, 6) AS stopword_ratio,
                   ROUND(CAST(length(regexp_replace(lower(coalesce(d.text, '')), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                         / greatest(length(coalesce(d.text, '')), 1), 6) AS punct_ratio,
                   ROUND(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
                         / greatest(n_tokens, 1), 6) AS mean_token_len,
                   swr >= 0.05 AS is_english
            FROM t JOIN documents d ON d.doc_id = t.doc_id""",
        "lang_breakdown": f"""
            WITH tok AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
            t AS (SELECT doc_id, lang, len(toks) AS n_tokens,
                         CAST(len(list_filter(toks, x -> list_contains(['{sw}'], x))) AS DOUBLE)
                           / greatest(len(toks), 1) AS swr
                  FROM tok)
            SELECT lang, count(*) AS n_docs, ROUND(avg(n_tokens), 6) AS avg_tokens,
                   CAST(sum(CASE WHEN swr >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_englishish
            FROM t GROUP BY lang""",
        # ---- similarity ----
        # all five metrics mirror metrics.rs:56-103, sign-inverted to the
        # larger-is-closer `sim` convention used engine-wide
        "knn_multi_metric": _knn_multi_sql(),
        # approximate ANN — hash-checked since round 3: the seeded LSH
        # planes / IVF centroids are embedded as literals and the candidate
        # derivation + exact re-rank + recall re-computed in SQL
        "knn_lsh": _knn_lsh_sql(),
        # multimodal — hash-checked since round 3 against the committed
        # local-decode fixture (tools/make_multimodal_fixture.py): the same
        # deterministic payloads decoded in ONE process, so the check
        # covers the distributed mapInPandas/Arrow plumbing; decoder math
        # itself is pinned by hand-valued pytest cases
        "multimodal_features": f"""
            SELECT media_id, kind, n_bytes, decode_ok, feature_sum
            FROM read_parquet('{_FIXTURE_DIR}/multimodal_expected.parquet')""",
        "embedding_near_dups": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings WHERE vec_id < 300)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.40""",
        "embedding_norms": """
            SELECT vec_id, label,
                   ROUND(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
            FROM embeddings""",
        # ---- relational ----
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "top_customers": """
            SELECT c_custkey AS custkey, c_name AS name,
                   ROUND(sum(o_totalprice), 4) AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spend DESC, custkey ASC LIMIT 10""",
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, ROUND(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2""",
        "supplier_revenue": """
            SELECT s_suppkey AS suppkey, n_name AS nation,
                   ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY s_suppkey, n_name
            ORDER BY revenue DESC, suppkey ASC LIMIT 15""",
        "nation_order_stats": """
            SELECT r_name AS region, n_name AS nation,
                   count(*) AS n_orders, ROUND(avg(o_totalprice), 4) AS avg_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name""",
        "part_price_rank": """
            SELECT p_brand AS brand, p_partkey AS partkey,
                   p_retailprice AS price, rnk
            FROM (SELECT p_brand, p_partkey, p_retailprice,
                         row_number() OVER (PARTITION BY p_brand
                             ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
                  FROM part)
            WHERE rnk <= 3""",
        "events_sessions": """
            WITH g AS (SELECT user_id, event_id, ts,
                              epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                                (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                       FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id""",
        "events_gap_sessions": """
            WITH g AS (SELECT user_id, event_id, ts, value,
                              CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                                   THEN 1 ELSE 0 END AS new_s
                       FROM events
                       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS sno
                  FROM g)
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events, ROUND(sum(value), 6) AS total_value
            FROM s GROUP BY user_id, sno""",
    }
    # knn_ivf's centroid literals are derived from the sf_dir's embeddings
    # parquet at oracle-build time; if that file is absent (e.g. a partial
    # test checkout) the entry is omitted — knn_ivf then falls back to the
    # driver's weaker rows-only check instead of failing every oracle.
    # NEVER silently: the downgrade is announced on stderr (no-silent-caps
    # convention — a mistyped sf_dir must not quietly weaken the gate).
    if os.path.exists(f"{sf_dir}/embeddings.parquet"):
        o["knn_ivf"] = _knn_ivf_sql(sf_dir)
    else:
        print(f"WARNING: {sf_dir}/embeddings.parquet missing — knn_ivf "
              "oracle omitted, driver falls back to rows-only for it",
              file=sys.stderr)
    return o
