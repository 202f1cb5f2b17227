"""Engine — the user-facing four-verb lifecycle.

Mirrors the horapy surface shown in the reference README
(/root/reference/README.md:176-199: HNSWIndex(dimension, ...) → add →
build → search) and the ANNIndex trait (/root/reference/src/core/
ann_index.rs:25-121):

    eng = Engine(spark, index_path)
    eng.build(transcripts_df)          # build(metric)       — freeze rows
    eng.search("error in tool", k=10)  # node_search_k       — top-k
    eng.searches([...], k=10)          # batched search
    eng.built() / eng.nodes_size() / eng.idx_info()
    # dump/load == snapshot commits: Engine(spark, same_path) reattaches,
    # Engine.build(resume=True) resumes a crashed build from lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hora_spark.config import EngineConfig
from hora_spark.operators import build_index as _build
from hora_spark.operators import corpus as _corpus
from hora_spark.operators import query as _query
from hora_spark.sources.storage import SnapshotStore


class Engine:
    def __init__(self, spark: SparkSession, path: str, cfg: EngineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.store = SnapshotStore(spark, path)
        self._idf_caches: dict[tuple[str, ...], dict] = {}

    def _idf_cache(self, version: int) -> dict:
        """The idf/dictionary cache of `version`'s stats table. Keyed by
        the stats data dirs, not the version: appends, deletes and
        compaction commit new versions but never rewrite stats, so their
        searches keep the warm cache and no per-version copy piles up."""
        key = tuple(self.store.tables(version).get("stats") or ())
        return self._idf_caches.setdefault(key, {})

    # ------------------------------------------------------------ build ---
    def build(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str | None = None,
        order_cols: list[str] | None = None,
        waves: int = 1,
        resume: bool = False,
        build_id: str = "build-0",
        fail_after_wave: int | None = None,
    ) -> dict:
        """Freeze `df` into the searchable segment table.

        id_col=None assigns doc_id by dense rank over order_cols (default
        (conv_id, turn_idx) — the transcripts invariant)."""
        return _build.build_index(
            self.spark,
            df,
            self.store,
            text_col=text_col,
            id_col=id_col,
            order_cols=order_cols,
            cfg=self.cfg,
            build_id=build_id,
            waves=waves,
            resume=resume,
            fail_after_wave=fail_after_wave,
        )

    # ----------------------------------------------------------- search ---
    def search(self, query: str, k: int | None = None, prune: bool = True,
               version: int | None = None, mode: str = "any",
               near_window: int = 5, exclude: str | None = None,
               min_match: int = 0, expand_prefixes: bool = False,
               after: tuple[float, int] | None = None,
               boosts: dict[str, float] | None = None,
               synonyms: dict[str, list] | None = None,
               score_mode: str = "sum",
               tie_breaker: float = 0.0,
               fields: dict | None = None,
               fields_not: dict | None = None,
               negative: str | None = None,
               negative_boost: float = 1.0) -> DataFrame:
        """mode='all' gives conjunctive (AND) semantics — only docs
        matching every query term, scored with the same BM25 sums.
        mode='phrase' requires exact token adjacency, mode='near'
        proximity within near_window tokens of the first term,
        mode='near_unordered' proximity to ANY term's occurrence
        (order-free, Lucene-slop-like; == 'near' for 2-term queries).
        Positional modes need an index built with
        IndexConfig.store_positions=True; all are scored like 'all'.
        exclude='tok ...' drops docs containing any of those tokens
        (must_not; survivors' scores unchanged); min_match=n keeps only
        docs matching ≥ n distinct query terms (minimum_should_match,
        mode='any'); expand_prefixes=True parses dictionary-expansion
        syntax — trailing-'*' prefix queries ("tok*"), trailing-'~'
        fuzzy queries ("tok~", "tok~2" = edit distance 1 / 2), and
        '*'/'?' wildcards anywhere else ("*ing", "t?ble" — Lucene
        WildcardQuery, leading/infix included);
        after=(score, doc_id) is the
        deep-paging cursor — pass the last row of the previous page to
        get the next k results at page-1 cost (search_after, never
        OFFSET); boosts={'term': w} multiplies each named term's BM25
        contribution by w > 0 (Lucene's term^w, pruning stays exact);
        synonyms={'term': ['alt', ...]} expands matching query tokens
        (ES query-time synonym filter as a scoring-boolean rewrite —
        each expansion scores with its own idf; non-matching keys are
        ignored, so pass the whole corpus-level table)."""
        return self.searches([query], k=k, prune=prune, version=version,
                             mode=mode, near_window=near_window,
                             exclude=exclude, min_match=min_match,
                             expand_prefixes=expand_prefixes,
                             after=after, boosts=boosts,
                             synonyms=synonyms, score_mode=score_mode,
                             tie_breaker=tie_breaker, fields=fields,
                             fields_not=fields_not, negative=negative,
                             negative_boost=negative_boost).drop("query_id")

    def searches(self, queries: list, k: int | None = None, prune: bool = True,
                 version: int | None = None, filter_df: DataFrame | None = None,
                 mode: str = "any", near_window: int = 5,
                 exclude: str | None = None, min_match: int = 0,
                 expand_prefixes: bool = False,
                 after: tuple[float, int] | None = None,
                 boosts: dict[str, float] | None = None,
                 synonyms: dict[str, list] | None = None,
                 score_mode: str = "sum",
                 tie_breaker: float = 0.0,
                 fields: dict | None = None,
                 fields_not: dict | None = None,
                 negative: str | None = None,
                 negative_boost: float = 1.0) -> DataFrame:
        """Batched search: ONE Spark job for any number of queries.
        Each element of `queries` is a string (searched with the
        call-level options), a (text, mode) / (text, mode, near_window)
        tuple, or a dict with any of {text, mode, near_window, exclude,
        min_match, prefix, after, boosts, synonyms} — a mixed workload
        (phrase + bag-of-words + NOT + prefix + page-2 cursors + boosted
        terms + synonym expansion) still runs as a single job."""
        # idf cache keyed by the stats dirs: stats are frozen until a
        # rebuild, so repeat query terms skip the lookup job.
        # resolve the snapshot version ONCE per call: every store method
        # downstream (meta/read/table_bytes/exists) takes the explicit
        # version and hits the manifest cache, so the per-call FS listing
        # happens exactly once instead of once per resolution
        v = self.store.current_version() if version is None else version
        cache = self._idf_cache(v)
        return _query.search_topk(
            self.spark, self.store, queries, k=k or self.cfg.k_default,
            cfg=self.cfg, prune=prune, version=v, idf_cache=cache,
            filter_df=filter_df, mode=mode, near_window=near_window,
            exclude=exclude, min_match=min_match,
            expand_prefixes=expand_prefixes, after=after, boosts=boosts,
            synonyms=synonyms, score_mode=score_mode,
            tie_breaker=tie_breaker, fields=fields, fields_not=fields_not,
            negative=negative, negative_boost=negative_boost,
        )

    def query_string(self, q: str, k: int | None = None,
                     min_match: int = 0,
                     version: int | None = None,
                     filter_df: DataFrame | None = None) -> DataFrame:
        """Lucene-style query string in ONE call (the classic QueryParser
        subset — see hora_spark.functions.qstring for the grammar):

            eng.query_string('+spark "hash join"~3 scan^2 -deprecated pre*')

        '+term' must clauses, '-term' must_not, '"..."' exact-phrase and
        '"..."~N' order-free proximity clauses (positional index
        required), 'term^w' boosts, prefix/wildcard/fuzzy expansions as
        should clauses — all compiled into one boolean-query spec and run
        as a single search job. min_match = minimum_should_match over the
        SHOULD clauses (the Lucene convention when must/phrase clauses
        are present). Several query strings batch via
        `searches([parse_query_string(s) for s in strings])`."""
        from hora_spark.functions.qstring import parse_query_string

        spec = parse_query_string(q)
        if min_match:
            spec["min_match"] = int(min_match)
        return self.searches([spec], k=k, version=version,
                             filter_df=filter_df).drop("query_id")

    def explain(self, query: str, doc_ids=None, k: int | None = None,
                version: int | None = None) -> DataFrame:
        """Score breakdown (Lucene `Explanation` / ES `_explain` analog):
        DataFrame(doc_id, term, tf, dl, idf, contrib, score) — one row
        per (doc, matched query term), contrib = that term's BM25
        summand, score = the doc's total as `search` computes it.
        doc_ids: explicit ids to explain; None = explain the query's own
        top-k (k or cfg.k_default)."""
        from hora_spark.operators.explain import explain_scores

        v = self.store.current_version() if version is None else version
        cache = self._idf_cache(v)
        if doc_ids is None:
            top = self.search(query, k=k or self.cfg.k_default,
                              version=v)
            doc_ids = [r["doc_id"] for r in top.select("doc_id").collect()]
        return explain_scores(self.spark, self.store, query, doc_ids,
                              cfg=self.cfg, version=v, idf_cache=cache)

    def rescore(self, query: str, k: int | None = None,
                window_size: int = 100, rescore_mode: str = "phrase",
                near_window: int = 5, query_weight: float = 1.0,
                rescore_weight: float = 1.0,
                version: int | None = None) -> DataFrame:
        """Two-pass proximity rescoring (the ES `rescore` window):
        pass 1 takes the top `window_size` docs by plain BM25; pass 2
        re-runs the query in `rescore_mode` ('phrase', 'near', or
        'near_unordered' — positional index required) RESTRICTED to that
        window, and the final ordering uses
        query_weight·bm25 + rescore_weight·proximity_score (proximity
        score 0 for window docs the rescore query misses, like ES).
        → DataFrame(doc_id, score, base_score, rescore_score), top-k by
        (score DESC, doc_id ASC). Cost: the window collect is ≤
        window_size ids (driver-bounded by config, same class as the
        filtered-search size probe); pass 2's positional decode touches
        only the window docs' shards."""
        from pyspark.sql import functions as F

        if rescore_mode not in ("phrase", "near", "near_unordered"):
            raise ValueError(
                "rescore_mode must be 'phrase', 'near', or "
                f"'near_unordered', got {rescore_mode!r}")
        # materialize the window ONCE (ES does the same): window_size rows
        # on the driver, reused as both the keep-list and the base scores —
        # pass 1's DAG runs exactly once
        version = (self.store.current_version() if version is None
                   else version)
        window = self.search(query, k=window_size, version=version).collect()
        if not window:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, base_score double, "
                    "rescore_score double")
        cand = self.spark.createDataFrame(
            [(r["doc_id"], float(r["score"])) for r in window],
            "doc_id long, base_score double")
        # the keep-list is already on the driver (≤ window_size rows) —
        # hand the ids to the search directly instead of a filter_df,
        # skipping the filter's size-probe job
        prox = (
            self.matches([query], version=version,
                         allowed_ids=[r["doc_id"] for r in window],
                         mode=rescore_mode, near_window=near_window)
            .select("doc_id", F.col("score").alias("rescore_score"))
        )
        return (
            cand.join(prox, "doc_id", "left")
            .withColumn("rescore_score",
                        F.coalesce("rescore_score", F.lit(0.0)))
            .withColumn("score",
                        F.lit(float(query_weight)) * F.col("base_score")
                        + F.lit(float(rescore_weight)) * F.col("rescore_score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k or self.cfg.k_default)
            .select("doc_id", "score", "base_score", "rescore_score")
        )

    def suggest(self, query: str, n: int = 3, max_distance: int = 2,
                mode: str = "missing", version: int | None = None) -> DataFrame:
        """Spell suggestion (ES term suggester / Lucene DirectSpellChecker
        analog): up to n dictionary terms per query token, ranked
        (edit distance ASC, df DESC, term ASC). mode: 'missing' (only
        absent tokens), 'popular' (only higher-df corrections),
        'always'."""
        from hora_spark.operators.suggest import suggest_terms

        v = self.store.current_version() if version is None else version
        cache = self._idf_cache(v)
        return suggest_terms(self.spark, self.store, query, cfg=self.cfg,
                             n=n, max_distance=max_distance, mode=mode,
                             version=v, idf_cache=cache)

    def more_like_this(self, text: str, k: int | None = None,
                       max_terms: int = 10, min_term_freq: int = 1,
                       source_doc_id: int | None = None,
                       version: int | None = None, **kw) -> DataFrame:
        """Find docs similar to `text` (Elasticsearch MLT, simplified):
        select the source's top max_terms "interesting" terms by
        tf·idf (weight rounded to 6 decimals, ties by term ASC — a
        reproducible selection), then run a standard bag-of-words
        search with them. source_doc_id: exclude the source doc itself
        from the result (still k rows). kw = any search option
        (mode, prune, boosts, ...)."""
        from pyspark.sql import functions as F

        v = self.store.current_version() if version is None else version
        cache = self._idf_cache(v)
        terms = _query.mlt_select_terms(
            self.store, text, max_terms=max_terms,
            min_term_freq=min_term_freq, version=v, idf_cache=cache)
        kk = k or self.cfg.k_default
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        res = self.search(
            " ".join(terms), version=v,
            k=kk + (1 if source_doc_id is not None else 0), **kw)
        if source_doc_id is not None:
            res = (res.filter(F.col("doc_id") != int(source_doc_id))
                   .orderBy(F.desc("score"), F.asc("doc_id")).limit(kk))
        return res

    def matches(self, queries: list, version: int | None = None,
                filter_df: DataFrame | None = None, mode: str = "any",
                near_window: int = 5, exclude: str | None = None,
                min_match: int = 0, expand_prefixes: bool = False,
                **kw) -> DataFrame:
        """ALL matching docs per query (match enumeration, no top-k):
        → DataFrame(query_id, doc_id, score), unordered. Feeds facet
        panels, match counting, and corpus-filter exports. kw = any
        remaining search option (fields, fields_not, negative, boosts,
        synonyms, score_mode, ...)."""
        v = self.store.current_version() if version is None else version
        cache = self._idf_cache(v)
        return _query.search_matches(
            self.spark, self.store, queries, cfg=self.cfg, version=v,
            idf_cache=cache, filter_df=filter_df, mode=mode,
            near_window=near_window, exclude=exclude, min_match=min_match,
            expand_prefixes=expand_prefixes, **kw,
        )

    def facets(self, queries: list, docs_df: DataFrame, facet_col: str,
               id_col: str = "doc_id", metrics: dict[str, list] | None = None,
               **kw) -> DataFrame:
        """Facet counts over ALL matching docs, grouped by a docs-table
        column: → DataFrame(query_id, facet, n_docs[, <col>_<agg>...]).
        metrics={'n_chars': ['avg', 'max'], 'score': ['avg']} adds
        per-bucket stats (ES stats sub-aggregation; 'score' = the match's
        BM25 score). kw = any matches() option (mode, exclude, min_match,
        expand_prefixes, filter_df)."""
        v = self.store.current_version() if kw.get("version") is None else kw["version"]
        kw["version"] = v
        cache = self._idf_cache(v)
        return _query.facet_counts(
            self.spark, self.store, queries, docs_df, facet_col,
            id_col=id_col, metrics=metrics, cfg=self.cfg, idf_cache=cache,
            **kw,
        )

    def significant_terms(self, queries: list, docs_df: DataFrame,
                          k_terms: int = 10, min_doc_count: int = 2,
                          text_col: str = "text", id_col: str = "doc_id",
                          **kw) -> DataFrame:
        """Significant-terms aggregation (ES significant_terms, JLH):
        terms overrepresented in each query's match set vs the background
        corpus → DataFrame(query_id, term, fg_count, bg_count, score,
        rnk), top k_terms per query. kw = any matches() option (mode,
        exclude, min_match, expand_prefixes, filter_df)."""
        v = (self.store.current_version() if kw.get("version") is None
             else kw["version"])
        kw["version"] = v
        cache = self._idf_cache(v)
        return _query.significant_terms(
            self.spark, self.store, queries, docs_df, k_terms=k_terms,
            min_doc_count=min_doc_count, text_col=text_col, id_col=id_col,
            cfg=self.cfg, idf_cache=cache, **kw,
        )

    def count(self, queries: list, **kw) -> DataFrame:
        """Match counting (the ES `_count` API): → DataFrame(query_id,
        n_matches), one row per query INCLUDING zero-match queries (a
        count endpoint that silently drops empty queries is a trap).
        One enumeration job + a map-side-combined count — no top-k, no
        sort, no driver state. kw = any matches() option (mode, exclude,
        fields, min_match, filter_df, ...)."""
        from pyspark.sql import functions as F

        counts = (self.matches(queries, **kw)
                  .groupBy("query_id").agg(F.count("*").alias("n_matches")))
        all_q = self.spark.range(len(queries)).select(
            F.col("id").cast("int").alias("query_id"))
        return (all_q.join(counts, "query_id", "left")
                .select("query_id",
                        F.coalesce("n_matches", F.lit(0)).alias("n_matches"))
                .orderBy("query_id"))

    def collapse(self, queries: list, docs_df: DataFrame,
                 collapse_col: str, k: int = 10, per_group: int = 1,
                 id_col: str = "doc_id", **kw) -> DataFrame:
        """Field collapsing (ES collapse / inner_hits): top-k per query
        with at most per_group docs per collapse-key value ("best turn
        per conversation") → DataFrame(query_id, doc_id, score,
        <collapse_col>), ordered (query_id, score DESC, doc_id ASC).
        Exact: the collapse runs over the full match set (see
        operators/collapse.py for the plan and why an in-UDF pruned form
        was rejected). kw = any search option (mode, exclude, fields,
        min_match, filter_df, ...)."""
        from hora_spark.operators.collapse import search_collapse

        v = (self.store.current_version() if kw.get("version") is None
             else kw["version"])
        kw["version"] = v
        cache = self._idf_cache(v)
        return search_collapse(
            self.spark, self.store, queries, docs_df, collapse_col,
            k=k, per_group=per_group, id_col=id_col, cfg=self.cfg,
            idf_cache=cache, **kw,
        )

    def search_filtered(self, query: str, filter_df: DataFrame,
                        k: int | None = None, prune: bool = True,
                        version: int | None = None) -> DataFrame:
        """Filtered search: exact top-k among the doc ids in `filter_df`
        (one column), scores = the unfiltered global-stats BM25 (the
        deletes convention, inverted). 'Search only user turns' /
        'only English docs' without rebuilding the index."""
        return self.searches([query], k=k, prune=prune, version=version,
                             filter_df=filter_df).drop("query_id")

    def route(self, df: DataFrame, queries: list[str], min_score: float,
              id_cols: list[str] | None = None, text_col: str = "text") -> DataFrame:
        """Reverse search: score the rows of `df` (e.g. newly arriving
        docs) against standing `queries` using THIS index's frozen stats
        (idf/avgdl); keep matches ≥ min_score. The batch verb behind
        streaming/routing.stream_route."""
        from hora_spark.functions.tokenize import tokenize_py
        from hora_spark.streaming.routing import route_docs

        v = self.store.current_version()
        meta = self.store.meta(v)
        if "avgdl" not in meta:
            # same remedy message as search_topk — routing needs the
            # frozen corpus stats a build commits
            raise FileNotFoundError(
                f"no built index at {self.store.root!r}: routing scores "
                "against a snapshot's frozen idf/avgdl — run build first"
            )
        uni = bool(meta.get("unicode", False))
        terms = sorted({t for q in queries for t in tokenize_py(q, unicode=uni)})
        # standing-query idfs resolve through the same per-stats cache
        # as search (zero-job once the small-vocab dictionary is loaded)
        cache = self._idf_cache(v)
        missing = [t for t in terms if t not in cache]
        if missing:
            _query._idf_lookup(self.store, v, cache, self.cfg, missing)
        idf = {t: cache[t] for t in terms if cache[t] is not None}
        return route_docs(df, queries, idf, float(meta["avgdl"]), min_score,
                          id_cols=id_cols, text_col=text_col,
                          bm25=self.cfg.bm25, unicode=uni)

    # ------------------------------------------------------- maintenance --
    def delete(self, doc_ids) -> dict:
        """Tombstone docs: excluded from every search immediately (scores
        of survivors unchanged); bytes removed at compact/rebuild."""
        from hora_spark.streaming.incremental import delete_docs
        return delete_docs(self.spark, self.store, doc_ids)

    def rebuild(self, build_id: str = "rebuild-0") -> dict:
        """Compact + refresh corpus stats (ann_index.rs:69-71): appended
        novel-vocabulary terms become searchable, tombstones become
        physical, scores equal a from-scratch build over live docs."""
        from hora_spark.streaming.incremental import rebuild
        out = rebuild(self.spark, self.store, self.cfg, build_id=build_id)
        self._idf_caches.clear()  # new stats dirs: the old caches are dead
        return out

    # ------------------------------------------------------------ state ---
    def built(self) -> bool:
        """/root/reference/src/core/ann_index.rs:64 — here: a committed
        segments table exists in the current snapshot."""
        try:
            return self.store.exists("segments")
        except FileNotFoundError:
            return False

    def nodes_size(self) -> int:
        """ann_index.rs:105-107 — docs in the built index."""
        return int(self.store.meta().get("n_docs", 0))

    def idx_info(self) -> DataFrame:
        """ann_index.rs:113-115 is a stub in the reference; the north_rule
        makes it real: the per-partition lineage/metrics table."""
        return self.store.read("lineage")

    def clear(self) -> None:
        self.store.drop()
