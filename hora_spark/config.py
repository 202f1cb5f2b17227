"""Engine configuration.

Mirrors the reference's params-struct surface (hora keeps one params struct
per index, e.g. /root/reference/src/index/hnsw_params.rs:53-63,
pq_params.rs:35-42) as plain dataclasses. BM25 constants are pinned HERE and
nowhere else: rank-identity between the brute-force oracle and the indexed
path is only meaningful if both read the same (k1, b, idf) definition —
the analog of hora pinning its sign convention "smaller means closer" in one
place (/root/reference/src/core/metrics.rs:55).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Config:
    """BM25 scoring constants (Lucene-style idf, always >= 0).

    score(q, d) = sum over t in q of
        idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)
    """

    k1: float = 1.2
    b: float = 0.75

    def idf(self, n_docs: int, df: int) -> float:
        return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)

    @property
    def idf_sql(self) -> str:
        """The idf formula as a SQL fragment over columns N and df —
        used verbatim by both Spark SQL and the DuckDB oracle so the two
        engines compute the same expression tree."""
        return "LN((N - df + 0.5) / (df + 0.5) + 1.0)"


@dataclass(frozen=True)
class IndexConfig:
    """Segment/posting-list build parameters.

    Analog of hora's PQ/IVFPQ params (/root/reference/src/index/
    pq_params.rs:35-42,80-89): block_size plays the role of the code/
    subspace granularity, n_buckets the role of n_kmeans_center (coarse
    partitioning). There is deliberately NO per-term salting knob: shards
    are DOC ranges, so a hot term's postings are already split across
    every shard structurally — the skew repair hora does reactively
    (/root/reference/src/core/kmeans.rs:150-193) is built into the
    partitioning here (asserted by the Zipf shard-balance test).
    """

    block_size: int = 128           # docs per compressed posting block
    # Shard-count policy. Default (n_buckets=None) is ADAPTIVE: the build
    # derives n_shards = ceil(id_span / target_docs_per_shard) (with a
    # min_shards floor for small corpora) from the COUNTED corpus, so the
    # one-partition-per-shard merge task's input — and therefore its
    # memory — is bounded by target_docs_per_shard at ANY corpus size.
    # A fixed count would make shard_size grow linearly with the corpus
    # (at 10^12 turns a 64-shard layout holds ~1.6e10 docs/shard and the
    # merge OOMs). n_buckets pins an exact count for tests / layouts that
    # must not depend on corpus size. NEVER derived from parallelism:
    # segment bytes stay identical at any core count either way.
    n_buckets: int | None = None
    target_docs_per_shard: int = 2_000_000
    min_shards: int = 64
    # NB: no token-length knobs either — the tokenizer is pinned to
    # TOKEN_PATTERN below, because the DuckDB oracles re-derive it and
    # rank-identity is defined against that exact tokenization
    # store per-posting doc lengths (dl_blocks) in FINAL segment rows.
    # True (default): queries decode O(posting) bytes — rare-term cost is
    # proportional to the posting, never the shard. False: the index is
    # ~1-2 bytes/posting smaller and the build skips one block-pack pass,
    # but every query also reads+decodes the shard's norms sidecar row
    # (the round-1 layout). The mode is recorded in the snapshot meta and
    # both paths return byte-identical scores.
    store_dl: bool = True
    # tokenizer mode: False = pinned ASCII [a-z0-9]+ (the round-1..3
    # default; non-Latin text tokenizes to dl=0 and is counted-dropped),
    # True = Unicode letter/digit runs (TOKEN_SPLIT_RE_UNICODE above).
    # Recorded in the snapshot meta; queries tokenize with the INDEX's
    # mode, not the caller's cfg — one index, one tokenizer.
    unicode: bool = False
    # store within-doc token positions per posting (pos_blocks): enables
    # PHRASE queries verified from the index alone (no source-text join).
    # Costs ~1-2 bytes per token occurrence; off by default. Recorded in
    # the snapshot meta; mode="phrase" searches require it.
    store_positions: bool = False
    # fielded-filter columns (ES keyword / filter-context fields): each
    # listed metadata column of the source table is tokenized with the
    # pinned tokenizer and stored as '<field>:<token>' postings in the
    # same segment layout. Queries filter on them index-residently
    # (fields={'lang': 'en'}) as zero-score must clauses — the postings
    # intersect inside the shard UDF, so no documents-table scan or
    # cogroup rides the query. ':' is unreachable by the tokenizer, so
    # field terms never collide with (or score as) text terms, and
    # corpus stats (N, avgdl, text-term df) are byte-identical with and
    # without fields. Recorded in the snapshot meta; appends follow it.
    field_cols: tuple = ()

    def n_shards_for(self, id_span: int) -> int:
        """Shard count for a corpus occupying doc ids [0, id_span).

        With the adaptive default, shard_size = ceil(id_span / n_shards)
        ≤ target_docs_per_shard always holds (when the min_shards floor
        dominates, id_span ≤ min_shards · target already), so per-shard
        merge work is bounded by config, not corpus size — the analog of
        IVFPQ sizing n_kmeans_center relative to the data
        (/root/reference/src/index/pq_idx.rs:357-375)."""
        if self.n_buckets is not None:
            return self.n_buckets
        span = max(1, int(id_span))
        return max(self.min_shards, -(-span // self.target_docs_per_shard))


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Config = field(default_factory=BM25Config)
    index: IndexConfig = field(default_factory=IndexConfig)
    # tie-break: ORDER BY score DESC, doc_id ASC — pinned once, used
    # everywhere (oracle, WAND path, SQL oracles). The analog of hora's
    # Neighbor ordering (/root/reference/src/core/neighbor.rs:30-34).
    k_default: int = 10
    # merge-on-read ceiling: every append commits one more segments dir,
    # and each query's per-(shard, term) work grows with the number of
    # posting sources. When an append pushes the dir count ABOVE this,
    # append_build compacts automatically (one row per (shard, term)
    # again; results unchanged — stats stay frozen). None disables.
    max_delta_batches: int | None = 16
    # prefix queries ("tok*") expand against the stats-table dictionary;
    # a stem matching more index terms than this ceiling raises instead
    # of running (a one-letter prefix over a web-scale vocabulary would
    # collect an unbounded term list to the driver and OR thousands of
    # posting scans — Lucene's maxClauseCount guard, same reasoning)
    max_prefix_expansion: int = 1024
    # fuzzy queries ("tok~", "tok~2") expand against the same dictionary
    # via edit distance; the per-stem ceiling is tighter than prefixes
    # because a distance-2 match over a huge vocabulary ORs many posting
    # scans (Lucene caps FuzzyQuery rewrites the same way)
    max_fuzzy_expansion: int = 256
    # single-task scan ceiling (query-path latency): when the segments
    # table's pushed-down term scan is at most this many on-disk bytes
    # (and the shard count is sane), the whole search runs as ONE task —
    # the scan and one WAND call over every shard's rows, which returns
    # the global top-k, form a single stage with no Exchange at all.
    # Above it (real corpora) the plan keeps the shard exchange +
    # distributed merge. 0 disables.
    max_single_task_scan_bytes: int = 64 << 20
    # dictionary caching (query-path latency): the first idf lookup per
    # stats table probes it with ONE limit-bounded collect; a
    # vocabulary at or below this many terms is loaded whole into that
    # table's idf cache, so every later search/expansion resolves
    # idfs (and prefix/wildcard/regex expansions) driver-side with ZERO
    # extra Spark jobs. Bigger vocabularies fall back to the per-term
    # pushed-down isin scan — the limit stops the probe scan early, so
    # the probe costs one ordinary lookup job even at web scale. Driver
    # memory bound: ~40 bytes/term → ≤ ~8 MB at the default. 0 disables.
    max_idf_cache_terms: int = 200_000
    # tombstone sets at or below this many ids are collected to the driver
    # and broadcast (8 bytes/id → ≤ ~8 MB); above it the query and
    # compaction paths switch to a shard-aligned cogroup so the delete set
    # never materializes on the driver (a bulk purge of 1% of 10^12 docs
    # would OOM the broadcast path). Results are identical either way.
    max_broadcast_deletes: int = 1_000_000


# token pattern pinned once; must stay expressible in BOTH Spark (Java
# regex) and DuckDB (RE2) with identical semantics — keep it to character
# classes only. TOKEN_PATTERN (match runs) and TOKEN_SPLIT_RE (split on
# non-runs) are the same tokenization expressed both ways.
TOKEN_SPLIT_RE = "[^a-z0-9]+"
TOKEN_PATTERN = "[a-z0-9]+"

# UNICODE mode (IndexConfig.unicode=True): tokens are runs of Unicode
# letters/digits (categories L* and N*), lowercased — so CJK / Cyrillic /
# Arabic / accented text indexes instead of silently tokenizing to dl=0.
# Three pinned expressions of the SAME class:
#   - Java (Spark F.split) and RE2 (DuckDB string_split_regex) use
#     \p{L}\p{N} property classes;
#   - Python re has no \p, so the run pattern is [^\W_] (= \w minus
#     underscore) with re.UNICODE — verified equal on the parity fixture.
# Pinned guarantee scope: NFC-normalized text. (Divergence otherwise:
# DuckDB's utf8proc lower() NFC-normalizes decomposed sequences — e+U+0301
# becomes é — while Python/Java lower() do not, so a decomposed input
# tokenizes differently across engines. Combining marks themselves are Mn,
# outside the class, in all three engines.)
TOKEN_SPLIT_RE_UNICODE = r"[^\p{L}\p{N}]+"      # Java + RE2
TOKEN_PATTERN_UNICODE_PY = r"[^\W_]+"           # Python re twin
