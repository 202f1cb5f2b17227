"""The benchmark's workloads: closed loops with one client at local[nproc].

Each workload has three phases:

- set-up: generate the seeded inputs, build the index (the cold build that
  also warms the JVM) and run untimed warm-up operations;
- a fixed schedule of timed operations, sized from --seconds at nominal
  rates, so both sides of a comparison do the same work and every median
  sits at the same point of the JVM's warm-up curve;
- correctness checks, outside every timed region: answers against the
  exhaustive `prune=False` path of the snapshot they were read from, and
  a sample against `operators/oracle.bruteforce_topk`.

Every workload reports every end-to-end metric: each has reads (warm
single searches, searches through a new engine handle, 100-spec batches)
and commits, each commit followed by a first search on cold per-snapshot
caches. Why each workload exists is in README.md.
"""

from __future__ import annotations

import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk
from hora_spark.streaming.incremental import append_build

from perfbench import inputs
from perfbench.measure import job_floor_s

K = 10
SCORE_ATOL = 1e-9

# single-search pool of small_mixed_search: one spec per clause family
# (the pool is also the head of its 100-spec batch)
SMALL_POOL = ["any", "all", "phrase", "near", "fielded", "exclude_min",
              "prefix_wild", "boost_page"]
SMALL_BATCH = ["any", "all", "phrase", "near", "fielded", "exclude_min",
               "prefix_wild", "boost"]
INGEST_BATCH = ["any", "all", "exclude_min", "boost"]
ORACLE_KINDS = {"any", "all", "exclude_min", "prefix_wild", "boost",
                "boost_page"}
APPEND_PARTS = 8  # append batches generated for ingest_mixed (it uses the first few)

SIZES = {
    # convs: base corpus; append_convs: per append batch; deletes: ids per
    # delete commit; batch: specs per `searches` call; warm: untimed
    # warm-up searches (small_mixed_search); pairs: traced/untraced
    # overhead pairs
    "full": {"convs": 60, "append_convs": 10, "deletes": 30, "batch": 100,
             "warm": 2, "pairs": 6},
    "smoke": {"convs": 40, "append_convs": 5, "deletes": 5, "batch": 10,
              "warm": 1, "pairs": 2},
}

# nominal seconds of one round of each workload's timed schedule (at
# local[4] on a 4-core host a warm single search takes 0.3-0.8 s, a
# search on cold caches 0.8-1.6 s, a 100-spec batch 1.4-2.5 s, a delete
# commit plus its first search 1.3-2.7 s, an append plus its first search
# 4.5-8 s); --seconds / ROUND_S rounds are run
ROUND_S = {"small_mixed_search": 7.0, "ingest_mixed": 14.0}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    mem: object  # measure.MemSampler
    size: str = "full"

    @property
    def sizes(self) -> dict:
        return SIZES[self.size]

    def rounds(self, workload: str) -> int:
        return max(1, round(self.seconds / ROUND_S[workload]))


@dataclass
class Result:
    """Raw samples of one run; run.py turns them into metrics."""
    samples: dict = field(default_factory=dict)   # metric -> list of values
    values: dict = field(default_factory=dict)    # metric -> single value
    problems: list = field(default_factory=list)  # failed checks
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)
    eng: object = None
    probe_queries: list = field(default_factory=list)  # plain-term queries
    text_sample: list = field(default_factory=list)
    setup_end: float = 0.0  # perf_counter when the timed schedule began


def _kw(spec: dict) -> dict:
    """Batch-spec dict → Engine.search keyword arguments."""
    out = {}
    for key, v in spec.items():
        if key == "text":
            out["query"] = v
        elif key == "prefix":
            out["expand_prefixes"] = v
        elif key == "after":
            out["after"] = tuple(v)
        elif key != "page":
            out[key] = v
    return out


def _same(a, b) -> bool:
    return (a is not None and b is not None and len(a) == len(b)
            and all(x[0] == y[0] and abs(x[1] - y[1]) <= SCORE_ATOL
                    for x, y in zip(a, b)))


class Client:
    """The one closed-loop client. Every call waits for its answer; raised
    exceptions count as failed operations and the loop goes on.

    While `timed` is set, each operation records its wall time, and each
    read (a batch too) is followed by three floor jobs (trivial one-task
    Spark jobs), so the floor samples spread over the run like the load
    they scale."""

    def __init__(self, eng: Engine, tracer, res: Result):
        self.eng, self.tr, self.res = eng, tracer, res
        self.timed = False

    def _sample(self, name: str, wall: float) -> None:
        if self.timed:
            self.res.samples.setdefault(name, []).append(wall)

    def _floor(self) -> None:
        if self.timed:
            for _ in range(3):
                self._sample("floor", job_floor_s(self.eng.spark))

    def _guard(self, fn):
        self.res.attempted += 1
        try:
            return fn()
        except Exception:  # one failed op must not end the run: count it
            self.res.failed += 1
            traceback.print_exc()
            return None

    def _search(self, eng: Engine, spec: dict, sample: str | None, cold: bool):
        def run():
            t0 = time.perf_counter()
            with self.tr.request("request.search", cold=cold, timed=self.timed):
                with self.tr.span("engine.search"):
                    df = (eng or self._fresh_engine()).search(k=K, **_kw(spec))
                with self.tr.span("engine.search_collect"):
                    rows = df.collect()
            if sample:
                self._sample(sample, time.perf_counter() - t0)
            return [(r["doc_id"], r["score"]) for r in rows]
        return self._guard(run)

    def _fresh_engine(self) -> Engine:
        eng = Engine(self.eng.spark, self.eng.store.root, self.eng.cfg)
        if self.tr.enabled:
            self.tr.wrap_store(eng.store)
        return eng

    def search(self, spec: dict):
        """A warm single search on the workload's engine handle."""
        out = self._search(self.eng, spec, "search", cold=False)
        self._floor()
        return out

    def cold_search(self, spec: dict):
        """The first search through a new engine handle on the same index
        (empty per-handle snapshot caches), as every CLI search runs."""
        out = self._search(None, spec, "cold_search", cold=True)
        self._floor()
        return out

    def batch(self, specs: list[dict]):
        def run():
            t0 = time.perf_counter()
            with self.tr.request("request.batch", n=len(specs)):
                with self.tr.span("engine.searches"):
                    df = self.eng.searches([_strip(s) for s in specs], k=K)
                with self.tr.span("engine.searches_collect"):
                    rows = df.collect()
            self._sample("batch_per_query", (time.perf_counter() - t0) / len(specs))
            return _by_query(rows, len(specs))
        out = self._guard(run)
        self._floor()
        return out

    def commit(self, name: str, fn, spec: dict):
        """An index write, then the first search on the new snapshot (cold
        per-snapshot caches), which ends the write's ingest-to-searchable
        time. Write failures end the run (nothing after them is valid)."""
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.request(f"request.{name}", timed=self.timed):
                with self.tr.span(name):
                    out = fn()
        except Exception:
            self.res.failed += 1
            raise
        rows = self._search(self.eng, spec, None, cold=True)
        self._sample("visible", time.perf_counter() - t0)
        self._floor()
        return out, rows


def _strip(spec: dict) -> dict:
    return {k: v for k, v in spec.items() if k != "page"}


def _by_query(rows, n: int) -> list[list]:
    out = [[] for _ in range(n)]
    for r in rows:  # rows arrive in (query_id, score DESC, doc_id ASC) order
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def _oracle_rows(spark, corpus, spec: dict, k: int) -> list:
    """The brute-force top-k for an oracle-covered spec."""
    toks = spec["text"].split()
    kw = {}
    if spec.get("prefix"):
        kw["prefix_stems"] = [t[:-1] for t in toks if t.endswith("*")]
        kw["wildcards"] = [t for t in toks if "?" in t]
        toks = [t for t in toks if "*" not in t and "?" not in t]
    for key in ("mode", "exclude", "min_match", "boosts"):
        if key in spec:
            kw[key] = spec[key]
    page = spec.get("page", 1)
    rows = bruteforce_topk(spark, corpus, " ".join(toks), k=k * page, **kw).collect()
    return [(r["doc_id"], r["score"]) for r in rows][k * (page - 1):]


def _exhaustive(eng: Engine, specs: list[dict], version=None) -> list[list]:
    rows = eng.searches([_strip(s) for s in specs], k=K, prune=False,
                        version=version).collect()
    return _by_query(rows, len(specs))


def _load_inputs(ctx: Ctx, parts) -> tuple[dict, object, list[float]]:
    """Generate the corpus and write it as parquet three times (set-up
    counts it once, at the median); the workload reads the first copy."""
    walls = []
    for rep in range(3):
        t0 = time.perf_counter()
        pdf = inputs.make_corpus(ctx.seed, parts)
        inputs.write_corpus(pdf, os.path.join(ctx.work, f"input{rep}"))
        walls.append(time.perf_counter() - t0)
    path = os.path.join(ctx.work, "input0")
    return {name: inputs.load_part(ctx.spark, path, name) for name, _ in parts}, pdf, walls


def _resolve_pages(client: Client, specs: list[dict]) -> None:
    """Turn `page: 2` into the `after` cursor of page 1's last row."""
    for s in specs:
        if s.get("page", 1) > 1 and "after" not in s:
            first = client.search({k: v for k, v in s.items() if k != "page"})
            if first is None or len(first) < K:
                raise RuntimeError(f"page 1 of {s} has fewer than {K} rows")
            s["after"] = [first[-1][1], first[-1][0]]


def _text_bytes(pdf) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"]))


def _common(ctx: Ctx, res: Result, pdf, specs, load_walls) -> None:
    """Set-up samples, input hashes and the text sample the traced run's
    tokenize/encode timings use."""
    res.samples["setup_load_s"] = load_walls
    res.info["input_sha256"] = {"corpus": inputs.corpus_sha256(pdf),
                                "queries": inputs.specs_sha256(specs)}
    res.text_sample = list(pdf["text"][:2000])


def _parts(name: str, sz: dict) -> list[tuple[str, int]]:
    """The named corpus parts a workload generates: the base corpus, then
    (ingest_mixed) the append batches."""
    if name == "small_mixed_search":
        return [("base", sz["convs"])]
    return [("base", sz["convs"])] + [(f"a{j}", sz["append_convs"])
                                      for j in range(APPEND_PARTS)]


def _specs(name: str, seed: int, sz: dict) -> list[dict]:
    """A workload's 100-spec batch (small_mixed_search: its head is the
    single-search pool, one spec per clause family)."""
    qg = inputs.QueryGen(seed)
    if name == "small_mixed_search":
        pool = [qg.spec(k) for k in SMALL_POOL]
        return pool + qg.specs(SMALL_BATCH, sz["batch"] - len(pool))
    return qg.specs(INGEST_BATCH, sz["batch"])


def input_sha256(name: str, seed: int, size: str = "full") -> dict:
    """The input hashes a run of `name` records, computed without Spark."""
    sz = SIZES[size]
    return {"corpus": inputs.corpus_sha256(inputs.make_corpus(seed, _parts(name, sz))),
            "queries": inputs.specs_sha256(_specs(name, seed, sz))}


def _plain_terms(specs) -> list[list[str]]:
    return [[t for t in s["text"].split() if "*" not in t and "?" not in t]
            for s in specs]


def _start_timed(client: Client, res: Result) -> None:
    client.timed = True
    res.setup_end = time.perf_counter()


# ------------------------------------------------------------ workloads --

def small_mixed_search(ctx: Ctx) -> Result:
    """Reads over every clause kind on a small positional, fielded index.
    Its commits are deletes of docs outside every answer, so each read's
    expected answer is the same on every snapshot."""
    res = Result()
    tr, spark, sz = ctx.tracer, ctx.spark, ctx.sizes
    dfs, pdf, load_walls = _load_inputs(ctx, _parts("small_mixed_search", sz))
    batch = _specs("small_mixed_search", ctx.seed, sz)
    pool = batch[:len(SMALL_POOL)]
    _common(ctx, res, pdf, batch, load_walls)
    pick = np.random.default_rng([ctx.seed, 11])

    cfg = EngineConfig(index=IndexConfig(store_positions=True, field_cols=("role", "tool")))
    eng = Engine(spark, os.path.join(ctx.work, "index"), cfg)
    if tr.enabled:
        tr.wrap_store(eng.store)
    client = Client(eng, tr, res)

    # ---- set-up: cold build, then warm-up reads
    res.attempted += 1
    with tr.request("request.engine.build"):
        with tr.span("engine.build"):
            eng.build(dfs["base"])
    _resolve_pages(client, pool)
    want = _exhaustive(eng, batch)  # the expected answers, also a warm-up job
    for j in range(sz["warm"]):
        client.search(pool[j % len(pool)])
    res.values["segment_bytes"] = eng.store.table_bytes("segments")
    res.values["text_bytes"] = res.values["build_text_bytes"] = _text_bytes(pdf)
    answered = {d for rows in want for d, _ in rows}
    spare = np.setdiff1d(np.arange(len(pdf)), sorted(answered))

    # ---- timed: rounds of reads, then the delete commits (reads first,
    # so the tombstones the deletes leave do not slow the reads). Every
    # read walks the batch's specs in order, so each run's medians cover
    # many distinct queries.
    _start_timed(client, res)
    singles: list[tuple[int, list]] = []
    batches: list[list] = []
    deleted: list[int] = []
    dirs: list[int] = []
    spec_i = iter(range(len(batch)))
    rounds = ctx.rounds("small_mixed_search")
    for op in "sbscsc" * rounds + "d" * (2 * rounds):
        if op == "b":
            batches.append(client.batch(batch))
            continue
        i = next(spec_i)
        if op == "s":
            singles.append((i, client.search(batch[i])))
        elif op == "c":
            singles.append((i, client.cold_search(batch[i])))
        else:
            ids = sorted(int(x) for x in pick.choice(np.setdiff1d(spare, deleted),
                                                     sz["deletes"], replace=False))
            deleted += ids
            _, rows = client.commit("engine.delete", lambda ids=ids: eng.delete(ids), batch[i])
            singles.append((i, rows))
            dirs.append(len(eng.store.tables()["segments"]))
    client.timed = False
    res.values["segment_dirs"] = dirs

    # ---- correctness, outside every timed region (and outside peak memory)
    ctx.mem.pause()
    t_check = time.perf_counter()
    corpus = prepare(dfs["base"], id_col=None)
    with ThreadPoolExecutor(max_workers=4) as ex:
        oracle_f = {i: ex.submit(_oracle_rows, spark, corpus, spec, K)
                    for i, (kind, spec) in enumerate(zip(SMALL_POOL, pool))
                    if kind in ORACLE_KINDS}
        final_f = ex.submit(_exhaustive, eng, pool)
        got = {i: f.result() for i, f in oracle_f.items()}
        final = final_f.result()
    for i, rows in singles:
        if not _same(rows, want[i]):
            res.problems.append(f"single {batch[i]} != exhaustive")
    for b in batches:
        if b is None or not all(_same(b[i], want[i]) for i in range(len(batch))):
            res.problems.append("batch != exhaustive")
    for i, rows in enumerate(final):
        if not _same(rows, want[i]):
            res.problems.append(f"exhaustive after deletes differs for {pool[i]}")
    for i, rows in got.items():
        if not _same(rows, want[i]):
            res.problems.append(f"oracle mismatch for {pool[i]}")
    res.samples["oracle_check_s"] = [time.perf_counter() - t_check]
    res.eng, res.info["warm_spec"] = eng, pool[0]
    res.probe_queries = _plain_terms(batch[:20])
    return res


def ingest_mixed(ctx: Ctx) -> Result:
    """Appends and deletes with reads after every commit: each commit
    leaves the per-snapshot caches cold, and each append adds a delta
    directory that later reads merge."""
    res = Result()
    tr, spark, sz = ctx.tracer, ctx.spark, ctx.sizes
    dfs, pdf, load_walls = _load_inputs(ctx, _parts("ingest_mixed", sz))
    batch = _specs("ingest_mixed", ctx.seed, sz)
    _common(ctx, res, pdf, batch, load_walls)
    pick = np.random.default_rng([ctx.seed, 13])
    rounds = ctx.rounds("ingest_mixed")
    if rounds > APPEND_PARTS:
        raise ValueError(f"--seconds needs {rounds} append batches; {APPEND_PARTS} exist")

    eng = Engine(spark, os.path.join(ctx.work, "index"))
    if tr.enabled:
        tr.wrap_store(eng.store)
    client = Client(eng, tr, res)
    seen: list[tuple[int, int, list]] = []  # (snapshot version, spec index, rows)
    deleted: dict[int, int] = {}  # doc id -> first snapshot without it

    # ---- set-up: cold base build, warm-up reads
    res.attempted += 1
    with tr.request("request.engine.build"):
        with tr.span("engine.build"):
            eng.build(dfs["base"])
    base = pdf[pdf["part"] == "base"]
    v_build = eng.store.current_version()
    res.values["build_text_bytes"] = _text_bytes(base)
    want_build = _exhaustive(eng, batch, v_build)  # also the warm-up read

    # ---- timed: rounds of an append and a delete, each commit followed
    # by warm single searches, searches through a new engine handle and a
    # batch. Reads walk the batch's specs in order.
    _start_timed(client, res)
    dirs: list[int] = []
    spec_i = iter(range(len(batch)))

    def reads(v: int, ops: str) -> None:
        for op in ops:
            j = next(spec_i)
            seen.append((v, j, (client.search if op == "s" else client.cold_search)(batch[j])))

    for r in range(rounds):
        j = next(spec_i)
        out, rows = client.commit("incremental.append_build", lambda r=r: append_build(
            spark, eng.store, dfs[f"a{r}"], batch_id=f"a{r}"), batch[j])
        v = eng.store.current_version()
        seen.append((v, j, rows))
        reads(v, "scsc")
        seen += [(v, i, b) for i, b in enumerate(client.batch(batch) or [])]
        live = np.setdiff1d(np.arange(out["base_doc_id"] + out["n_new_docs"]), sorted(deleted))
        ids = {d for d, _ in (rows or [])[:3]} | {
            int(x) for x in pick.choice(live, sz["deletes"], replace=False)}
        j = next(spec_i)
        _, rows = client.commit("engine.delete", lambda ids=ids: eng.delete(sorted(ids)),
                                batch[j])
        v = eng.store.current_version()
        deleted.update((d, v) for d in ids)
        seen.append((v, j, rows))
        reads(v, "scs")
        seen += [(v, i, b) for i, b in enumerate(client.batch(batch) or [])]
        dirs.append(len(eng.store.tables()["segments"]))
    client.timed = False
    res.values["segment_dirs"] = dirs

    # ---- correctness, outside every timed region (and outside peak memory)
    ctx.mem.pause()
    t_check = time.perf_counter()
    read_at: dict[int, list[int]] = {}  # snapshot -> the specs read on it
    for v, j, _ in seen:
        read_at.setdefault(v, []).append(j)
    read_at = {v: sorted(set(js)) for v, js in read_at.items()}
    # the oracle on the base corpus, at the build snapshot
    corpus = prepare(dfs["base"], id_col=None)
    with ThreadPoolExecutor(max_workers=4) as ex:
        want_f = {v: ex.submit(_exhaustive, eng, [batch[j] for j in js], v)
                  for v, js in read_at.items()}
        oracle_f = {j: ex.submit(_oracle_rows, spark, corpus, batch[j], K)
                    for j in range(len(INGEST_BATCH))}
        want = {v: dict(zip(read_at[v], f.result())) for v, f in want_f.items()}
        got = {j: f.result() for j, f in oracle_f.items()}
    for v, j, rows in seen:
        if not _same(rows, want[v][j]):
            res.problems.append(f"v{v} spec {j} != exhaustive")
        if rows and any(deleted.get(d, v + 1) <= v for d, _ in rows):
            res.problems.append(f"v{v} spec {j}: a deleted doc was returned")
    for j, rows in got.items():
        if not _same(rows, want_build[j]):
            res.problems.append(f"oracle mismatch at the build snapshot for {batch[j]}")
    res.samples["oracle_check_s"] = [time.perf_counter() - t_check]
    indexed = pdf[pdf["part"].isin(["base"] + [f"a{r}" for r in range(rounds)])]
    res.values["segment_bytes"] = eng.store.table_bytes("segments")
    res.values["text_bytes"] = _text_bytes(indexed)
    res.eng, res.info["warm_spec"] = eng, batch[1]
    res.probe_queries = _plain_terms(batch[:20])
    return res


WORKLOADS = {"small_mixed_search": small_mixed_search, "ingest_mixed": ingest_mixed}
