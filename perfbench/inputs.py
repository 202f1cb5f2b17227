"""Seeded benchmark inputs: the transcript corpus (written once as parquet,
which is all the engine is handed) and the query specs.

Every input is a pure function of the workload's seed, and its SHA-256 is
recorded with each run. `input_hashes.json` pins the hashes of a fixed
reference input and of the seeds the benchmark was validated on, so an
edit to `hora_spark/datagen.py` (or to the query generator below) fails the
benchmark instead of silently changing a workload.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hora_spark import datagen

# Zipf-rank bands of datagen's vocabulary (rank = position in vocab()):
# head terms have the longest postings, tail terms a handful of docs
BANDS = {"head": (0, 30), "mid": (30, 1500), "tail": (1500, 6000)}
HASHES_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "input_hashes.json")


def make_corpus(seed: int, parts: list[tuple[str, int]]):
    """sum(n) conversations from datagen's generator, split by
    conversation index into consecutive named parts (the base corpus, then
    each append batch), as pandas in (part, conv_id, turn_idx) order."""
    total = sum(n for _, n in parts)
    pdf = datagen._conv_pdf(np.arange(total), seed, datagen.vocab(),
                            datagen._zipf_cdf(datagen.VOCAB_SIZE, datagen.ZIPF_S))
    conv = pdf["conv_id"].str[4:].astype(int).to_numpy()
    bounds = np.cumsum([n for _, n in parts])
    pdf["part"] = np.array([name for name, _ in parts])[np.searchsorted(bounds, conv, side="right")]
    # UTC-adjusted, so Spark reads `ts` as the timestamp type datagen declares
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pdf.sort_values(["part", "conv_id", "turn_idx"], kind="mergesort",
                           ignore_index=True)


def write_corpus(pdf, path: str) -> None:
    """One parquet table partitioned by part: what the engine is handed."""
    pq.write_to_dataset(pa.Table.from_pandas(pdf, preserve_index=False), path,
                        partition_cols=["part"])


def load_part(spark, path: str, part: str):
    return spark.read.parquet(f"{path}/part={part}")


def corpus_sha256(pdf) -> str:
    h = hashlib.sha256()
    for row in pdf[["part", "conv_id", "turn_idx", "role", "text", "tool", "ts"]].itertuples(index=False):
        h.update(json.dumps([str(v) for v in row]).encode())
    return h.hexdigest()


def specs_sha256(specs) -> str:
    return hashlib.sha256(json.dumps(specs, sort_keys=True).encode()).hexdigest()


class QueryGen:
    """Seeded query specs in the dict form `Engine.searches` accepts, plus
    `page` (resolved into an `after` cursor at run time, from page 1)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.voc = datagen.vocab()

    def term(self, band: str) -> str:
        lo, hi = BANDS[band]
        return str(self.voc[int(self.rng.integers(lo, hi))])

    def wterm(self) -> str:
        # a generated 'wNNNNN' word of the mid band (ranks past the
        # ~100 English head words), for prefix and wildcard patterns
        return str(self.voc[int(self.rng.integers(200, 1500))])

    def spec(self, kind: str) -> dict:
        t = self.term
        if kind == "any":
            return {"text": f"{t('head')} {t('mid')} {t('tail')}"}
        if kind == "all":
            return {"text": f"{t('head')} {t('mid')}", "mode": "all"}
        if kind == "phrase":
            return {"text": f"{t('head')} {t('head')}", "mode": "phrase"}
        if kind == "near":
            return {"text": f"{t('head')} {t('mid')}", "mode": "near",
                    "near_window": 5}
        if kind == "fielded":
            role = datagen.ROLES[int(self.rng.integers(0, len(datagen.ROLES)))]
            return {"text": f"{t('mid')} {t('mid')} {t('head')}",
                    "fields": {"role": role}}
        if kind == "exclude_min":
            return {"text": f"{t('mid')} {t('mid')} {t('head')} {t('tail')}",
                    "exclude": t("head"), "min_match": 2}
        if kind == "prefix_wild":
            w = self.wterm()
            return {"text": f"{self.wterm()[:-1]}* {w[:3]}?{w[4:]} {t('mid')}",
                    "prefix": True}
        if kind == "boost":
            b = t("mid")
            return {"text": f"{t('head')} {b} {t('mid')}", "boosts": {b: 2.5}}
        if kind == "boost_page":
            return {**self.spec("boost"), "page": 2}
        raise ValueError(kind)

    def specs(self, kinds: list[str], n: int) -> list[dict]:
        return [self.spec(kinds[i % len(kinds)]) for i in range(n)]


_ALL_KINDS = ("any", "all", "phrase", "near", "fielded", "exclude_min",
              "prefix_wild", "boost", "boost_page")


def reference_sha256() -> dict:
    """Hashes of a fixed tiny input (seed 0): a check that the generators
    still produce what the benchmark was validated against."""
    pdf = make_corpus(0, [("ref", 8)])
    q = QueryGen(0)
    return {"corpus": corpus_sha256(pdf),
            "queries": specs_sha256(q.specs(sorted(_ALL_KINDS), 18))}


def check_pinned(key: str, got: dict, reference: dict) -> list[str]:
    """Compare against input_hashes.json; returns the mismatches."""
    with open(HASHES_FILE) as f:
        pinned = json.load(f)
    bad = [f"reference {k}: {reference[k]} != pinned {v}"
           for k, v in pinned["reference"].items() if reference.get(k) != v]
    want = pinned["seeds"].get(key)
    if want is not None and want != got:
        bad.append(f"{key}: {got} != pinned {want}")
    return bad


def pin(workloads: list[str], seeds=range(1, 11)) -> None:
    """Rewrite input_hashes.json: the reference hashes and the full-size
    hashes of `seeds` for every workload."""
    from perfbench.workloads import input_sha256

    pinned = {"reference": reference_sha256(),
              "seeds": {f"{w}/full/{s}": input_sha256(w, s) for w in workloads for s in seeds}}
    with open(HASHES_FILE, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
