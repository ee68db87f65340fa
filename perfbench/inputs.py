"""Seeded input generators owned by the benchmark.

Everything a workload feeds the engine is generated here with numpy from
the ``--seed`` argument, so a change to ``gensor_spark.sources.synth`` (or
any other program module) cannot shift a workload. Each generator returns
plain numpy data; ``write_docs`` puts it on disk as parquet with pyarrow,
which the engine then reads like any other input.

Time model: every series starts at ``EPOCH0_US`` and ticks every
``TICK_S`` seconds (the affine layout ``TierPipeline.run`` expects).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
TICK_S = 10
VOCAB = 50_000
N_SOURCES = 8
ZIPF_POWER = 1.6

# one independent numpy stream per input family, so adding a family never
# changes the numbers another family draws for the same seed
STREAM_DOCS = 1
STREAM_READS = 3


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


@dataclass
class Docs:
    """Regular token series: one row per (doc_id, source)."""

    doc_id: np.ndarray  # object (str)
    source: np.ndarray  # object (str)
    tokens: list[np.ndarray]  # int32 per series, tick i at EPOCH0 + i*TICK_S

    @property
    def points(self) -> int:
        return int(sum(t.size for t in self.tokens))

    def checksum(self) -> str:
        h = hashlib.sha256()
        for d, s, t in zip(self.doc_id, self.source, self.tokens):
            h.update(f"{d}|{s}|{t.size}|".encode())
            h.update(np.ascontiguousarray(t, dtype="<i4").tobytes())
        return h.hexdigest()[:16]

    def subset(self, idx) -> "Docs":
        return Docs(self.doc_id[idx], self.source[idx],
                    [self.tokens[i] for i in idx])


def gen_docs(seed: int, n_series: int, min_ticks: int, max_ticks: int,
             hot_fraction: float, hot_factor: int, prefix: str) -> Docs:
    """Multi-day regular series with zipf-distributed sources.

    Lengths are stratified: series i of a seeded permutation draws its
    length uniformly from the i-th of ``n_series`` equal slices of
    ``[min_ticks, max_ticks]``. Exactly ``round(hot_fraction * n_series)``
    series are then made hot: ``hot_factor`` times the mean length. Both
    keep the total work of a run nearly independent of the seed (low
    run-to-run spread) while which series is hot, and every value, still
    comes from the seed.
    """
    rng = rng_for(seed, STREAM_DOCS)
    strata = (rng.permutation(n_series) + rng.random(n_series)) / n_series
    lens = (min_ticks + strata * (max_ticks - min_ticks)).astype(np.int64)
    n_hot = int(round(hot_fraction * n_series))
    hot = rng.choice(n_series, size=n_hot, replace=False)
    lens[hot] = hot_factor * (min_ticks + max_ticks) // 2
    ranks = np.arange(1, N_SOURCES + 1, dtype=np.float64)
    p = ranks ** -ZIPF_POWER
    src = rng.choice(N_SOURCES, size=n_series, p=p / p.sum())
    tokens = [rng.integers(0, VOCAB, size=int(n), dtype=np.int32)
              for n in lens]
    doc_id = np.array([f"{prefix}{i:05d}" for i in range(n_series)],
                      dtype=object)
    source = np.array([f"src_{s:02d}" for s in src], dtype=object)
    return Docs(doc_id, source, tokens)


def write_docs(docs: Docs, path: str) -> None:
    """docs(doc_id string, tokens array<int>, n_tok int, source string)."""
    lens = np.fromiter((t.size for t in docs.tokens), dtype=np.int32,
                       count=len(docs.tokens))
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    values = pa.array(np.concatenate(docs.tokens).astype(np.int32))
    table = pa.table({
        "doc_id": pa.array(list(docs.doc_id), pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), values),
        "n_tok": pa.array(lens),
        "source": pa.array(list(docs.source), pa.string()),
    })
    pq.write_table(table, path)


#: dashboard zoom levels; with ``max_points=5`` the router picks 1m, 1h, 1d
READ_SPANS = (("1h", 3600, 60), ("12h", 43_200, 3600), ("5D", 432_000, 86_400))
READ_MAX_POINTS = 5


def gen_refresh(rng: np.random.Generator, docs: Docs, pool,
                k: int) -> tuple[list[int], list[tuple[int, int]]]:
    """One dashboard refresh: k series from ``pool`` and one span per zoom
    level, as (start, end) offsets in seconds from EPOCH0. Each start is
    snapped to the grain the router will pick and keeps the span inside
    every chosen series' extent where the span fits (all series start at
    EPOCH0, so the shortest one bounds it); a span longer than the data
    starts at EPOCH0."""
    picks = sorted(int(x) for x in rng.choice(pool, size=k, replace=False))
    extent_s = min(docs.tokens[j].size for j in picks) * TICK_S
    spans = []
    for _, span_s, grain_s in READ_SPANS:
        slots = max(1, (extent_s - span_s) // grain_s + 1)
        start_s = int(rng.integers(0, slots)) * grain_s
        spans.append((start_s, start_s + span_s))
    return picks, spans
