"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine only ever sees the
parquet files these functions write. The same ``seed`` always yields
byte-identical inputs.

``scale`` is the benchmark's scale factor: 0.1 is the measured size
(100k events, 2,500-document crawl batches), 0.001 the smoke size the
benchmark's own tests use.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EVENTS_SCHEMA_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
LOG_SCHEMA_DDL = EVENTS_SCHEMA_DDL + ", deliver_at TIMESTAMP, tombstone BOOLEAN"
DOCS_SCHEMA_DDL = "doc_id BIGINT, text STRING"

_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000
# functions.text.STOPWORDS: a gate-passing document needs two of them
_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]


def _ts(us: np.ndarray) -> pa.Array:
    """Microsecond UTC timestamps; 0 stands for null."""
    return pa.array(us, type=pa.timestamp("us", tz="UTC"), mask=us == 0)


def events(seed: int, n: int) -> dict[str, np.ndarray]:
    """An sf-style ``events`` table: ``n`` rows over 30 days, 1,500 users
    (``n``/67 at small scales), five event types, exponential values."""
    rng = np.random.default_rng(seed)
    users = max(15, min(1500, n // 67))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n)),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events_table(cols: dict[str, np.ndarray]) -> pa.Table:
    out = {k: (_ts(v) if k in ("ts", "deliver_at") else v) for k, v in cols.items()}
    return pa.table(out)


def write_slices(cols: dict[str, np.ndarray], out_dir: str, n_slices: int) -> list[str]:
    """Split a column dict into ``n_slices`` contiguous row ranges, one
    single-file parquet directory each; returns the directories."""
    n = len(cols["event_id"])
    bounds = np.linspace(0, n, n_slices + 1).astype(int)
    dirs = []
    for j in range(n_slices):
        d = os.path.join(out_dir, f"slice={j}")
        os.makedirs(d, exist_ok=True)
        part = {k: v[bounds[j] : bounds[j + 1]] for k, v in cols.items()}
        pq.write_table(_events_table(part), os.path.join(d, "part-0.parquet"))
        dirs.append(d)
    return dirs


def log_events(seed: int, n: int) -> dict[str, np.ndarray]:
    """``events`` plus the columns ``produce`` does not mint: ~5% of rows
    carry a ``deliver_at`` 1 min..48 h past their ``ts`` (delayed
    delivery), ~2% are tombstones, and ~3% are producer retries — a
    later copy of an earlier row of the same user with the same
    ``event_id`` (so it routes to the same partition at a higher
    offset)."""
    cols = events(seed, n)
    rng = np.random.default_rng([seed, 1])
    retry = np.flatnonzero(rng.random(n) < 0.03)
    retry = retry[retry > 0]
    src = (rng.random(len(retry)) * retry).astype(np.int64)
    for k in ("event_id", "user_id", "event_type", "value", "props"):
        cols[k][retry] = cols[k][src]
    delayed = rng.random(n) < 0.05
    delay = rng.integers(60_000_000, 2 * _DAY_US, n)
    cols["deliver_at"] = np.where(delayed, cols["ts"] + delay, 0)
    cols["tombstone"] = rng.random(n) < 0.02
    return cols


@dataclass
class CrawlBatch:
    """One crawl batch and what the curation pipeline must make of it."""

    doc_ids: np.ndarray
    texts: list[str]
    survivors: set[int] = field(default_factory=set)  # fresh, gate-passing
    planted: set[int] = field(default_factory=set)  # near-copies (must drop)
    gate_fail: set[int] = field(default_factory=set)  # too short for gopher


class Crawl:
    """Seeded crawl: a word vocabulary, one store-seeding batch of
    ``seed_docs`` documents and ``n_pool`` op batches of ``batch_docs``.

    An op batch holds 80% fresh documents, 10% too short to pass the
    gopher gate, 6% light edits (one word replaced) of documents
    in the seeding batch, and 4% light edits of earlier documents of
    the same batch. Fresh documents are word soup over a 4,000-word
    vocabulary, so no two share enough 3-word shingles to meet a 0.7
    Jaccard threshold; an edited copy keeps ~0.9 or more."""

    def __init__(self, seed: int, batch_docs: int, seed_docs: int, n_pool: int = 2):
        self.rng = np.random.default_rng([seed, 2])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = self.rng.integers(3, 9, 4000)
        self.vocab = np.array(
            ["".join(self.rng.choice(letters, L)) for L in lens], dtype=object
        )
        self._next_id = 0
        self.seed_batch = self._batch(seed_docs, plant=False)
        self.pool = [self._batch(batch_docs, plant=True) for _ in range(n_pool)]

    def _words(self, n: int) -> list[str]:
        w = list(self.vocab[self.rng.integers(0, len(self.vocab), n)])
        # sprinkle stopwords, two of them distinct, so that a long enough
        # document passes the gopher stopword rule
        stops = self.rng.integers(0, len(_STOPWORDS), max(2, n // 12))
        stops[1] = (stops[0] + self.rng.integers(1, len(_STOPWORDS))) % len(_STOPWORDS)
        for pos, s in zip(self.rng.choice(n, size=len(stops), replace=False), stops):
            w[pos] = _STOPWORDS[s]
        return w

    def _edit(self, text: str) -> str:
        """Replace one word: at 60+ words the copy keeps a 3-shingle
        Jaccard of ~0.9 with its source, 4+ standard errors of the
        64-permutation MinHash estimate above the 0.7 threshold."""
        w = text.split(" ")
        w[int(self.rng.integers(0, len(w)))] = self.vocab[self.rng.integers(0, len(self.vocab))]
        return " ".join(w)

    def _batch(self, n: int, plant: bool) -> CrawlBatch:
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        self._next_id += n
        b = CrawlBatch(ids, [])
        kind = self.rng.random(n) if plant else np.ones(n)
        for i, did in enumerate(ids):
            did = int(did)
            if kind[i] < 0.10:
                b.texts.append(" ".join(self._words(int(self.rng.integers(12, 40)))))
                b.gate_fail.add(did)
            elif kind[i] < 0.16:
                seed = self.seed_batch.texts
                src = seed[int(self.rng.integers(0, len(seed)))]
                b.texts.append(self._edit(src))
                b.planted.add(did)
            elif kind[i] < 0.20 and b.survivors:
                srcs = sorted(b.survivors)
                src = srcs[int(self.rng.integers(0, len(srcs)))]
                b.texts.append(self._edit(b.texts[src - int(ids[0])]))
                b.planted.add(did)
            else:
                b.texts.append(" ".join(self._words(int(self.rng.integers(60, 140)))))
                b.survivors.add(did)
        return b


def write_docs(batch: CrawlBatch, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    t = pa.table({"doc_id": batch.doc_ids, "text": pa.array(batch.texts, pa.string())})
    pq.write_table(t, os.path.join(out_dir, "part-0.parquet"))
    return out_dir
