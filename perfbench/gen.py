"""Seeded input generator for every workload.

Everything a workload feeds the engine comes from here and is a pure
function of the seed: the tables, the key draws, the spine, the ingest
batches, the time windows and the document corpus.  The generator also
keeps the bookkeeping the output checks compare against, so the checks
never ask the engine what the right answer is.

Shapes follow the TPC-H-like test tables the engine is developed on
(``customer`` has their 15k rows; ``orders`` and the spine are smaller);
the values are drawn here, so the benchmark needs no data files.
"""

from __future__ import annotations

import datetime as dt
from typing import Dict, List

import numpy as np
import pyarrow as pa

N_CUSTOMERS = 15_000
ORDERS_START = dt.datetime(1992, 1, 1)
ORDERS_END = dt.datetime(1998, 8, 2)
ZIPF_S = 1.1
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SPAN_S = int((ORDERS_END - ORDERS_START).total_seconds())


class Zipf:
    """Bounded Zipf draw over ``keys``: rank r has weight 1 / r**s, and
    the rank → key mapping is a seeded permutation so hot keys are
    spread over the key space."""

    def __init__(self, rng: np.random.Generator, keys: np.ndarray, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, len(keys) + 1) ** s
        self.p = w / w.sum()
        self.keys = rng.permutation(keys)
        self.rng = rng

    def draw(self, n: int) -> np.ndarray:
        return self.keys[self.rng.choice(len(self.keys), size=n, p=self.p)]

    def top_share(self, frac: float = 0.01) -> float:
        """Share of draws that land on the hottest ``frac`` of keys."""
        return float(self.p[: max(1, int(len(self.p) * frac))].sum())


def _ts(seconds: np.ndarray) -> np.ndarray:
    base = np.datetime64(ORDERS_START, "us")
    return base + seconds.astype("timedelta64[s]").astype("timedelta64[us]")


def customers(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    """Orders with Zipf-skewed customers.  ``(o_custkey, o_orderdate)``
    is unique, so it can serve as a record identity."""
    cust = Zipf(rng, np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)).draw(n)
    secs = rng.integers(0, _SPAN_S, n)
    _, first = np.unique(cust * _SPAN_S + secs, return_index=True)
    first.sort()
    cust, secs = cust[first], secs[first]
    m = len(cust)
    return pa.table({
        "o_orderkey": np.arange(1, m + 1, dtype=np.int64) * 4,
        "o_custkey": cust,
        "o_orderdate": _ts(secs),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, m), 2),
        "o_orderstatus": rng.choice(STATUSES, m),
        "o_orderpriority": rng.choice(PRIORITIES, m),
    })


# -- online_serving ------------------------------------------------------
class ServingTraffic:
    """Closed-loop request stream: ~85% single lookups, ~15% batch-100
    lookups, Zipf keys with ~5% absent keys, and a 500-row online upsert
    of the latest-event group every 50 reads.  Holds the latest row
    per key of every batch it handed out, as the serving reference."""

    ABSENT_SHARE = 0.05
    BATCH = 100
    UPSERT_ROWS = 500
    UPSERT_EVERY = 50

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.customers = customers(self.rng)
        keys = self.customers.column("c_custkey").to_numpy()
        # latest-event group: one row per customer with orders (2/3)
        self.event_keys = np.sort(self.rng.choice(keys, size=2 * len(keys) // 3, replace=False))
        n = len(self.event_keys)
        self.clock = 0
        self.events = pa.table({
            "c_custkey": self.event_keys,
            "last_ts": _ts(self.rng.integers(0, _SPAN_S, n)),
            "last_price": np.round(self.rng.uniform(850.0, 550_000.0, n), 2),
            "last_status": self.rng.choice(STATUSES, n),
        })
        self.zipf = Zipf(self.rng, keys)
        self.latest: Dict[int, Dict] = {}
        self._absorb(self.events)
        self.reads = 0
        self._since_upsert = 0
        self._block: List[str] = []
        self.upserts = 0
        self.lookups = 0
        self.absent = 0

    def _absorb(self, batch: pa.Table) -> None:
        for rec in batch.to_pylist():
            self.latest[rec["c_custkey"]] = rec

    def _keys(self, n: int) -> List[int]:
        ks = self.zipf.draw(n)
        absent = self.rng.random(n) < self.ABSENT_SHARE
        ks = np.where(absent, N_CUSTOMERS + 1 + self.rng.integers(0, N_CUSTOMERS, n), ks)
        self.lookups += n
        self.absent += int(absent.sum())
        return [int(k) for k in ks]

    def next_op(self):
        """('single', [key]) | ('batch', keys) | ('upsert', table).

        Reads come in shuffled blocks of 20 with exactly 3 batch
        lookups, so every run sees the same 85/15 mix."""
        if self._since_upsert == self.UPSERT_EVERY:
            self._since_upsert = 0
            return "upsert", self.upsert_batch()
        if not self._block:
            self._block = list(self.rng.permutation(["single"] * 17 + ["batch"] * 3))
        self.reads += 1
        self._since_upsert += 1
        if self._block.pop() == "single":
            return "single", self._keys(1)
        return "batch", self._keys(self.BATCH)

    def upsert_batch(self) -> pa.Table:
        """500 distinct keys, each with an event time after every event
        so far, so the newest event time is also the newest write."""
        self.upserts += 1
        keys = np.unique(self.zipf.draw(self.UPSERT_ROWS * 2))
        keys = self.rng.permutation(keys)[: self.UPSERT_ROWS]
        self.clock += 1
        secs = np.full(len(keys), _SPAN_S + self.clock)
        batch = pa.table({
            "c_custkey": keys.astype(np.int64),
            "last_ts": _ts(secs),
            "last_price": np.round(self.rng.uniform(850.0, 550_000.0, len(keys)), 2),
            "last_status": self.rng.choice(STATUSES, len(keys)),
        })
        self._absorb(batch)
        return batch


# -- offline_training ----------------------------------------------------
def spine(rng: np.random.Generator, n: int) -> pa.Table:
    """Label events: Zipf customers, timestamps inside the orders date
    range, unique ``(o_custkey, ts)``."""
    cust = Zipf(rng, np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)).draw(n)
    secs = rng.integers(0, _SPAN_S, n)
    _, first = np.unique(cust * _SPAN_S + secs, return_index=True)
    first.sort()
    return pa.table({
        "o_custkey": cust[first],
        "ts": _ts(secs[first]),
        "label": rng.integers(0, 2, len(first)).astype(np.int32),
    })


def window(rng: np.random.Generator, days: int = 30):
    """A seeded ``days``-long window inside the orders date range."""
    start = ORDERS_START + dt.timedelta(seconds=int(rng.integers(0, _SPAN_S - days * 86400)))
    return start, start + dt.timedelta(days=days)


# -- ingest_curation: upsert commits -------------------------------------
class IngestStream:
    """Upsert commits into an ``orders`` group: ~70% of each batch
    updates existing keys, ~30% adds new keys.  Keeps the live state per
    commit, so ``as_of`` and ``read_changes`` have a reference."""

    BATCH = 1_500
    UPDATE_SHARE = 0.7

    def __init__(self, seed: int, initial: int = 15_000) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.next_key = 1
        self.state: Dict[int, tuple] = {}
        self.history: List[Dict] = []  # per commit: keys written + summary
        self.initial = self._batch(initial, 0)

    def _batch(self, n: int, n_update: int) -> pa.Table:
        old = np.array(sorted(self.state), dtype=np.int64)
        upd = self.rng.choice(old, size=n_update, replace=False) if n_update else old[:0]
        new = np.arange(self.next_key, self.next_key + n - n_update, dtype=np.int64) * 4
        self.next_key += n - n_update
        keys = np.concatenate([upd, new])
        dates = np.array([self.state[k][0] if k in self.state else None for k in upd.tolist()], dtype="datetime64[us]")
        dates = np.concatenate([dates, _ts(self.rng.integers(0, _SPAN_S, len(new)))])
        cents = self.rng.integers(85_000, 55_000_000, len(keys))
        batch = pa.table({
            "o_orderkey": keys,
            "o_custkey": self.rng.integers(1, N_CUSTOMERS + 1, len(keys)),
            "o_orderdate": dates,
            "o_totalprice": cents / 100.0,
            "o_orderstatus": self.rng.choice(STATUSES, len(keys)),
        })
        for k, d, c in zip(keys.tolist(), dates.tolist(), cents.tolist()):
            self.state[k] = (d, c)
        return batch

    def next_batch(self) -> pa.Table:
        return self._batch(self.BATCH, int(self.BATCH * self.UPDATE_SHARE))

    def record_commit(self, commit_time: int, batch: pa.Table) -> None:
        keys = batch.column("o_orderkey").to_pylist()
        self.history.append({
            "commit_time": commit_time,
            "keys": keys,
            "rows": len(self.state),
            "cents": sum(c for _, c in self.state.values()),
        })

    def changes(self, i: int, j: int):
        """Distinct keys written in commits ``(i, j]`` and the cents sum
        of their state as of commit ``j``.  Needs the state at ``j``,
        so it is only called with ``j`` the newest commit."""
        keys = set()
        for h in self.history[i + 1: j + 1]:
            keys.update(h["keys"])
        return len(keys), sum(self.state[k][1] for k in keys)


# -- ingest_curation: documents -------------------------------------------
class Corpus:
    """Documents over a large random vocabulary, so unrelated documents
    share almost no character shingles.  A share of documents are
    near-duplicate copies of an earlier original with one to three words
    replaced, so every copy stays close to its original and to the other
    copies of it; a share are too short for the quality gate."""

    VOCAB = 40_000
    DUP_SHARE = 0.2
    SHORT_SHARE = 0.08
    GATE_CHARS = 100

    def __init__(self, seed: int, n_docs: int) -> None:
        rng = np.random.default_rng([seed, 4])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(4, 10, self.VOCAB)
        vocab = ["".join(rng.choice(letters, n)) for n in lens]
        self.texts: List[str] = []
        self.origin: List[int] = []  # index of the original; self for originals
        originals: List[int] = []
        for i in range(n_docs):
            if originals and rng.random() < self.DUP_SHARE:
                src = originals[int(rng.integers(0, len(originals)))]
                words = self.texts[src].split(" ")
                for _ in range(int(rng.integers(1, 4))):
                    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, self.VOCAB))]
                self.texts.append(" ".join(words))
                self.origin.append(src)
            else:
                n_words = int(rng.integers(3, 12)) if rng.random() < self.SHORT_SHARE else int(rng.integers(40, 80))
                self.texts.append(" ".join(vocab[j] for j in rng.integers(0, self.VOCAB, n_words)))
                self.origin.append(i)
                originals.append(i)
        self.doc_ids = np.arange(len(self.texts), dtype=np.int64) * 7 + 1

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": self.doc_ids,
            "text": self.texts,
            "lang": ["en"] * len(self.texts),
            "source": ["synthetic"] * len(self.texts),
        })

    def is_copy(self, doc_id: int) -> bool:
        i = (doc_id - 1) // 7
        return self.origin[i] != i

    def text_of(self, doc_id: int) -> str:
        return self.texts[(doc_id - 1) // 7]


def shingles(text: str, n: int = 5) -> set:
    """The engine's shingle definition (lowercased, whitespace
    collapsed, character ``n``-grams), computed independently."""
    norm = " ".join(text.lower().split())
    return {norm[i:i + n] for i in range(max(len(norm) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)
