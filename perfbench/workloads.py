"""The three workloads.  Each is a single-client closed loop that drives
the engine only through its public API.

A workload object is built once per run.  ``setup(root)`` builds the
feature store from nothing under ``root`` (the run calls it several
times and keeps the last), ``warmup()`` runs operations whose times are
not kept, and ``step()`` runs the next operations of the closed loop,
times them, and checks their outputs.  An operation that raises or
whose check fails counts as failed, warm-up operations included.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from typing import Dict, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import gen

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.functions.builtin_transformations import (
    min_max_scaler,
    standard_scaler,
)
from feature_store_api_spark.online.store import OnlineStore
from feature_store_api_spark.operators import dedup


def du(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path) for f in files)


def space_ratio(locations: List[str], frames, scratch: str) -> float:
    """Bytes under ``locations`` over the bytes of one fresh parquet
    write of ``frames`` (their live contents) under ``scratch``."""
    fresh = 0
    for i, df in enumerate(frames):
        out = os.path.join(scratch, f"_fresh_snapshot{i}")
        df.write.mode("overwrite").parquet(out)
        fresh += du(out)
    return sum(du(loc) for loc in locations) / fresh


def tail_min(q: float) -> int:
    """Samples a run needs so that ten lie beyond its ``q``-th percentile."""
    return math.ceil(1000.0 / (100.0 - q))


class Workload:
    name = ""
    # the timed kinds behind op_p50_ms, op2_p50_ms and op3_p50_ms
    KINDS = ("", "", "")
    # workload-specific figures: (name, kind, q, unit); q is 50 for the
    # median, else a tail percentile that needs ten samples beyond it
    # (see ``tail_min``)
    NAMED = []
    # (name, unit, kinds): items of ``kinds`` per second of their time,
    # the end-to-end ``items_per_s``
    THROUGHPUT = ("", "", ())
    # kinds the closed loop must have timed before it may stop
    REQUIRED = ()
    # how often a required kind must have been timed, if more than once
    MIN_SAMPLES: Dict[str, int] = {}

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = None  # set by a traced run around traced steps
        self.samples: Dict[str, List[float]] = defaultdict(list)
        self.items: Dict[str, int] = defaultdict(int)
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.op_id = 0

    def df(self, table: pa.Table):
        return self.spark.createDataFrame(table.to_pandas())

    # -- one timed, checked operation ----------------------------------
    def timed(self, kind: str, fn, check, items: int = 0):
        """Run ``fn`` as operation ``kind``; ``check(result)`` returns an
        error string or None.  An exception or a failed check counts the
        operation as failed, and neither its time nor its ``items`` are
        kept."""
        self.op_id += 1
        if self.tracer is not None:
            self.tracer.begin_op(self.op_id, kind)
        t0 = time.perf_counter()
        err = None
        out = None
        try:
            out = fn()
        except Exception as exc:  # a failing operation is a result, not a crash
            err = f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.end_op()
            self.tracer.spark_ops[self.op_id]["seconds"] = dt
        self.attempted += 1
        if err is None:
            err = check(out)
        if err is not None:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{kind}: {err}"[:300])
            return None
        self.samples[kind].append(dt)
        self.items[kind] += items
        return out

    def force(self, df, check_expr=None):
        """Materialize every column of ``df`` in one job: a count, an
        XOR of a hash over all columns (so no column can be pruned) and
        an optional check aggregate, returned as a tuple."""
        aggs = [F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))]
        if check_expr is not None:
            aggs.append(F.sum(check_expr.cast("long")))
        forced = df.select(*aggs)
        row = self.action(lambda: forced.collect()[0])
        self.note(forced)
        return tuple(row)

    def action(self, fn):
        """Run one Spark action the benchmark itself starts (forcing an
        output); a traced run records it as a ``spark.action`` span."""
        if self.tracer is None:
            return fn()
        with self.tracer.span("spark.action"):
            return fn()

    def note(self, df) -> None:
        """Let a traced run read the Catalyst phases of an action the
        benchmark ran on ``df``."""
        if self.tracer is not None:
            self.tracer.note_catalyst(df)

    def inputs(self) -> Dict:
        return {}

    def extra(self) -> Dict:
        """``stored_bytes_per_live_byte`` of the stores the workload
        writes, measured after the loop, outside the timed operations."""
        raise NotImplementedError

    def layer_counts(self) -> Dict:
        """Per-layer counts a traced run reads from outside the engine."""
        return {}

    def min_samples(self, kind: str) -> int:
        """The samples of ``kind`` a run needs: its MIN_SAMPLES entry, and
        enough for every tail percentile NAMED over it."""
        tails = [tail_min(q) for _, k, q, _ in self.NAMED if k == kind and q != 50]
        return max([self.MIN_SAMPLES.get(kind, 1)] + tails)

    def satisfied(self, kinds=None) -> bool:
        """Whether each of ``kinds`` (by default every required kind) has
        its minimum sample count."""
        return all(len(self.samples.get(k, ())) >= self.min_samples(k)
                   for k in kinds or self.REQUIRED or self.KINDS)

    def warmup(self) -> None:
        """One step whose times are not kept."""
        self.step()
        self.reset()

    def reset(self) -> None:
        """Forget the times warm-up operations recorded."""
        self.samples.clear()
        self.items.clear()

    def throughputs(self):
        """[(name, unit, items per second of busy time, samples)]; the
        first is the end-to-end ``items_per_s``."""
        name, unit, kinds = self.THROUGHPUT
        busy = sum(sum(self.samples.get(k, [])) for k in kinds)
        if not busy:
            return []
        return [(name, unit, sum(self.items[k] for k in kinds) / busy,
                 sum(len(self.samples.get(k, [])) for k in kinds))]


# ---------------------------------------------------------------------------
class OnlineServing(Workload):
    """Live serving (pyarrow path) of a view over ``customer`` and a
    latest-event group, with one statistics-bound transformation, under
    interleaved online upserts."""

    name = "online_serving"
    KINDS = ("single", "batch100", "upsert")
    REQUIRED = KINDS + ("upsert_compacting",)
    MIN_SAMPLES = {"upsert": 3}
    WARMUP_UPSERTS = 8
    NAMED = [
        ("serve_single_p50_ms", "single", 50, "ms"),
        ("serve_single_p98_ms", "single", 98, "ms"),
        ("serve_batch100_p50_ms", "batch100", 50, "ms"),
        ("serve_batch100_p90_ms", "batch100", 90, "ms"),
        ("online_upsert_p50_ms", "upsert", 50, "ms"),
        ("online_upsert_compacting_p50_ms", "upsert_compacting", 50, "ms"),
    ]
    THROUGHPUT = ("serve_vectors_per_s", "vectors/s", ("single", "batch100"))

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.traffic = gen.ServingTraffic(seed)
        acct = pc.min_max(self.traffic.customers.column("c_acctbal"))
        self.lo, self.hi = acct["min"].as_py(), acct["max"].as_py()
        self.cust = {r["c_custkey"]: r for r in self.traffic.customers.to_pylist()}
        self.max_delta_files = 0

    def setup(self, root: str) -> None:
        spark = self.spark
        fs = FeatureStore(root=root)
        cust = fs.create_feature_group("customer", primary_key=["c_custkey"], online_enabled=True)
        cust.insert(self.df(self.traffic.customers))
        events = fs.create_feature_group(
            "last_order", primary_key=["c_custkey"], event_time="last_ts", online_enabled=True
        )
        events.insert(self.df(self.traffic.events))
        q = cust.select(["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"]).join(
            events.select(["last_ts", "last_price", "last_status"]), on=["c_custkey"], prefix="lo_"
        )
        fv = fs.create_feature_view("serving", q, transformation_functions=[min_max_scaler("c_acctbal")])
        fv.init_serving(spark, pin_snapshots=False)
        self.root, self.events, self.fv = root, events, fv
        self.delta_dir = os.path.join(events.location, "online", "delta")

    def expected(self, key: int) -> Optional[Dict]:
        c = self.cust.get(key)
        if c is None:
            return None
        out = {
            "c_custkey": key,
            "c_nationkey": c["c_nationkey"],
            "c_mktsegment": c["c_mktsegment"],
            "min_max_scaler_c_acctbal": (c["c_acctbal"] - self.lo) / (self.hi - self.lo),
        }
        ev = self.traffic.latest.get(key)
        for f in ("last_ts", "last_price", "last_status"):
            out["lo_" + f] = None if ev is None else ev[f]
        return out

    @staticmethod
    def _same(got, want) -> bool:
        if want is None:
            return got is None or (isinstance(got, float) and math.isnan(got)) or str(got) == "NaT"
        if isinstance(want, float):
            return isinstance(got, (float, int)) and abs(got - want) <= 1e-9 * max(1.0, abs(want))
        return got == want

    def check_vectors(self, keys: List[int], vecs) -> Optional[str]:
        if len(vecs) != len(keys):
            return f"{len(vecs)} vectors for {len(keys)} keys"
        for k, v in zip(keys, vecs):
            want = self.expected(k)
            if want is None or v is None:
                if want is not None or v is not None:
                    return f"key {k}: got {v!r}, want {want!r}"
                continue
            for col, w in want.items():
                if not self._same(v.get(col), w):
                    return f"key {k} {col}: got {v.get(col)!r}, want {w!r}"
        return None

    def step(self) -> None:
        kind, arg = self.traffic.next_op()
        spark, fv = self.spark, self.fv
        if kind == "single":
            key = arg[0]
            self.timed("single", lambda: fv.get_feature_vector(spark, {"c_custkey": key}),
                       lambda v: self.check_vectors([key], [v]), items=1)
        elif kind == "batch":
            entries = [{"c_custkey": k} for k in arg]
            self.timed("batch100", lambda: fv.get_feature_vectors(spark, entries),
                       lambda vs: self.check_vectors(arg, vs), items=len(arg))
        else:
            self.upsert(arg)

    def upsert(self, batch: pa.Table) -> None:
        df = self.df(batch)
        if self.tracer is not None:
            self.max_delta_files = max(self.max_delta_files, count_files(self.delta_dir))
        before = len(self.samples["upsert"])
        self.timed("upsert", lambda: self.events.insert(df, storage="online"), lambda _: None,
                   items=batch.num_rows)
        if len(self.samples["upsert"]) > before and not os.path.exists(self.delta_dir):
            # this upsert ran the auto-compaction, which clears the delta pile
            self.samples["upsert_compacting"].append(self.samples["upsert"].pop())

    def warmup(self) -> None:
        """Lookups, then eight upserts: with the set-up's own upsert the
        delta pile holds nine files, so the first measured upsert is the
        tenth and runs the auto-compaction, and every run times the same
        sequence of pile sizes and compactions."""
        spark, fv = self.spark, self.fv
        for _ in range(20):
            fv.get_feature_vector(spark, {"c_custkey": 1})
        fv.get_feature_vectors(spark, [{"c_custkey": k} for k in range(1, 101)])
        for _ in range(self.WARMUP_UPSERTS):
            self.upsert(self.traffic.upsert_batch())
        self.reset()

    def extra(self) -> Dict:
        """The latest-event group's online store, which the upserts
        write: its bytes over a fresh write of its live rows."""
        store = OnlineStore.for_feature_group(self.events)
        return {"stored_bytes_per_live_byte": space_ratio([store.location], [store.read(self.spark)], self.root)}

    def layer_counts(self) -> Dict:
        return {"online.store.delta_files": self.max_delta_files}

    def inputs(self) -> Dict:
        t = self.traffic
        return {
            "customers": self.traffic.customers.num_rows,
            "event_rows": t.events.num_rows,
            "lookups": t.lookups,
            "absent_key_share": round(t.absent / max(t.lookups, 1), 4),
            "zipf_s": gen.ZIPF_S,
            "top1pct_key_share": round(t.zipf.top_share(0.01), 4),
            "upserts": t.upserts,
        }


# ---------------------------------------------------------------------------
class OfflineTraining(Workload):
    """Training data and batch scoring through a view with labels, two
    built-in scalers and point-in-time joins over a Zipf spine."""

    name = "offline_training"
    KINDS = ("td_build", "batch_scoring", "td_ready")
    NAMED = [
        ("td_build_p50_s", "td_build", 50, "s"),
        ("td_ready_p50_s", "td_ready", 50, "s"),
        ("batch_scoring_p50_s", "batch_scoring", 50, "s"),
    ]
    THROUGHPUT = ("td_rows_per_s", "rows/s", ("td_build",))
    MIN_SAMPLES = {"td_build": 2, "batch_scoring": 2}
    SPINE_ROWS = 25_000
    ORDER_ROWS = 50_000

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.rng = np.random.default_rng([seed, 2])
        self.customers = gen.customers(self.rng)
        orders = gen.orders(self.rng, self.ORDER_ROWS)
        self.orders = orders.append_column("order_ts", orders.column("o_orderdate"))
        self.spine = gen.spine(self.rng, self.SPINE_ROWS)
        self.spine_ts = self.spine.column("ts").to_numpy()

    def setup(self, root: str) -> None:
        fs = FeatureStore(root=root)
        cust = fs.create_feature_group("customer", primary_key=["c_custkey"])
        cust.insert(self.df(self.customers))
        orders = fs.create_feature_group("orders", primary_key=["o_custkey"], event_time="o_orderdate")
        orders.insert(self.df(self.orders))
        labels = fs.create_feature_group("labels", primary_key=["o_custkey"], event_time="ts")
        labels.insert(self.df(self.spine))
        q = (
            labels.select(["o_custkey", "ts", "label"])
            .join(orders.select(["o_totalprice", "o_orderstatus", "order_ts"]), on=["o_custkey"], prefix="ord_")
            .join(cust.select(["c_acctbal", "c_mktsegment"]), left_on=["o_custkey"], right_on=["c_custkey"],
                  prefix="cust_")
        )
        self.root, self.groups = root, (cust, orders, labels)
        self.fv = fs.create_feature_view(
            "training", q, labels=["label"],
            transformation_functions=[min_max_scaler("ord_o_totalprice"), standard_scaler("cust_c_acctbal")],
        )
        self.spine_df = self.df(self.spine)

    def _late(self):
        # a feature row newer than its spine row is a point-in-time leak
        return F.col("ord_order_ts") > F.col("ts")

    def td_op(self):
        seed = int(self.rng.integers(0, 2**31))

        def run():
            t0 = time.perf_counter()
            x_tr, x_te, y_tr, y_te = self.fv.train_test_split(self.spark, test_size=0.2, seed=seed,
                                                              spine=self.spine_df)
            ready = time.perf_counter() - t0
            return (self.force(x_tr, self._late()), self.force(x_te, self._late()),
                    self.force(y_tr), self.force(y_te), ready)

        def check(out):
            (n_tr, _, late_tr), (n_te, _, late_te), (ny_tr, _), (ny_te, _), _ = out
            if n_tr + n_te != self.spine.num_rows:
                return f"train+test rows {n_tr}+{n_te} != spine rows {self.spine.num_rows}"
            if (ny_tr, ny_te) != (n_tr, n_te):
                return f"label rows {ny_tr},{ny_te} != feature rows {n_tr},{n_te}"
            if (late_tr or 0) + (late_te or 0):
                return f"{late_tr}+{late_te} feature rows newer than their spine row"
            return None

        out = self.timed("td_build", run, check, items=self.spine.num_rows)
        if out is not None:
            # until train_test_split returns: the PIT join, the cache
            # and the statistics pass, before any split is read
            self.samples["td_ready"].append(out[-1])
        self.spark.catalog.clearCache()

    def batch_op(self):
        start, end = gen.window(self.rng)
        lo, hi = np.datetime64(start, "us"), np.datetime64(end, "us")
        want = int(((self.spine_ts >= lo) & (self.spine_ts < hi)).sum())

        def run():
            return self.force(self.fv.get_batch_data(self.spark, start_time=start, end_time=end), self._late())

        def check(out):
            n, _, late = out
            if n != want:
                return f"batch rows {n} != spine rows in window {want}"
            if late:
                return f"{late} feature rows newer than their spine row"
            return None

        self.timed("batch_scoring", run, check, items=want)

    def extra(self) -> Dict:
        """The three groups the view reads: their bytes over a fresh
        write of their live snapshots."""
        return {"stored_bytes_per_live_byte": space_ratio(
            [g.location for g in self.groups], [g.read(self.spark) for g in self.groups], self.root)}

    def step(self) -> None:
        self.td_op()
        self.batch_op()

    def inputs(self) -> Dict:
        return {
            "customers": self.customers.num_rows,
            "orders": self.orders.num_rows,
            "spine_rows": self.spine.num_rows,
            "zipf_s": gen.ZIPF_S,
            "window_days": 30,
        }


# ---------------------------------------------------------------------------
class IngestCuration(Workload):
    """Two producers of data.  A feature pipeline of upsert commits into
    an ``orders`` group (commit statistics on, auto-compaction every 3
    commits), each followed by an ``as_of`` and a ``read_changes`` read
    and one run of the corpus curation pipeline: quality gate, MinHash
    LSH candidate pairs, connected-component clusters and survivor
    selection."""

    name = "ingest_curation"
    KINDS = ("commit", "asof_read", "pipeline")
    REQUIRED = KINDS + ("commit_compacting",)
    MIN_SAMPLES = {"commit": 2, "commit_compacting": 1, "asof_read": 3, "pipeline": 3}
    NAMED = [
        ("commit_p50_s", "commit", 50, "s"),
        ("commit_compacting_p50_s", "commit_compacting", 50, "s"),
        ("asof_read_p50_s", "asof_read", 50, "s"),
        ("changes_read_p50_s", "changes_read", 50, "s"),
        ("curation_pipeline_p50_s", "pipeline", 50, "s"),
        ("curation_clusters_p50_s", "clusters", 50, "s"),
    ]
    THROUGHPUT = ("ingest_rows_per_s", "rows/s", ("commit", "commit_compacting"))
    COMPACT_EVERY = 3
    N_DOCS = 4_000
    JACCARD_MIN = 0.5
    # share of the gated near-copies the pipeline must remove; MinHash
    # LSH at 16 bands of 4 rows misses a copy with shingle Jaccard 0.8
    # with probability ~2e-4, and removes every copy at HEAD
    RECALL_MIN = 0.98
    SAMPLE = 200

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.rng = np.random.default_rng([seed, 5])
        self.corpus = gen.Corpus(seed, self.N_DOCS)
        self.gated_ids = {int(d) for d, t in zip(self.corpus.doc_ids, self.corpus.texts)
                          if len(t) >= gen.Corpus.GATE_CHARS}
        self.gated_copies = sum(self.corpus.is_copy(d) for d in self.gated_ids)
        self.docs = None

    def setup(self, root: str) -> None:
        self.stream = gen.IngestStream(self.seed)
        fs = FeatureStore(root=root)
        fg = fs.create_feature_group("orders", primary_key=["o_orderkey"], event_time="o_orderdate",
                                     auto_compact_every=self.COMPACT_EVERY)
        c = fg.insert(self.df(self.stream.initial))
        self.stream.record_commit(c.commit_time, self.stream.initial)
        self.root, self.fg = root, fg
        if self.docs is not None:
            self.docs.unpersist(True)
        self.docs = self.df(self.corpus.table()).persist()
        self.docs.count()

    # -- ingest and time travel ------------------------------------------
    def _read_check(self, df):
        """(rows, cents of o_totalprice), with every column forced."""
        n, _, cents = self.force(df, F.round(F.col("o_totalprice") * 100))
        return int(n), int(cents or 0)

    def commit_op(self) -> None:
        batch = self.stream.next_batch()
        df = self.df(batch)
        out = self.timed("commit", lambda: self.fg.insert(df), lambda c: None if c else "no commit returned",
                         items=batch.num_rows)
        if out is not None:
            self.stream.record_commit(out.commit_time, batch)
            if self.fg.commit_details(limit=1)[0]["operation"] == "compaction":
                # this commit ran the auto-compaction: time it apart
                self.samples["commit_compacting"].append(self.samples["commit"].pop())
                self.items["commit_compacting"] += batch.num_rows
                self.items["commit"] -= batch.num_rows

    def read_op(self) -> None:
        """``as_of`` the first commit after the initial load, then the
        changes since it.  The ``as_of`` target is fixed so every read
        merges the same shape of history (two commits, no compaction
        base); which reads a run makes must not depend on the seed."""
        hist = self.stream.history
        i = 1
        want = (hist[i]["rows"], hist[i]["cents"])
        self.timed("asof_read", lambda: self._read_check(self.fg.as_of(hist[i]["commit_time"]).read(self.spark)),
                   lambda got: None if got == want else f"as_of commit {i}: got {got}, want {want}")
        want_c = self.stream.changes(i, len(hist) - 1)
        self.timed(
            "changes_read",
            lambda: self._read_check(self.fg.read_changes(hist[i]["commit_time"], hist[-1]["commit_time"])),
            lambda got: None if got == want_c else f"changes after commit {i}: got {got}, want {want_c}",
        )

    # -- corpus curation ---------------------------------------------------
    def pipeline(self):
        """Returns the clusters, the survivor ids and the seconds until
        the clusters were collected into this process."""
        t0 = time.perf_counter()
        gated = self.docs.where(F.length("text") >= gen.Corpus.GATE_CHARS)
        pairs = dedup.minhash_lsh_duplicate_pairs(gated, "text", "doc_id", num_hashes=64, bands=16)
        clusters = dedup.duplicate_clusters(pairs, algorithm="auto")
        cl = self.action(clusters.toPandas)
        t_clusters = time.perf_counter() - t0
        survivors = dedup.select_survivors(gated, clusters, "doc_id").select("doc_id")
        kept = self.action(survivors.toPandas)
        self.note(clusters)
        self.note(survivors)
        return cl, kept, t_clusters

    def check_curation(self, out) -> Optional[str]:
        cl, kept, _ = out
        kept_ids = kept["doc_id"].tolist()
        kept_set = set(kept_ids)
        if len(kept_set) != len(kept_ids):
            return "a survivor appears twice"
        canon = dict(zip(cl.iloc[:, 0].tolist(), cl.iloc[:, 1].tolist()))
        # removed: the cluster members that are not their cluster's id
        removed = {d for d, c in canon.items() if d != c}
        if kept_set & removed:
            return "a removed doc is also a survivor"
        if kept_set | removed != self.gated_ids:
            return "survivors plus removed docs != gated input"
        if any(not self.corpus.is_copy(d) for d in removed):
            return "an original document was removed"
        if len(removed) < self.RECALL_MIN * self.gated_copies:
            return f"{len(removed)} docs removed of {self.gated_copies} near-copies in the gated input"
        sample = sorted(removed)
        if len(sample) > self.SAMPLE:
            sample = self.rng.choice(sample, self.SAMPLE, replace=False).tolist()
        for d in sample:
            j = gen.jaccard(self.corpus.text_of(d), self.corpus.text_of(canon[d]))
            if j < self.JACCARD_MIN:
                return f"doc {d} ~ {canon[d]}: Jaccard {j:.3f} < {self.JACCARD_MIN}"
        self.removed = len(removed)
        return None

    def curation_op(self) -> None:
        out = self.timed("pipeline", self.pipeline, self.check_curation, items=self.N_DOCS)
        if out is not None:
            self.samples["clusters"].append(out[2])

    # -- the loop ------------------------------------------------------------
    def step(self) -> None:
        """A commit, its reads and a curation run."""
        self.commit_op()
        self.read_op()
        self.curation_op()

    def warmup(self) -> None:
        """Two commits with their reads, and a curation run.  With the
        set-up's initial commit the second commit runs an
        auto-compaction, so every run times whole cycles of two plain
        commits and one that compacts."""
        self.commit_op()
        self.read_op()
        self.curation_op()
        self.commit_op()
        self.read_op()
        self.reset()

    def throughputs(self):
        """Ingest rows per second of commit time (an untraced run times
        one whole compaction cycle: two plain commits and one that runs
        the auto-compaction), then curation documents per second of
        pipeline time."""
        out = super().throughputs()
        pipes = self.samples.get("pipeline")
        if pipes:
            out.append(("curation_docs_per_s", "docs/s", self.items["pipeline"] / sum(pipes), len(pipes)))
        return out

    def extra(self) -> Dict:
        """The ``orders`` group: stored bytes after the last commit over
        the bytes of one fresh write of the live snapshot."""
        return {"stored_bytes_per_live_byte": space_ratio([self.fg.location], [self.fg.read(self.spark)], self.root)}

    def layer_counts(self) -> Dict:
        """Commit store: bytes of every commit directory over the bytes
        of the commits that hold user batches (compaction bases are the
        difference), and the number of data files.  Dedup: candidate
        pairs, candidate pairs that are true near-duplicates (exact
        shingle Jaccard, computed here) and clusters, counted once per
        traced run outside the timed operations."""
        log = {c["commit_time"]: c for c in self.fg.commit_details()}
        data = os.path.join(self.fg.location, "data")
        total = user = 0
        for d in os.listdir(data):
            if not d.startswith("_commit_time="):
                continue
            b = du(os.path.join(data, d))
            total += b
            if log.get(int(d.split("=", 1)[1]), {}).get("operation") != "compaction":
                user += b
        gated = self.docs.where(F.length("text") >= gen.Corpus.GATE_CHARS)
        pairs = dedup.minhash_lsh_duplicate_pairs(gated, "text", "doc_id", num_hashes=64, bands=16).toPandas()
        true_pairs = sum(
            gen.jaccard(self.corpus.text_of(a), self.corpus.text_of(b)) >= self.JACCARD_MIN
            for a, b in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist())
        )
        clusters = dedup.duplicate_clusters(self.spark.createDataFrame(pairs), algorithm="auto")
        return {
            "sources.commit_store.bytes_written_per_user_byte": total / user,
            "sources.commit_store.files": count_files(self.fg.location),
            "operators.dedup.candidate_pairs": len(pairs),
            "operators.dedup.pairs": true_pairs,
            "operators.dedup.clusters": clusters.select(clusters.columns[1]).distinct().count(),
        }

    def inputs(self) -> Dict:
        return {
            "initial_rows": self.stream.initial.num_rows,
            "batch_rows": gen.IngestStream.BATCH,
            "update_share": gen.IngestStream.UPDATE_SHARE,
            "auto_compact_every": self.COMPACT_EVERY,
            "commits": len(self.stream.history),
            "docs": self.N_DOCS,
            "gated_docs": len(self.gated_ids),
            "gated_near_copies": self.gated_copies,
            "removed_docs": getattr(self, "removed", None),
            "near_duplicate_share": gen.Corpus.DUP_SHARE,
        }


WORKLOADS = {w.name: w for w in (OnlineServing, OfflineTraining, IngestCuration)}
