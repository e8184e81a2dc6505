"""Traced runs: spans at layer boundaries and Spark's own status store.

Wrappers are installed only for a traced run.  Each wrapper replaces a
name in the namespace its caller looks it up in (a module attribute or a
class attribute), records one span per call into memory, and calls the
original.  Nothing in the engine changes; a later change that puts spans
inside the engine can reuse the same span names.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the span that was open when it started, ``op`` the benchmark operation it
belongs to.  A span's self time is its duration minus the time its child
spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from collections import defaultdict
from typing import Dict, List, Optional

# (module, attribute path, span name).  The attribute path names the
# object the CALLER resolves at call time: feature_view binds
# point_in_time_join_many at import, so it is patched there; names
# imported inside a function body are patched on their home module.
WRAPPED = [
    ("feature_store_api_spark.feature_view", "FeatureView.train_test_split", "feature_view.train_test_split"),
    ("feature_store_api_spark.feature_view", "FeatureView.get_batch_data", "feature_view.get_batch_data"),
    ("feature_store_api_spark.feature_view", "FeatureView.get_feature_vector", "feature_view.get_feature_vector"),
    ("feature_store_api_spark.feature_view", "FeatureView.get_feature_vectors", "feature_view.get_feature_vectors"),
    ("feature_store_api_spark.feature_view", "point_in_time_join_many", "operators.pit_join.build"),
    ("feature_store_api_spark.feature_group", "FeatureGroup.insert", "feature_group.insert"),
    ("feature_store_api_spark.constructor.query", "Query.read", "constructor.read"),
    ("feature_store_api_spark.plans.compiler", "compile_query", "plans.compile"),
    ("feature_store_api_spark.online.serving", "VectorServer.get_feature_vectors", "online.serving"),
    ("feature_store_api_spark.online.store", "OnlineStore.get_feature_vectors", "online.store.lookup"),
    ("feature_store_api_spark.online.store", "OnlineStore.upsert", "online.store.upsert"),
    ("feature_store_api_spark.online.store", "OnlineStore.compact", "online.store.compact"),
    ("feature_store_api_spark.functions.udf", "apply_transformations_pandas", "functions.udf.apply_pandas"),
    ("feature_store_api_spark.functions.udf", "apply_transformations", "functions.udf.apply"),
    ("feature_store_api_spark.functions.udf", "transformation_stats_for", "functions.udf.stats"),
    ("feature_store_api_spark.operators.training", "transformation_stats_for", "functions.udf.stats"),
    ("feature_store_api_spark.operators.training", "apply_transformations", "functions.udf.apply"),
    ("feature_store_api_spark.operators.training", "prepare_training_data", "operators.training.prepare"),
    ("feature_store_api_spark.operators.statistics", "describe", "operators.statistics.describe"),
    ("feature_store_api_spark.operators.dedup", "minhash_lsh_duplicate_pairs", "operators.dedup.minhash_pairs"),
    ("feature_store_api_spark.operators.dedup", "duplicate_clusters", "operators.dedup.clusters"),
    ("feature_store_api_spark.operators.dedup", "select_survivors", "operators.dedup.survivors"),
    ("feature_store_api_spark.sources.commit_store", "CommitStore.write", "sources.commit_store.write"),
    ("feature_store_api_spark.sources.commit_store", "CommitStore.snapshot", "sources.commit_store.snapshot"),
    ("feature_store_api_spark.sources.commit_store", "CommitStore.compact", "sources.commit_store.compact"),
    ("feature_store_api_spark.provenance", "parents_from_plan", "provenance.parents"),
]


class Tracer:
    """In-memory span recorder plus per-operation Spark statistics."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: List[Dict] = []
        self._open: List[int] = []
        self.op: Optional[int] = None
        self._undo: List = []
        self.fallbacks: Dict[int, int] = {}  # id(OnlineStore) -> arrow_fallback_count
        self.spark_ops: Dict[int, Dict] = {}

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._open[-1] if self._open else None, "op": self.op}
        self.spans.append(rec)
        self._open.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "online.store.lookup":
                tracer.fallbacks[id(args[0])] = args[0].arrow_fallback_count
            return out

        return traced

    def install(self) -> None:
        for mod_name, path, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            orig = owner.__dict__[attr]
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- operations ----------------------------------------------------
    def begin_op(self, op_id: int, kind: str) -> None:
        self.op = op_id
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", kind)
        self.spark_ops[op_id] = {"kind": kind, "wall_start_ms": time.time() * 1000.0, "catalyst_ms": 0.0}

    def end_op(self) -> None:
        self.op = None
        self.spark.sparkContext.setJobGroup("perfbench-idle", "between operations")

    def note_catalyst(self, df) -> None:
        """Add the Catalyst phase times (analysis, optimization,
        planning) of an action the benchmark itself ran on ``df``."""
        if self.op is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.values().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next().durationMs()
        self.spark_ops[self.op]["catalyst_ms"] += total

    def collect_spark(self) -> None:
        """Per operation: jobs, stages, tasks and stage metrics from the
        status tracker and the app status store (works with the UI off).
        Called once, after the listener bus has drained."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        empty = sc._jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(sc._jvm.double, 0)
        for op_id, rec in self.spark_ops.items():
            jobs = tracker.getJobIdsForGroup(f"perfbench-{op_id}")
            stages, first_submit = [], None
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
                sub = store.job(j).submissionTime()
                if sub.isDefined():
                    t = sub.get().getTime()
                    first_submit = t if first_submit is None else min(first_submit, t)
            agg = defaultdict(float)
            for s in stages:
                attempts = store.stageData(s, False, empty, False, no_q)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    agg["tasks"] += sd.numTasks()
                    agg["executor_run_ms"] += sd.executorRunTime()
                    agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    agg["input_bytes"] += sd.inputBytes()
            rec.update(agg)
            rec["jobs"] = len(jobs)
            rec["stages"] = len(stages)
            rec["first_job_ms"] = (
                None if first_submit is None else first_submit - rec["wall_start_ms"]
            )

    # -- derived figures -----------------------------------------------
    def self_times(self) -> List[float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[i] for i, s in enumerate(self.spans)]

    def durations(self, name: str, self_time: bool = False) -> List[float]:
        """Per-call durations (ms) of every span called ``name``."""
        selfs = self.self_times() if self_time else None
        return [
            ((selfs[i]) if self_time else (s["end"] - s["start"])) * 1e3
            for i, s in enumerate(self.spans) if s["name"] == name
        ]

    def top_level_ms(self, op_id: int) -> float:
        """Time of the op covered by spans that have no parent span."""
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans if s["op"] == op_id and s["parent"] is None
        )

    def layer_self_ms(self) -> Dict[str, float]:
        out = defaultdict(float)
        for s, st in zip(self.spans, self.self_times()):
            out[s["name"]] += st * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
