"""Feature-vector serving for feature views.

Parity surface (§3.3): ``init_serving`` → per-feature-group lookup
handles (``/root/reference/python/hsfs/core/vector_server.py:133-188``);
single/batch lookups executed per feature group and stitched on serving
keys (``core/online_store_sql_engine.py:279-437`` — the reference runs
per-FG prepared statements in parallel and never SQL-joins at serve
time); ``passed_features`` overriding looked-up values and required-key
validation (``core/vector_server.py:486-555``); transformations applied
after assembly (``:924-978`` — on-demand first, then model-dependent).

Spark-first: each feature group's online materialization is a compact
latest-per-key table (``online/store.py``); lookups are pk-filtered scans
that Spark pushes into the parquet read. Transformations reuse the SAME
TransformationFunction objects as the batch path — applied via a small
DataFrame so training/serving skew is impossible by construction (one
code path), at the cost of Spark-job latency per call; batch lookups
amortize it. A production deployment would swap OnlineStore for a real
KV store behind the same interface.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import SparkSession

from .store import OnlineStore, _aware_to_naive_utc



def _staleness_cutoff_value(max_staleness, clock=None):
    """``clock - TTL`` as a concrete comparable value: a NAIVE-UTC
    datetime for interval strings / timedeltas, a number for numeric
    event times (mirrors pit_join._staleness_cutoff for the
    driver-side serving path).

    The clock domain is naive UTC throughout: the default ``clock`` is
    ``datetime.now(timezone.utc)`` stripped of tzinfo (never the
    deprecated, implicitly-naive ``utcnow``), and every lookup path
    already normalizes hit timestamps to naive UTC
    (``store._utc_naive_values`` for Spark collect; pyarrow natively).

    Numeric event times carry no wall-clock meaning the server can
    infer, so they REQUIRE a caller-supplied numeric ``clock``; without
    one the caller warns and skips enforcement (never silently)."""
    import datetime as _dt

    from ..operators.pit_join import _STALENESS_RE, validate_max_staleness

    max_staleness = validate_max_staleness(max_staleness)
    if isinstance(max_staleness, _dt.timedelta):
        delta = max_staleness
    elif isinstance(max_staleness, str):
        m = _STALENESS_RE.match(max_staleness)
        n, unit = int(m.group(1)), m.group(2).lower().rstrip("s") + "s"
        delta = _dt.timedelta(**{unit: n})
    else:  # numeric TTL ↔ numeric event time: needs a numeric clock
        if clock is None:
            return None
        return clock - max_staleness
    if clock is None:
        clock = _dt.datetime.now(_dt.timezone.utc)
    return _aware_to_naive_utc(clock) - delta


class VectorServer:
    """Serves assembled feature vectors for a FeatureView."""

    def __init__(self, feature_view) -> None:
        self.fv = feature_view
        self._plans: List[Dict] = []  # one per FG: store, key map, features, prefix
        self._stats: Optional[Dict] = None
        self._initialized = False

    # -- setup (parity vector_server.py:133-188) ---------------------------
    def init_serving(
        self,
        spark: SparkSession,
        training_df=None,
        pin_snapshots: bool = True,
    ) -> "VectorServer":
        """Resolve per-FG online stores + serving-key maps; precompute
        the statistics every statistics-bound transformation needs
        (on ``training_df`` when given — the train split — else on the
        view's batch data).

        ``pin_snapshots=True`` (default) persists each FG's resolved
        latest state in executor memory — snapshot-isolated serving,
        lookups filter the cached frame. ``pin_snapshots=False`` serves
        LIVE state through the store's driver-side pyarrow lookups
        (the reference's model: the online DB is always live): combined
        with the pandas transformation fast path, a whole single-vector
        request then completes in milliseconds with ZERO Spark jobs."""
        q = self.fv.query
        left_fg = q.left_feature_group
        left_feats = [f.name for f in q.left_features]
        self._serving_keys = list(left_fg.primary_key)
        self._plans = [
            {
                "store": OnlineStore.for_feature_group(left_fg),
                "keymap": {k: k for k in left_fg.primary_key},
                "features": left_feats,
                "prefix": "",
                "max_staleness": getattr(left_fg, "max_staleness", None),
                "event_time": left_fg.event_time,
            }
        ]
        for join in q.joins:
            fg = join.query.left_feature_group
            lkeys = join.on or join.left_on or [
                k for k in self._serving_keys if k in set(fg.primary_key)
            ]
            rkeys = join.right_on or lkeys
            self._plans.append(
                {
                    "store": OnlineStore.for_feature_group(fg),
                    # serving-key name → that FG's pk name
                    "keymap": dict(zip(lkeys, rkeys)),
                    "features": [f.name for f in join.query.left_features],
                    "prefix": join.prefix or "",
                    # declared feature TTL: hits older than now - TTL
                    # are withheld at serving time (stale features are
                    # worse than missing ones for a model)
                    "max_staleness": getattr(fg, "max_staleness", None),
                    "event_time": fg.event_time,
                }
            )
        # pin each FG's latest-state snapshot in executor memory: every
        # subsequent lookup filters the cached frame instead of
        # re-scanning parquet (the reference's analogue is the prepared
        # statements + connection pool resolved once at init,
        # vector_server.py:133-188). Re-run init_serving to pick up
        # upserts written after this point.
        if pin_snapshots:
            for plan in self._plans:
                snap = plan["store"].read(spark).persist()
                snap.count()  # materialize now, not on the first request
                plan["df"] = snap
        tfs = self.fv.transformation_functions
        if tfs:
            from ..functions.udf import (
                TransformationFunction,
                apply_transformations as _apply,
                transformation_stats_for,
            )

            base = training_df
            if base is None:
                base = self.fv._pit_plan(spark)
            # stats-bound model-dependent UDFs may consume on-demand
            # outputs: materialize pending ones before the stats pass.
            # A UDF with request-time-only inputs (request_parameters)
            # cannot run against the base table — it runs per request.
            pending = [
                t for t in tfs
                if t.mode == TransformationFunction.ON_DEMAND
                and t.output_names()[0] not in base.columns
                and all(f in base.columns for f in t.features)
            ]
            if pending:
                base = _apply(base, pending)
            self._stats = transformation_stats_for(tfs, base)
            # model-input column order = the transformed training frame's
            # columns (labels removed) — computed on a zero-row slice so
            # list-shaped vectors line up with training exactly.
            # Request-parameter UDFs (inputs only exist per request) are
            # appended after the frame-derived columns by output name.
            frameable = [
                t for t in tfs
                if all(
                    f in base.columns or any(
                        f in u.output_names() for u in tfs if u is not t
                    )
                    for f in t.features
                )
            ]
            ordered = _apply(
                base.limit(0), frameable, stats=self._stats
            ).columns
            request_only = sorted(
                n
                for t in tfs
                if t not in frameable
                for n in t.output_names()
            )
            self._feature_order = [
                c for c in ordered if c not in self.fv.labels
            ] + request_only
        else:
            base = training_df
            if base is None:
                base = self.fv._pit_plan(spark)
            self._feature_order = [
                c for c in base.columns if c not in self.fv.labels
            ]
        self._initialized = True
        return self

    # -- lookups (parity online_store_sql_engine.py:279-437) ---------------
    def get_feature_vector(
        self,
        spark: SparkSession,
        entry: Dict,
        passed_features: Optional[Dict] = None,
        apply_transformations: bool = True,
        request_parameters: Optional[Dict] = None,
        return_type: str = "dict",
        clock=None,
    ) -> Optional[Dict]:
        out = self.get_feature_vectors(
            spark, [entry], [passed_features] if passed_features else None,
            apply_transformations=apply_transformations,
            request_parameters=[request_parameters] if request_parameters else None,
            return_type=return_type,
            clock=clock,
        )
        return out[0]

    def get_feature_vectors(
        self,
        spark: SparkSession,
        entries: Sequence[Dict],
        passed_features: Optional[Sequence[Optional[Dict]]] = None,
        apply_transformations: bool = True,
        request_parameters: Optional[Sequence[Optional[Dict]]] = None,
        return_type: str = "dict",
        clock=None,
    ) -> List[Optional[Dict]]:
        """``clock``: freshness reference for feature-TTL enforcement —
        defaults to now-UTC for temporal event times; REQUIRED (as a
        number) to enforce a numeric ``max_staleness`` against numeric
        event times, which otherwise warns and serves unfiltered."""
        if not self._initialized:
            raise RuntimeError("call init_serving() first")
        missing = [
            k for k in self._serving_keys if any(k not in e for e in entries)
        ]
        if missing:
            raise ValueError(f"Serving key(s) {missing} missing from entry")

        # one batched lookup per feature group, stitched client-side
        rows: List[Optional[Dict]] = [None] * len(entries)
        for plan in self._plans:
            keys = [
                {pk: e[sk] for sk, pk in plan["keymap"].items()} for e in entries
            ]
            if plan.get("df") is not None:
                hits = plan["store"].lookup(plan["df"], keys)
            else:
                # live mode (pin_snapshots=False): store-direct lookup,
                # which prefers the jobless pyarrow path
                hits = plan["store"].get_feature_vectors(spark, keys)
            ttl = plan.get("max_staleness")
            et = plan.get("event_time")
            cutoff = None
            if ttl is not None and et is not None:
                cutoff = _staleness_cutoff_value(ttl, clock=clock)
                if cutoff is None:
                    # numeric TTL with no numeric clock: enforcing it
                    # is impossible server-side, and the SAME TTL *is*
                    # enforced on batch PIT reads — silently skipping
                    # would be exactly the training/serving skew the
                    # feature exists to prevent. Never silent.
                    import warnings

                    warnings.warn(
                        f"max_staleness={ttl!r} on a numeric event time "
                        f"({et!r}) cannot be enforced at serving time "
                        "without a caller-supplied numeric clock — pass "
                        "clock= to get_feature_vector(s); serving "
                        "UNFILTERED values (batch PIT reads DO enforce "
                        "this TTL)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            for i, hit in enumerate(hits):
                if hit is None:
                    continue
                if cutoff is not None:
                    ts = _aware_to_naive_utc(hit.get(et))
                    if ts is not None and ts < cutoff:
                        continue  # expired: withhold, same as a miss
                vec = rows[i] if rows[i] is not None else dict(entries[i])
                for f in plan["features"]:
                    if f in hit and f not in plan["store"].primary_key:
                        vec[plan["prefix"] + f] = hit[f]
                rows[i] = vec
        # request_parameters feed ON_DEMAND UDF inputs that are not
        # stored features (parity vector_server.py request_parameters):
        # merged BEFORE transformation so on-demand UDFs see them;
        # passed_features merged after lookups to OVERRIDE stored values.
        # A row that missed EVERY lookup stays None — request parameters
        # are UDF inputs, not feature values, so they must not resurrect
        # a missed key into a mostly-None vector (the miss signal is the
        # caller's cue to fall back). Exception: a view with no stored
        # lookups at all is fully on-demand, and rows are then built
        # from the entry + request parameters alone. passed_features DO
        # resurrect a missed row: they are explicit feature values.
        if request_parameters:
            for i, rp in enumerate(request_parameters):
                if rp:
                    if rows[i] is None:
                        if self._plans:
                            continue
                        rows[i] = dict(entries[i])
                    rows[i].update(rp)
        if passed_features:
            for i, pf in enumerate(passed_features):
                if pf:
                    if rows[i] is None:
                        rows[i] = dict(entries[i])
                    rows[i].update(pf)

        if apply_transformations and self.fv.transformation_functions:
            rows = self._transform(spark, rows)
        # inference helper columns are served via get_inference_helper(s),
        # never inside the model-input vector (parity vector_server.py:
        # 96-106 — helpers are excluded from the feature-vector column
        # set). They stay present through _transform (an on-demand UDF
        # may consume them) and drop here.
        helpers = set(self.fv.inference_helper_columns)
        if helpers:
            rows = [
                None if r is None else {
                    k: v for k, v in r.items() if k not in helpers
                }
                for r in rows
            ]
        if return_type == "list":
            # ordered model-input form (reference default shape): values
            # in the transformed training frame's column order
            order = [
                c for c in self._feature_order
                if c not in self._serving_keys and c not in helpers
            ]
            return [
                None if r is None else [r.get(c) for c in order]
                for r in rows
            ]
        return rows

    # -- inference helpers (parity feature_view.py:735-830) ----------------
    def get_inference_helper(
        self, spark: SparkSession, entry: Dict, return_type: str = "dict"
    ) -> Optional[Dict]:
        return self.get_inference_helpers(spark, [entry], return_type)[0]

    def get_inference_helpers(
        self,
        spark: SparkSession,
        entries: Sequence[Dict],
        return_type: str = "dict",
    ) -> List[Optional[Dict]]:
        """Assembled vectors of ONLY the view's declared inference
        helper columns (parity ``feature_view.py:783``): same per-FG
        lookups and stitching as feature vectors, projected to the
        helper set — the reference serves these separately so the model
        input stays clean while the application still gets its
        request-time context columns."""
        if not self._initialized:
            raise RuntimeError("call init_serving() first")
        helpers = list(self.fv.inference_helper_columns)
        if not helpers:
            raise ValueError(
                f"Feature view {self.fv.name!r} declares no "
                "inference_helper_columns"
            )
        rows: List[Optional[Dict]] = [None] * len(entries)
        for plan in self._plans:
            wanted = [
                f
                for f in plan["features"]
                if (plan["prefix"] + f) in helpers
            ]
            if not wanted:
                continue
            keys = [
                {pk: e[sk] for sk, pk in plan["keymap"].items()} for e in entries
            ]
            if plan.get("df") is not None:
                hits = plan["store"].lookup(plan["df"], keys)
            else:
                hits = plan["store"].get_feature_vectors(spark, keys)
            for i, hit in enumerate(hits):
                if hit is None:
                    continue
                vec = rows[i] if rows[i] is not None else {}
                for f in wanted:
                    if f in hit:
                        vec[plan["prefix"] + f] = hit[f]
                rows[i] = vec
        return rows

    def _transform(self, spark, rows: List[Optional[Dict]]) -> List[Optional[Dict]]:
        """Apply the view's transformations to the assembled vectors.

        Fast path: when every transformation has a driver-side pandas
        form (python UDFs natively; builtins via their pandas twins),
        the SAME TransformationFunction objects with the SAME pinned
        train-split stats apply in-process — a single vector serves in
        milliseconds with ZERO Spark jobs. Large batches (or a
        transformation with no pandas twin) take the Spark path, which
        is byte-identical to training (one code path, no skew)."""
        import pandas as pd

        from ..functions.udf import (
            apply_transformations as _apply,
            apply_transformations_pandas,
            supports_pandas_path,
        )

        live = [(i, r) for i, r in enumerate(rows) if r is not None]
        if not live:
            return rows
        pdf = pd.DataFrame([r for _, r in live])
        tfs = self.fv.transformation_functions
        # apply_transformations runs pending on-demand UDFs first, then
        # model-dependent — the reference's serving order
        # (core/vector_server.py:924-978); on-demand features already
        # materialized in the stored row (ingest-time) are not recomputed
        stats_ready = self._stats or not any(t.statistics for t in tfs)
        if len(live) <= 1024 and stats_ready and supports_pandas_path(tfs):
            out = apply_transformations_pandas(pdf, tfs, stats=self._stats)
        else:
            out = _apply(
                spark.createDataFrame(pdf), tfs, stats=self._stats
            ).toPandas()
        for (i, _), (_, rec) in zip(live, out.iterrows()):
            rows[i] = {k: v for k, v in rec.to_dict().items()}
        return rows
