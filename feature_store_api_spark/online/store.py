"""Online store: latest-value-per-primary-key materialization + lookups.

Parity targets: the online feature store the reference fills via Kafka
and serves from MySQL/RonDB — upsert keeps only the newest row per pk
(``/root/reference/python/hsfs/core/hudi_engine.py:141-149`` precombine
semantics), lookups are per-FG point/batch selects stitched on serving
keys (``core/online_store_sql_engine.py:279-437``, prepared-statement
shape ``SELECT ... WHERE pk = ?`` / ``WHERE pk IN (?)``).

Implementation — LSM-flavored merge-on-read:

* ``base/`` holds compacted state, hash-partitioned by
  ``_online_bucket = crc32(pk) % num_buckets`` — point lookups prune to
  one directory (the bucket hash is crc32 precisely so the driver can
  compute it in Python).
* an upsert APPENDS its rows to ``delta/`` as-is — ONE job, no shuffle,
  no table read, no rewrite: a 1-row micro-batch costs one small file.
  ``_online_bucket`` rides along as a data column for row-group-level
  pruning of the (small, recent) delta pile.
* a read resolves newest-per-key over base ∪ delta with one window
  (event_time, then precombine, then arrival sequence — Hudi precombine
  parity).
* every ``auto_compact_every`` upserts, compaction folds the deltas
  into a new bucket-partitioned base (write-then-atomic-swap), so the
  merge tail a read windows over stays bounded — the same cadence
  design as the offline commit store.

At cluster scale you'd back this with a real KV store; the API is the
contract.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import warnings
import zlib
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_key

_SEQ = "_online_seq"
_BUCKET = "_online_bucket"

# once-per-process flag: the arrow→Spark degradation is availability-
# preserving but must not be SILENT — a permanent arrow-path breakage
# (e.g. a filter type pyarrow can't push) would otherwise quietly turn
# every ms-latency lookup into a Spark job with zero signal
_ARROW_FALLBACK_WARNED = False


def _utc_naive_values(rec: Dict) -> Dict:
    """Normalize every datetime value in a hit row to NAIVE UTC.

    The two lookup paths disagree on clock domain: pyarrow's
    ``to_pylist`` yields naive-UTC datetimes (the session pins
    ``spark.sql.session.timeZone=UTC`` at write), while Spark's
    ``collect()`` converts TimestampType through
    ``datetime.fromtimestamp`` — the Python process's LOCAL timezone —
    so on a non-UTC machine the same stored instant reads differently
    per path (and serving-TTL freshness decisions would shift by the
    UTC offset). Collect-path rows funnel through here so both paths
    serve one clock domain; tz-aware values (TIMESTAMP_LTZ through
    arrow) also coerce to naive UTC."""
    out = {}
    for k, v in rec.items():
        if isinstance(v, _dt.datetime):
            # astimezone interprets a NAIVE value as local time — the
            # exact inverse of collect()'s fromtimestamp conversion —
            # and converts tz-AWARE values directly; identity on UTC
            # machines either way
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        out[k] = v
    return out


def _aware_to_naive_utc(v):
    """A tz-AWARE datetime as naive UTC; naive datetimes, numbers and
    None pass through untouched (the arrow read path's naive values are
    already UTC — see ``_utc_naive_values`` for the collect-path twin
    whose naive-as-local inverse must NOT be applied here)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _portable_str(v) -> Optional[str]:
    """Python-side string form matching Spark's ``CAST(x AS STRING)``
    for the pk types we bucket on (int, str). Returns None for types
    whose cast text may diverge (float/bool/...) — callers then skip
    bucket pruning (correct, just unpruned)."""
    if isinstance(v, bool):  # bool is an int subclass — exclude first
        return None
    if isinstance(v, (int, str)):
        return str(v)
    return None


class OnlineStore:
    def __init__(
        self,
        location: str,
        primary_key: Sequence[str],
        event_time: Optional[str] = None,
        precombine_key: Optional[str] = None,
        num_buckets: int = 32,
        auto_compact_every: Optional[int] = 10,
    ) -> None:
        self.location = location
        self.primary_key = list(primary_key)
        self.event_time = event_time
        self.precombine_key = precombine_key
        self.auto_compact_every = auto_compact_every
        # observability: how many times _arrow_lookup degraded to the
        # Spark fallback on this instance (see _ARROW_FALLBACK_WARNED)
        self.arrow_fallback_count = 0
        os.makedirs(location, exist_ok=True)
        # bucket count must stay stable for the life of the table: a
        # sidecar records it at creation and wins over the ctor arg
        meta_path = os.path.join(location, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                self.num_buckets = int(json.load(fh)["num_buckets"])
        else:
            self.num_buckets = int(num_buckets)
            with open(meta_path, "w") as fh:
                json.dump({"num_buckets": self.num_buckets}, fh)

    @classmethod
    def for_feature_group(cls, fg) -> "OnlineStore":
        if fg.location is None:
            raise ValueError(f"Feature group {fg.name!r} has no managed location")
        return cls(
            os.path.join(fg.location, "online"),
            primary_key=fg.primary_key,
            event_time=fg.event_time,
            precombine_key=getattr(fg, "precombine_key", None),
        )

    @property
    def _base_path(self) -> str:
        return os.path.join(self.location, "base")

    @property
    def _delta_path(self) -> str:
        return os.path.join(self.location, "delta")

    @staticmethod
    def _has_parquet(path: str) -> bool:
        if not os.path.exists(path):
            return False
        for _root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _exists(self) -> bool:
        return self._has_parquet(self._base_path) or self._has_parquet(
            self._delta_path
        )

    # -- sidecar counters --------------------------------------------------
    def _counter(self, name: str, bump: bool = False) -> int:
        path = os.path.join(self.location, name)
        val = 0
        if os.path.exists(path):
            with open(path) as fh:
                val = int(fh.read().strip() or 0)
        if bump:
            val += 1
            with open(path, "w") as fh:
                fh.write(str(val))
        return val

    # -- bucketing ---------------------------------------------------------
    def _bucket_expr(self):
        """crc32(pk1 <US> pk2 ...) % num_buckets — chosen over Spark's
        ``hash()`` because the same value is computable driver-side
        (zlib.crc32), letting point lookups prune partitions."""
        parts = [F.col(c).cast("string") for c in self.primary_key]
        return F.pmod(
            F.crc32(F.concat_ws("\x1f", *parts)), F.lit(self.num_buckets)
        ).cast("int")

    def _bucket_of(self, key: Dict) -> Optional[int]:
        parts = []
        for k in self.primary_key:
            s = _portable_str(key.get(k))
            if s is None:
                return None
            parts.append(s)
        return zlib.crc32("\x1f".join(parts).encode("utf-8")) % self.num_buckets

    # -- write path --------------------------------------------------------
    def upsert(self, df: DataFrame) -> None:
        """Append the batch to the delta pile — O(batch) work, one Spark
        job, zero reads of existing state. Conflict resolution (newest
        per pk) happens at read via one window; every
        ``auto_compact_every`` upserts :meth:`compact` folds the deltas
        so the merge tail stays bounded."""
        seq = self._counter("_seq", bump=True)
        batch = df.withColumn(_SEQ, F.lit(seq)).withColumn(
            _BUCKET, self._bucket_expr()
        )
        batch.write.mode("append").parquet(self._delta_path)
        # bump unconditionally: _resolve keys its window-vs-agg strategy
        # choice off this counter, so with auto-compaction DISABLED the
        # counter must still track the (now unbounded) delta tail —
        # otherwise a permanently-zero counter would keep picking the
        # window path in exactly the case the skew-immune agg exists for
        since = self._counter("_upserts_since_compact", bump=True)
        if self.auto_compact_every and since >= self.auto_compact_every:
            self.compact(df.sparkSession)

    def truncate(self) -> None:
        """Drop ALL online content (base + delta piles), keeping the
        table's identity (bucket-count sidecar, monotonic ``_seq``).

        Reference parity ``feature_group_engine.py:181``
        (``delete_content`` ahead of an overwrite insert): the online
        table must be emptied BEFORE the overwrite batch upserts, so
        keys absent from the overwrite frame stop serving — online and
        offline snapshots agree again. ``_seq`` is deliberately NOT
        reset: later deltas must still sort after any concurrent
        reader's cached view."""
        for path in (self._base_path, self._delta_path):
            if os.path.exists(path):
                shutil.rmtree(path)
        with open(os.path.join(self.location, "_upserts_since_compact"), "w") as fh:
            fh.write("0")

    def compact(self, spark: SparkSession) -> None:
        """Fold base ∪ delta into a new bucket-partitioned base
        (one shuffle per side of the window + bucketed write), swap it
        in atomically, and clear the delta pile."""
        latest = self._resolve(self._raw(spark))
        tmp = self._base_path + ".tmp"
        (
            latest.repartition(F.col(_BUCKET))
            # pk-sorted row groups: parquet min/max stats then prune a
            # point lookup's pushed pk predicate to one row group
            .sortWithinPartitions(*self.primary_key)
            .write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(tmp)
        )
        if os.path.exists(self._base_path):
            shutil.rmtree(self._base_path)
        os.replace(tmp, self._base_path)
        if os.path.exists(self._delta_path):
            shutil.rmtree(self._delta_path)
        with open(os.path.join(self.location, "_upserts_since_compact"), "w") as fh:
            fh.write("0")

    # -- read path ---------------------------------------------------------
    def _raw(self, spark: SparkSession, buckets: Optional[List[int]] = None) -> DataFrame:
        """base ∪ delta, optionally restricted to a bucket list: the
        base restriction is directory-level partition pruning; the delta
        restriction is a pushed row-group predicate over the (small)
        recent files."""
        if not self._exists():
            raise FileNotFoundError(f"Online store empty at {self.location}")
        parts = []
        for path in (self._base_path, self._delta_path):
            if self._has_parquet(path):
                # mergeSchema: upserts may widen the schema over time
                df = spark.read.option("mergeSchema", "true").parquet(path)
                if buckets is not None:
                    df = df.where(F.col(_BUCKET).isin(buckets))
                parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _resolve(self, df: DataFrame) -> DataFrame:
        order = [c for c in (self.event_time,) if c]
        ties = [c for c in (self.precombine_key,) if c] + [_SEQ]
        # The ordering ends in the unique upsert sequence, so it is
        # total under BOTH strategies. Strategy choice: the delta tail
        # length is known driver-side (the _upserts_since_compact
        # counter; auto-compaction keeps it ≤ auto_compact_every), and
        # a key appears at most ~once per upsert batch, so with a short
        # tail a window-sort partition holds a handful of rows per key —
        # no hot key possible, and the window plan skips the agg path's
        # per-row struct buffers (the b7 regression). An unbounded tail
        # (auto-compaction off) keeps the skew-immune map-side max_by.
        tail = self._counter("_upserts_since_compact")
        return latest_per_key(
            df,
            self.primary_key,
            order_by=order or [_SEQ],
            tie_breakers=ties,
            strategy="window" if tail <= 64 else "agg",
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Latest state per primary key (merge-on-read window)."""
        return self._resolve(self._raw(spark)).drop(_SEQ, _BUCKET)

    # -- serving -----------------------------------------------------------
    def _pruned(self, spark: SparkSession, keys: List[Dict]) -> DataFrame:
        """Latest state restricted to the buckets the keys hash to."""
        buckets = set()
        for k in keys:
            b = self._bucket_of(k)
            if b is None:
                buckets = None  # unprunable key type
                break
            buckets.add(b)
        df = self._raw(spark, sorted(buckets) if buckets is not None else None)
        return self._resolve(df).drop(_SEQ, _BUCKET)

    def get_feature_vector(
        self, spark: SparkSession, key: Dict, return_type: str = "dict"
    ) -> Optional[Dict]:
        """Single lookup: ``WHERE pk1 = v1 AND pk2 = v2`` (prepared-
        statement parity, serving_prepared_statement_fixtures.json:40).

        Prefers the driver-side pyarrow path (ms latency, zero Spark
        jobs); falls back to the Spark plan when the key is unprunable
        or the layout defeats a plain arrow read."""
        if return_type == "dict":
            fast = self._arrow_lookup([key])
            if fast is not None:
                return fast[0]
        df = self._pruned(spark, [key])
        cond = None
        for k in self.primary_key:
            c = F.col(k) == F.lit(key[k])
            cond = c if cond is None else (cond & c)
        rows = df.where(cond).limit(2).collect()
        if not rows:
            return None
        return (
            _utc_naive_values(rows[0].asDict())
            if return_type == "dict"
            else rows[0]
        )

    def get_feature_vectors(
        self, spark: SparkSession, keys: List[Dict]
    ) -> List[Optional[Dict]]:
        """Batch lookup: single-pk → ``IN`` list; composite pk → semi
        join on a literal frame. Results stitched back in request order
        (parity ``core/online_store_sql_engine.py:337-437``). Small
        batches take the driver-side pyarrow path (no Spark job)."""
        if len(keys) <= 1024:
            fast = self._arrow_lookup(keys)
            if fast is not None:
                return fast
        return self.lookup(self._pruned(spark, keys), keys)

    def _arrow_lookup(self, keys: List[Dict]) -> Optional[List[Optional[Dict]]]:
        """Point/batch lookup WITHOUT Spark: the bucket of each key is
        crc32-computable in Python (that is WHY the bucket hash is
        crc32), so the read is (a) the matching ``base/_bucket=N``
        directories and (b) the small delta pile, both through pyarrow
        with the pk predicate pushed to row groups — the same pruning
        the Spark plan does, minus the job-scheduling floor. The
        newest-per-key resolve replays ``_resolve``'s total order
        (event_time, precombine, arrival seq; nulls lowest) in pandas.

        Returns None (→ Spark fallback) for unprunable key types or any
        arrow-side surprise (e.g. schema widening mid-pile)."""
        try:
            import pyarrow.dataset as ds
        except ImportError:  # pragma: no cover
            return None
        buckets = set()
        for k in keys:
            b = self._bucket_of(k)
            if b is None:
                return None
            buckets.add(b)
        if not self._exists():
            raise FileNotFoundError(f"Online store empty at {self.location}")
        try:
            pk = self.primary_key
            vals = {p: list({k[p] for k in keys}) for p in pk}

            def _pk_filter():
                f = None
                for p in pk:
                    e = ds.field(p).isin(vals[p])
                    f = e if f is None else f & e
                return f

            # to_pylist gives python natives and None for nulls — the
            # same value semantics as the Spark Row path (no pandas NaN
            # / int→float coercion); widened-schema rows simply lack
            # keys, which .get() maps to None like allowMissingColumns
            rows: List[Dict] = []
            columns: List[str] = []
            for b in sorted(buckets):
                part = os.path.join(self._base_path, f"{_BUCKET}={b}")
                if self._has_parquet(part):
                    t = ds.dataset(part, format="parquet").to_table(
                        filter=_pk_filter()
                    )
                    rows.extend(t.to_pylist())
                    # union across buckets: schema widening can leave a
                    # new column present in some buckets only; keeping
                    # just the first bucket's names would silently drop
                    # it (the Spark path reads with mergeSchema=true)
                    for c in t.column_names:
                        if c not in columns:
                            columns.append(c)
            if self._has_parquet(self._delta_path):
                t = ds.dataset(self._delta_path, format="parquet").to_table(
                    filter=_pk_filter() & ds.field(_BUCKET).isin(sorted(buckets))
                )
                rows.extend(t.to_pylist())
                for c in t.column_names:
                    if c not in columns:
                        columns.append(c)
            if not rows:
                return [None] * len(keys)
            # EXACTLY _resolve's order: order_by = event_time or [_SEQ],
            # then ties = (precombine, _SEQ). With precombine set and no
            # event_time, arrival sequence must decide FIRST (latest
            # upsert wins) — putting precombine first here would make
            # serving disagree with batch reads (training-serving skew).
            order = (
                ([self.event_time] if self.event_time else [_SEQ])
                + ([self.precombine_key] if self.precombine_key else [])
                + [_SEQ]
            )

            def _sort_key(rec):
                # ascending, nulls first (≡ pick-max desc_nulls_last);
                # the 0 placeholder is only ever compared against other
                # placeholders (the presence flag decides first).
                # tz-aware datetimes coerce to naive UTC so a store
                # whose files mix INT96 (naive through arrow) and
                # int64-utc (aware) still sorts instead of raising
                vals = []
                for c in order:
                    v = _aware_to_naive_utc(rec.get(c))
                    vals.append((v is not None, v if v is not None else 0))
                return tuple(vals)

            rows.sort(key=_sort_key)
            by_key: Dict = {}
            for rec in rows:  # later (greater) rows overwrite → max wins
                by_key[tuple(rec.get(p) for p in pk)] = rec
            drop = {_SEQ, _BUCKET}
            out: List[Optional[Dict]] = []
            for k in keys:
                rec = by_key.get(tuple(k[p] for p in pk))
                if rec is None:
                    out.append(None)
                else:
                    # clock-domain: arrow's NAIVE datetimes are already
                    # UTC (write-time session pin) and stay untouched —
                    # only tz-AWARE values (int64-utc-adjusted files)
                    # coerce to naive UTC, else the same instant would
                    # compare unequal to the collect path. NOT funneled
                    # through _utc_naive_values: its naive-as-local
                    # inverse is for collect() rows, and it would also
                    # trip on the naive pandas.Timestamp objects arrow
                    # yields for ns-precision (INT96) columns
                    out.append({
                        c: _aware_to_naive_utc(rec.get(c))
                        for c in columns if c not in drop
                    })
            return out
        except FileNotFoundError:
            raise
        except Exception as exc:
            # any layout/type surprise → let the Spark plan handle it,
            # but SAY SO: count every degradation, warn once per process
            global _ARROW_FALLBACK_WARNED
            self.arrow_fallback_count += 1
            if not _ARROW_FALLBACK_WARNED:
                _ARROW_FALLBACK_WARNED = True
                warnings.warn(
                    "online-store arrow lookup degraded to the Spark "
                    f"fallback ({type(exc).__name__}: {exc}); further "
                    "lookups on this layout will pay Spark job latency",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return None

    def lookup(self, df: DataFrame, keys: List[Dict]) -> List[Optional[Dict]]:
        """The IN / semi-join lookup against a given resolved snapshot —
        lets a serving layer hand in a persisted (cached) snapshot so
        repeated calls skip the scan + window entirely."""
        if len(self.primary_key) == 1:
            pk = self.primary_key[0]
            vals = [k[pk] for k in keys]
            hits = df.where(F.col(pk).isin(vals)).collect()
        else:
            spark_keys = df.sparkSession.createDataFrame(
                [tuple(k[p] for p in self.primary_key) for k in keys],
                self.primary_key,
            )
            hits = df.join(
                F.broadcast(spark_keys), on=self.primary_key, how="left_semi"
            ).collect()
        by_key = {
            tuple(r[p] for p in self.primary_key): _utc_naive_values(r.asDict())
            for r in hits
        }
        return [by_key.get(tuple(k[p] for p in self.primary_key)) for k in keys]
