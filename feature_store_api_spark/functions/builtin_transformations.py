"""Built-in statistics-driven transformations.

Parity: ``/root/reference/python/hsfs/builtin_transformations.py:26-66``
(min_max_scaler, standard_scaler, robust_scaler, label_encoder,
one_hot_encoder). Unlike the reference's pandas UDFs, these provide
native Column-expression fast paths — pure Catalyst expressions, no
Python worker round-trip, so scaling a 100 TB training set stays inside
whole-stage codegen. Formulas are identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .udf import TransformationFunction, TransformationStatistics


def _stats_of(stats, feature):
    s = getattr(stats, feature, None)
    if not s:
        raise ValueError(f"Statistics for feature {feature!r} not bound")
    return s


def _make(name, column_expr, return_type="double", output_column_names=None,
          stat_fields=None, pandas_expr=None):
    # fn body used only in the (never-taken) pandas fallback; the
    # column_expr fast path is authoritative for Spark plans and the
    # pandas_expr twin for driver-side serving
    def fn(feature, statistics=None):  # pragma: no cover
        raise NotImplementedError(f"{name} runs via its Column expression")

    fn.__name__ = name
    stats_decl = TransformationStatistics("feature")
    tf = TransformationFunction(
        fn,
        return_type,
        drop=["feature"],  # scalers/encoders replace their input
        statistics=stats_decl,
        column_expr=column_expr,
        output_column_names=output_column_names,
        stat_fields=stat_fields,
        pandas_expr=pandas_expr,
    )
    tf.arity = 1
    return tf


def _make_linear(name, fit, stat_fields):
    """A linear scaler ``(x - offset) / scale`` with ``(offset, scale) =
    fit(stats)``. The formula is plain float arithmetic, so one function
    is both the Column expression and its pandas twin. ``fit`` returns
    None when the fitted window held no non-null value; the output is
    then NULL (None propagates on a Column, NaN in pandas)."""
    def expr(cols, stats):
        x = cols[0]
        fitted = fit(_stats_of(stats, "feature"))
        if fitted is None:
            fitted = (None if isinstance(x, Column) else float("nan"), 1.0)
        offset, scale = fitted
        return [(x - offset) / scale]

    return _make(name, expr, stat_fields=stat_fields, pandas_expr=expr)


def _fit_min_max(s):
    if s["min"] is None:
        return None
    lo, hi = float(s["min"]), float(s["max"])
    return lo, (hi - lo) or 1.0


def _fit_standard(s):
    if s["mean"] is None:
        return None
    return float(s["mean"]), float(s["stddev"] or 1.0) or 1.0


def _quartiles(s):
    """``(p25, p50, p75)`` as floats, or None when the fitted window held
    no non-null value."""
    pcts = s["percentiles"]
    if not pcts or None in pcts:
        return None
    return tuple(float(p) for p in pcts)


def _fit_robust(s):
    q = _quartiles(s)
    if q is None:
        return None
    p25, p50, p75 = q
    return p50, (p75 - p25) or 1.0


def _label_encode(cols, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    expr = F.lit(-1)
    # build right-to-left when/otherwise chain; unseen values → -1
    out = None
    for i, v in enumerate(vals):
        clause = F.when(cols[0] == F.lit(v), F.lit(i))
        out = clause if out is None else out.when(cols[0] == F.lit(v), F.lit(i))
    return [out.otherwise(expr).cast("long") if out is not None else expr.cast("long")]


def _one_hot(cols, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    return [
        F.when(cols[0] == F.lit(v), F.lit(True)).otherwise(F.lit(False))
        for v in vals
    ]


def _one_hot_names(features, stats):
    # dynamic arity: one output per unique value (hopsworks_udf.py:617-628)
    s = (stats or {}).get(features[0], {})
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    base = f"one_hot_encoder_{'_'.join(features)}"
    return [f"{base}_{i}" for i in range(len(vals))] or [base]


def _quantile_bin(cols, stats):
    q = _quartiles(_stats_of(stats, "feature"))
    if q is None:
        return [F.lit(None).cast("long")]
    p25, p50, p75 = q
    c = cols[0]
    return [
        F.when(c.isNull(), F.lit(None))
        .when(c <= F.lit(p25), F.lit(0))
        .when(c <= F.lit(p50), F.lit(1))
        .when(c <= F.lit(p75), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
    ]


# -- driver-side pandas twins of the Column expressions that use F.when
# (ms-latency serving; formula parity is pinned by
# tests/test_transformations.py) -----------------------------------------

def _quantile_bin_pd(series, stats):
    q = _quartiles(_stats_of(stats, "feature"))

    def bin_of(v):
        if q is None or v is None or v != v:  # no fit / None / NaN
            return None
        p25, p50, p75 = q
        if v <= p25:
            return 0
        if v <= p50:
            return 1
        if v <= p75:
            return 2
        return 3

    return [series[0].map(bin_of)]


def _label_encode_pd(series, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    mapping = {v: i for i, v in enumerate(vals)}
    return [series[0].map(lambda v: mapping.get(v, -1))]


def _one_hot_pd(series, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    return [(series[0] == v).fillna(False) for v in vals]


# each builtin declares EXACTLY the stat fields its formula reads, so
# the shared train-split stats pass computes nothing else (a
# min_max+standard list = one narrow aggregate, zero extra scans)
min_max_scaler = _make_linear("min_max_scaler", _fit_min_max, ("min", "max"))
standard_scaler = _make_linear(
    "standard_scaler", _fit_standard, ("mean", "stddev")
)
robust_scaler = _make_linear("robust_scaler", _fit_robust, ("percentiles",))
# quartile binning (beyond the reference's five builtins): train-split
# quartile edges -> ordinal bins 0-3, nulls stay null; shares the
# percentile stat field with robust_scaler so combining them costs no
# extra stats pass
quantile_binner = _make(
    "quantile_binner", _quantile_bin, return_type="bigint",
    stat_fields=("percentiles",),
    pandas_expr=_quantile_bin_pd,
)
label_encoder = _make(
    "label_encoder", _label_encode, return_type="bigint",
    stat_fields=("unique_values",),
    pandas_expr=_label_encode_pd,
)
one_hot_encoder = _make(
    "one_hot_encoder", _one_hot, return_type="boolean",
    output_column_names=_one_hot_names,
    stat_fields=("unique_values",),
    pandas_expr=_one_hot_pd,
)
# one_hot's output count depends on statistics; mark multi_output so the
# apply path expands correctly
one_hot_encoder.multi_output = True
