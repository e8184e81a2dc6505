"""Transformation functions: @udf decorator, built-in scalers vs oracle
formulas, statistics binding, one-hot arity, drop semantics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_store_api_spark.functions.builtin_transformations import (
    label_encoder,
    min_max_scaler,
    one_hot_encoder,
    robust_scaler,
    standard_scaler,
)
from feature_store_api_spark.functions.udf import (
    TransformationStatistics,
    apply_transformations,
    udf,
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [(i, float(i), ["a", "b", "c"][i % 3]) for i in range(1, 101)]
    return spark.createDataFrame(rows, "id long, x double, cat string")


def test_plain_pandas_udf(df):
    @udf(float)
    def plus_one(x):
        return x + 1

    out = apply_transformations(df, [plus_one("x")])
    assert "plus_one_x" in out.columns
    assert "x" in out.columns  # inputs kept unless drop= declared
    got = {r["id"]: r["plus_one_x"] for r in out.collect()}
    assert got[1] == 2.0 and got[100] == 101.0


def test_udf_drop_subset(df):
    @udf(float, drop=["id"])
    def add_cols(id, x):
        return id + x

    out = apply_transformations(df, [add_cols("id", "x")])
    assert "x" in out.columns and "id" not in out.columns


def test_multi_output_udf(df):
    @udf([float, float])
    def two(x):
        return pd.DataFrame({"a": x * 2, "b": x * 3})

    out = apply_transformations(df, [two("x")])
    assert {"two_x_0", "two_x_1"} <= set(out.columns)
    row = out.where(F.col("id") == 10).collect()[0]
    assert row["two_x_0"] == 20.0 and row["two_x_1"] == 30.0


def test_statistics_bound_udf(df):
    stats = TransformationStatistics("x")

    @udf(float, statistics=stats)
    def center(x, statistics=None):
        return x - statistics.x["mean"]

    out = apply_transformations(df, [center("x")])
    vals = [r["center_x"] for r in out.collect()]
    assert abs(sum(vals)) < 1e-6  # centered


def test_min_max_scaler(df, duck):
    out = apply_transformations(df, [min_max_scaler("x")])
    got = {r["id"]: r["min_max_scaler_x"] for r in out.collect()}
    assert got[1] == 0.0 and got[100] == 1.0
    assert abs(got[50] - 49 / 99) < 1e-12


def test_standard_scaler(df):
    out = apply_transformations(df, [standard_scaler("x")])
    vals = [r["standard_scaler_x"] for r in out.collect()]
    mean = sum(vals) / len(vals)
    assert abs(mean) < 1e-9


def test_robust_scaler(df):
    out = apply_transformations(df, [robust_scaler("x")])
    med = sorted(r["robust_scaler_x"] for r in out.collect())[50]
    assert abs(med) < 0.1  # median ≈ 0 after robust scaling


def test_label_encoder(df):
    out = apply_transformations(df, [label_encoder("cat")])
    got = {r["cat"] if "cat" in r else None for r in out.collect()}
    vals = {r["label_encoder_cat"] for r in out.collect()}
    assert vals == {0, 1, 2}


def test_one_hot_encoder(df):
    out = apply_transformations(df, [one_hot_encoder("cat")])
    oh_cols = [c for c in out.columns if c.startswith("one_hot_encoder_cat")]
    assert len(oh_cols) == 3  # dynamic arity = #unique values
    row = out.limit(1).collect()[0]
    assert sum(1 for c in oh_cols if row[c]) == 1  # exactly one hot


def test_train_split_statistics_binding(spark):
    """Scaler stats from the TRAIN split applied to both splits."""
    train = spark.createDataFrame([(float(i),) for i in range(11)], "x double")
    test = spark.createDataFrame([(20.0,)], "x double")
    out_train = apply_transformations(train, [min_max_scaler("x")], train_df=train)
    out_test = apply_transformations(test, [min_max_scaler("x")], train_df=train)
    assert out_test.collect()[0]["min_max_scaler_x"] == 2.0  # extrapolates past 1
    assert max(r["min_max_scaler_x"] for r in out_train.collect()) == 1.0


def test_on_demand_applied_at_ingest(spark, tmp_path):
    from feature_store_api_spark import FeatureStore

    @udf(float, mode="on_demand")
    def doubled(x):
        return x * 2.0

    @udf(float)  # model_dependent: must NOT run at ingest
    def tripled(x):
        return x * 3.0

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "od_fg", primary_key=["id"],
        transformation_functions=[doubled, tripled],
    )
    src = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, x double")
    fg.insert(src)
    out = fg.read(spark)
    assert "doubled_x" in out.columns
    assert "tripled_x" not in out.columns
    got = {r["id"]: r["doubled_x"] for r in out.collect()}
    assert got[1] == 2.0 and got[2] == 4.0

def test_materialized_on_demand_not_reapplied(spark):
    """An on-demand UDF whose output column already exists (ingest-time
    materialization) must be skipped by apply_transformations — not
    re-applied into a duplicate output column (vector_server.py:924-978
    applies on-demand only when absent)."""

    @udf(float, mode="on_demand")
    def doubled(x):
        return x * 2.0

    @udf(float)
    def tripled(x):
        return x * 3.0

    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 2.0, 4.0)], "id long, x double, doubled_x double"
    )
    out = apply_transformations(df, [doubled, tripled])
    assert out.columns.count("doubled_x") == 1
    row = {r["id"]: r for r in out.collect()}
    assert row[1]["doubled_x"] == 2.0 and row[1]["tripled_x"] == 3.0
    out.toPandas()  # would raise on duplicate column names

def test_udf_registry_roundtrip(spark):
    """A transformation survives serialization to JSON and revival in a
    fresh namespace (parity hopsworks_udf.py:353-566 source capture —
    but no exec into __main__)."""
    from feature_store_api_spark.functions.udf import TransformationFunction

    @udf(float, drop=["x"], mode="on_demand")
    def plus_tax(x):
        return x * 1.19

    revived = TransformationFunction.from_json(plus_tax.to_json())
    assert revived.name == "plus_tax" and revived.mode == "on_demand"
    assert revived.dropped_features() == ["x"]
    df = spark.createDataFrame([(1, 100.0)], "id long, x double")
    out = apply_transformations(df, [revived])
    assert out.columns == ["id", "plus_tax_x"]
    assert abs(out.first()["plus_tax_x"] - 119.0) < 1e-9
    # nothing leaked into this module's globals
    assert "plus_tax" not in globals() or callable(plus_tax)


def test_builtin_registry_roundtrip(spark):
    from feature_store_api_spark.functions.udf import TransformationFunction

    b = min_max_scaler("value")
    revived = TransformationFunction.from_dict(b.to_dict())
    df = spark.createDataFrame([(float(i),) for i in range(11)], "value double")
    a = apply_transformations(df, [b]).collect()
    r = apply_transformations(df, [revived]).collect()
    assert sorted(x["min_max_scaler_value"] for x in a) == sorted(
        x["min_max_scaler_value"] for x in r
    )


def test_stats_bound_udf_registry_roundtrip(spark):
    from feature_store_api_spark.functions.udf import (
        TransformationFunction, TransformationStatistics,
    )

    stats = TransformationStatistics("x")

    @udf(float, statistics=stats)
    def demean(x, statistics=stats):
        return x - statistics.x["mean"]

    revived = TransformationFunction.from_json(demean.to_json())
    df = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    out = {r["demean_x"] for r in apply_transformations(df, [revived]).collect()}
    assert out == {-5.0, 5.0}


def test_quantile_binner_spark_and_pandas_parity(spark):
    """Quartile binner: bins 0-3 against train percentiles, nulls pass
    through, and the driver-side pandas twin matches the Column path."""
    import pandas as pd

    from feature_store_api_spark.functions.builtin_transformations import (
        quantile_binner,
    )
    from feature_store_api_spark.functions.udf import (
        apply_transformations,
        apply_transformations_pandas,
    )
    from feature_store_api_spark.operators.statistics import (
        transformation_statistics,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)] + [(999, None)],
        "k long, v double",
    )
    tf = quantile_binner("v")
    stats = transformation_statistics(df, ["v"], exact_pctl=True)
    out = {r["k"]: r["quantile_binner_v"]
           for r in apply_transformations(df, [tf], stats=stats).collect()}
    assert out[1] == 0 and out[25] == 0
    assert out[26] == 1 and out[50] == 1
    assert out[51] == 2 and out[75] == 2
    assert out[76] == 3 and out[100] == 3
    assert out[999] is None

    pdf = pd.DataFrame({"k": [1, 50, 100, 2], "v": [1.0, 50.0, 100.0, None]})
    pd_out = apply_transformations_pandas(pdf, [tf], stats=stats)
    assert list(pd_out["quantile_binner_v"][:3]) == [0, 1, 3]
    assert pd_out["quantile_binner_v"][3] is None or pd_out["quantile_binner_v"].isna()[3]


@pytest.mark.parametrize("exact_pctl", [False, True])
def test_scalers_and_binner_all_null_window_yield_null(spark, exact_pctl):
    """A fitted window where every value of the feature is NULL has no
    min/max, mean or percentiles to transform by: the scalers and the
    quartile binner return NULL on the Spark path and on the driver-side
    pandas path instead of failing on float(None)."""
    from feature_store_api_spark.functions.builtin_transformations import (
        quantile_binner,
    )
    from feature_store_api_spark.functions.udf import (
        apply_transformations_pandas,
    )
    from feature_store_api_spark.operators.statistics import (
        transformation_statistics,
    )

    train = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
    tfs = [min_max_scaler("v"), standard_scaler("v"), robust_scaler("v"),
           quantile_binner("v")]
    stats = transformation_statistics(train, ["v"], exact_pctl=exact_pctl)
    types = {"min_max_scaler_v": "double", "standard_scaler_v": "double",
             "robust_scaler_v": "double", "quantile_binner_v": "bigint"}

    scored = spark.createDataFrame([(1, 5.0), (2, None)], "k long, v double")
    out = apply_transformations(scored, tfs, stats=stats)
    assert {n: t for n, t in out.dtypes if n in types} == types
    assert all(r[n] is None for r in out.collect() for n in types)

    pdf = pd.DataFrame({"k": [1, 2], "v": [5.0, None]})
    pd_out = apply_transformations_pandas(pdf, tfs, stats=stats)
    assert all(pd_out[n].isna().all() for n in types)
