"""Preprocessing operator semantics (reference preprocessing.py:7-108)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_mas_spark.config import MASConfig
from polars_mas_spark.operators.fills import backward_fill, forward_fill
from polars_mas_spark.operators.preprocessing import (
    create_dummy_covariates,
    drop_constant_covariates,
    handle_missing_covariates,
    limit_sex_specific,
)


@pytest.fixture()
def wide_df(spark):
    pdf = pd.DataFrame(
        {
            "rid": range(8),
            "sex": [1, 0, 1, 0, 1, 0, 1, 0],
            "age": [30.0, None, 50.0, 60.0, None, 40.0, 45.0, 55.0],
            "grp": ["a", "b", "c", "a", "b", "c", "a", "a"],
            "const": [7.0] * 8,
            "y": [0, 1, 0, 1, 0, 1, 0, 1],
        }
    )
    return spark.createDataFrame(pdf)


def _cfg(**kw):
    base = dict(predictors="rid", dependents="y", covariates=["sex", "age"])
    base.update(kw)
    cfg = MASConfig(**base)
    return cfg


def test_sex_filter_female_only(wide_df):
    cfg = _cfg(female_only=True, sex_col="sex", female_code=1)
    cfg.resolve(wide_df.columns)
    out = limit_sex_specific(wide_df, cfg)
    assert out.count() == 4
    assert out.agg(F.min("sex"), F.max("sex")).first() == (1, 1)


def test_sex_filter_male_only(wide_df):
    cfg = _cfg(male_only=True)
    cfg.resolve(wide_df.columns)
    assert limit_sex_specific(wide_df, cfg).count() == 4


def test_missing_fail_raises(wide_df):
    cfg = _cfg(missing_covariate_values="fail")
    cfg.resolve(wide_df.columns)
    with pytest.raises(ValueError, match="Missing values found in covariate column 'age'"):
        handle_missing_covariates(wide_df, cfg)


def test_missing_drop(wide_df):
    cfg = _cfg(missing_covariate_values="drop")
    cfg.resolve(wide_df.columns)
    assert handle_missing_covariates(wide_df, cfg).count() == 6


@pytest.mark.parametrize(
    "strategy,expected",
    [("mean", 46.666666666666664), ("min", 30.0), ("max", 60.0)],
)
def test_missing_stat_fills(wide_df, strategy, expected):
    cfg = _cfg(missing_covariate_values=strategy)
    cfg.resolve(wide_df.columns)
    out = handle_missing_covariates(wide_df, cfg)
    vals = {r["rid"]: r["age"] for r in out.select("rid", "age").collect()}
    assert vals[1] == pytest.approx(expected)
    assert vals[4] == pytest.approx(expected)
    assert vals[0] == 30.0  # untouched


def test_missing_zero_fill_scoped_to_covariates(wide_df):
    cfg = _cfg(missing_covariate_values="zero")
    cfg.resolve(wide_df.columns)
    out = handle_missing_covariates(wide_df, cfg)
    vals = {r["rid"]: r["age"] for r in out.select("rid", "age").collect()}
    assert vals[1] == 0.0 and vals[4] == 0.0


def test_forward_fill_requires_order_col(wide_df):
    cfg = _cfg(missing_covariate_values="forward")
    cfg.resolve(wide_df.columns)
    with pytest.raises(ValueError, match="order column"):
        handle_missing_covariates(wide_df, cfg)


@pytest.mark.parametrize("num_blocks", [1, 3])
def test_forward_fill_matches_sequential_semantics(spark, num_blocks):
    pdf = pd.DataFrame(
        {"ord": range(10), "v": [None, 1.0, None, None, 4.0, None, 6.0, None, None, None]}
    )
    df = spark.createDataFrame(pdf).repartition(4)
    out = forward_fill(df, ["v"], "ord", num_blocks=num_blocks)
    got = [r["v"] for r in out.orderBy("ord").collect()]
    assert got == [None, 1.0, 1.0, 1.0, 4.0, 4.0, 6.0, 6.0, 6.0, 6.0]


@pytest.mark.parametrize("num_blocks", [1, 3])
def test_backward_fill_matches_sequential_semantics(spark, num_blocks):
    pdf = pd.DataFrame(
        {"ord": range(10), "v": [None, 1.0, None, None, 4.0, None, 6.0, None, None, None]}
    )
    df = spark.createDataFrame(pdf).repartition(4)
    out = backward_fill(df, ["v"], "ord", num_blocks=num_blocks)
    got = [r["v"] for r in out.orderBy("ord").collect()]
    assert got == [1.0, 1.0, 4.0, 4.0, 4.0, 6.0, 6.0, None, None, None]


def test_drop_constant_covariates_updates_config(wide_df):
    cfg = _cfg(covariates=["sex", "const"], missing_covariate_values="zero")
    cfg.resolve(wide_df.columns)
    out = drop_constant_covariates(wide_df, cfg)
    assert "const" not in out.columns
    assert cfg.covariate_columns == ["sex"]


def test_one_hot_drop_first_sorted_levels(wide_df):
    cfg = _cfg(covariates=["sex", "grp"], categorical_covariates=["grp"])
    cfg.resolve(wide_df.columns)
    out = create_dummy_covariates(wide_df, cfg)
    assert "grp" not in out.columns
    assert "grp_b" in out.columns and "grp_c" in out.columns
    assert "grp_a" not in out.columns  # first sorted level dropped
    assert set(cfg.covariate_columns) == {"sex", "grp_b", "grp_c"}
    row = {r["rid"]: (r["grp_b"], r["grp_c"]) for r in out.collect()}
    assert row[1] == (1, 0) and row[2] == (0, 1) and row[0] == (0, 0)


def test_one_hot_binary_categorical_passthrough(spark):
    pdf = pd.DataFrame({"rid": range(4), "y": [0, 1, 0, 1], "bin": ["m", "f", "m", "f"]})
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="rid", dependents="y", covariates=["bin"], categorical_covariates=["bin"]
    )
    cfg.resolve(df.columns)
    out = create_dummy_covariates(df, cfg)
    assert "bin" in out.columns  # <=2 levels: untouched (preprocessing.py:95)


def test_constant_string_covariate_dropped_not_failed(spark):
    """A constant string covariate must be dropped by the constant check
    (as it always was), not hard-failed by the undeclared-string guard —
    the guard runs after the drop."""
    import numpy as np
    import pandas as pd

    from polars_mas_spark.operators.preprocessing import preprocess

    rng = np.random.default_rng(23)
    n = 60
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 5, n),
        "batch": ["A"] * n,  # constant string, NOT declared categorical
        "q": rng.normal(0, 1, n),
    })
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["age", "batch"],
        model="linear", quantitative=True, min_case_count=10,
        missing_covariate_values="drop",
    ).resolve(df.columns)
    out = preprocess(df, cfg)
    assert cfg.covariate_columns == ["age"]
    assert "batch" not in out.columns


def test_string_covariate_clear_error_both_paths(spark, tmp_path):
    """A NON-constant string covariate not declared categorical must
    raise the clear ValueError on BOTH preprocessing implementations:
    preprocess() (tall paths) and build_prep_recipe() (columnar path) —
    not an opaque to_numpy crash inside a Python worker."""
    import numpy as np
    import pandas as pd
    import pytest as pt

    from polars_mas_spark.operators.preprocessing import (
        build_prep_recipe,
        preprocess,
    )

    rng = np.random.default_rng(29)
    n = 60
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "smoker": [["never", "former", "current"][i % 3] for i in range(n)],
        "q": rng.normal(0, 1, n),
    })
    df = spark.createDataFrame(pdf)

    def cfg():
        return MASConfig(
            predictors="x", dependents=["q"], covariates=["smoker"],
            model="linear", quantitative=True, min_case_count=10,
            missing_covariate_values="drop",
        ).resolve(df.columns)

    with pt.raises(ValueError, match="String-typed covariate"):
        preprocess(df, cfg())
    with pt.raises(ValueError, match="String-typed covariate"):
        build_prep_recipe(df, cfg())


def test_recipe_refuses_ordered_fill_naming_packed(spark):
    """An ordered covariate fill cannot be a per-task recipe. The
    refusal names the strategy that runs it, packed, as the planner's
    fallback for the same case does (pipeline._COLUMNAR_GUARDS)."""
    import pytest as pt

    from polars_mas_spark.operators.preprocessing import build_prep_recipe

    df = spark.createDataFrame(
        [(1, 40.0, 1.0), (2, None, 2.0)], "rid long, age double, q double"
    )
    cfg = MASConfig(
        predictors="rid", dependents=["q"], covariates=["age"],
        model="linear", quantitative=True,
        missing_covariate_values="forward",
    ).resolve(df.columns)
    with pt.raises(ValueError, match="strategy='packed'"):
        build_prep_recipe(df, cfg)


def test_recipe_sex_filter_null_parity(spark):
    """Review r4: male_only in the recipe path kept null-sex rows (NaN
    != code is True in pandas) while the Spark filter dropped them —
    the columnar strategy fitted a different cohort."""
    import numpy as np
    import pandas as pd

    from polars_mas_spark.operators.preprocessing import (
        PrepRecipe,
        limit_sex_specific,
    )

    pdf = pd.DataFrame({"sex": [0.0, 1.0, np.nan], "x": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    for male_only, female_only in ((True, False), (False, True)):
        cfg = MASConfig(
            predictors="x", dependents=[], covariates=[],
            male_only=male_only, female_only=female_only, sex_col="sex",
        )
        cfg.column_names = list(df.columns)  # skip resolve (no deps)
        eager = {r["x"] for r in limit_sex_specific(df, cfg).collect()}
        recipe = PrepRecipe(sex_filter=("sex", female_only, 1))
        got = set(recipe.apply_pandas(pdf.copy())["x"])
        assert got == eager, (male_only, female_only)


def test_recipe_int_fill_truncation_parity(spark):
    """Review r4: the recipe's int-truncation guard tested the pandas
    dtype, which is float64 exactly when nulls exist — int columns were
    filled with the raw mean while Spark's na.fill truncates."""
    import pandas as pd

    from polars_mas_spark.operators.preprocessing import (
        build_prep_recipe,
        preprocess,
    )

    df = spark.createDataFrame(
        [(1, 40, 1.0), (2, 51, 2.0), (3, None, 3.0)],
        "rid long, age int, q double",
    )

    def cfg():
        return MASConfig(
            predictors="rid", dependents=["q"], covariates=["age"],
            model="linear", quantitative=True,
            missing_covariate_values="mean",
        ).resolve(df.columns)

    eager = preprocess(df, cfg()).toPandas().set_index("rid")
    recipe = build_prep_recipe(df, cfg())
    assert recipe.int_fill_cols == ["age"]
    got = recipe.apply_pandas(
        pd.DataFrame({"rid": [3], "age": [float("nan")], "q": [3.0]})
    )
    assert got["age"].iloc[0] == eager.loc[3, "age"] == 45  # int(45.5)


def test_binary_categorical_removal_warns(spark):
    """Review r4: reference-parity removal of <=2-level categoricals
    from the design is kept but must WARN (previously silent)."""
    import pytest as pt

    from polars_mas_spark.operators.preprocessing import preprocess

    df = spark.createDataFrame(
        [(1, 0, 1.0), (2, 1, 2.0), (3, 0, 3.0)],
        "rid long, bincat int, q double",
    )
    cfg = MASConfig(
        predictors="rid", dependents=["q"], covariates=["bincat"],
        categorical_covariates=["bincat"],
        model="linear", quantitative=True,
        missing_covariate_values="drop",
    ).resolve(df.columns)
    with pt.warns(UserWarning, match="REMOVED from the design"):
        preprocess(df, cfg)
    assert cfg.covariate_columns == []


def test_config_validation_tightened():
    """Review r4: cats must be a true subset of covariates; male_only +
    female_only is contradictory; reversed/garbage index ranges raise."""
    import pytest as pt

    cols = [f"c{i}" for i in range(12)]
    with pt.raises(ValueError, match="subset"):
        MASConfig(
            predictors="c0", dependents=["c1"], covariates=["c2"],
            categorical_covariates=["c2", "c3"],
        ).resolve(cols)
    with pt.raises(ValueError, match="mutually exclusive"):
        MASConfig(
            predictors="c0", dependents=["c1"],
            male_only=True, female_only=True,
        ).resolve(cols)
    from polars_mas_spark.config import resolve_columns
    with pt.raises(ValueError, match="Empty index range"):
        resolve_columns("i:10-5", cols)
    with pt.raises(ValueError, match="Invalid index expression"):
        resolve_columns("i:-1", cols)


def test_ordered_fill_empty_frame_and_bad_order_col(spark):
    """Review r4: zero-row input must pass through (not star-expand
    crash); a string order column must raise, not silently collapse to
    one block."""
    import pytest as pt

    from polars_mas_spark.operators.fills import forward_fill

    empty = spark.createDataFrame([], "rid long, v double")
    assert forward_fill(empty, ["v"], "rid").count() == 0
    strs = spark.createDataFrame([("a", 1.0)], "rid string, v double")
    with pt.raises(ValueError, match="non-numeric type"):
        forward_fill(strs, ["v"], "rid").count()


def test_covariate_correlations_values_and_guards(spark):
    """Pearson r over the pairwise-complete mask; a constant column
    yields NULL (never an ANSI divide-by-zero task failure); NULL rows
    are excluded pairwise, not listwise."""
    from polars_mas_spark.operators.preprocessing import covariate_correlations

    df = spark.createDataFrame(
        [(float(i), 2.0 * i + 1, 5.0, None if i % 2 else float(i))
         for i in range(20)],
        "a double, b double, e double, f double",
    )
    rows = {(r.col_a, r.col_b): r.corr
            for r in covariate_correlations(df, ["a", "b", "e", "f"]).collect()}
    assert rows[("a", "b")] == pytest.approx(1.0)
    assert rows[("a", "e")] is None  # constant: undefined, not an error
    assert rows[("a", "f")] == pytest.approx(1.0)  # pairwise-complete
    assert rows[("e", "f")] is None
    # Fewer than 2 covariates: empty result, no job.
    assert covariate_correlations(df, ["a"]).count() == 0


def test_new_operators_accept_dotted_column_names(spark):
    """qcol discipline (colutils): dotted user column names must work
    through covariate_correlations — F.col('250.1') would parse as a
    struct access and fail or silently misresolve."""
    from polars_mas_spark.operators.preprocessing import covariate_correlations

    df = spark.createDataFrame(
        [(i, float(i), float(i) * 2 + 1) for i in range(40)],
        ["id", "250.1", "008.5"],
    )
    corr = {
        (r.col_a, r.col_b): r.corr
        for r in covariate_correlations(df, ["250.1", "008.5"]).collect()
    }
    assert corr[("250.1", "008.5")] == 1.0


def test_drop_correlated_covariates_greedy_first_kept_wins(spark):
    """b (|r|=1 with a) and f (|r|=1 with a on its non-null rows) drop;
    d (uncorrelated) and e (constant -> NULL corr, the constant-drop
    operator's job) survive; config list updated in place."""
    from polars_mas_spark.operators.preprocessing import (
        drop_correlated_covariates,
    )

    df = spark.createDataFrame(
        [(float(i), 2.0 * i + 1, float(i % 3), 5.0,
          None if i % 2 else float(i), float(i), 0.0)
         for i in range(30)],
        "a double, b double, d double, e double, f double, rid double, y double",
    )
    cfg = _cfg(covariates=["a", "b", "d", "e", "f"])
    cfg.resolve(df.columns)
    out = drop_correlated_covariates(df, cfg, threshold=0.95)
    assert cfg.covariate_columns == ["a", "d", "e"]
    assert set(out.columns) == {"a", "d", "e", "rid", "y"}
    # Below-threshold frame is returned untouched (same object).
    cfg2 = _cfg(covariates=["d", "e"])
    cfg2.resolve(df.columns)
    assert drop_correlated_covariates(df, cfg2) is df


def test_preprocess_drop_correlated_opt_in(spark):
    """drop_correlated_above wires the greedy pruner into the chain
    (after one-hot, so dummies participate); default None is off."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "rid": range(12),
            "age": [float(i) for i in range(12)],
            "age2": [2.0 * i + 3 for i in range(12)],
            "bmi": [float(i % 4) for i in range(12)],
            "y": [i % 2 for i in range(12)],
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = _cfg(covariates=["age", "age2", "bmi"],
               missing_covariate_values="zero",
               drop_correlated_above=0.95)
    cfg.resolve(df.columns)
    from polars_mas_spark.operators.preprocessing import preprocess

    out = preprocess(df, cfg)
    assert cfg.covariate_columns == ["age", "bmi"]
    assert "age2" not in out.columns
    # Off by default: same data, no flag, nothing dropped.
    cfg2 = _cfg(covariates=["age", "age2", "bmi"],
                missing_covariate_values="zero")
    cfg2.resolve(df.columns)
    assert "age2" in preprocess(df, cfg2).columns


def test_pipeline_columnar_guard_for_correlated_drop(spark, tmp_path):
    """drop_correlated_above must never be silently ignored: an
    explicit columnar request errors, an auto pick falls back to the
    tall path and actually prunes (review r5 finding)."""
    import pandas as pd
    import pytest as pt

    from polars_mas_spark.pipeline import run_pipeline

    pdf = pd.DataFrame(
        {
            "x": [float(i) for i in range(60)],
            "age": [float(i % 9) for i in range(60)],
            "age2": [2.0 * (i % 9) + 1 for i in range(60)],
            **{f"y{j}": [(i + j) % 2 for i in range(60)] for j in range(8)},
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=[f"y{j}" for j in range(8)],
        covariates=["age", "age2"], model="logistic", min_case_count=5,
        missing_covariate_values="zero", drop_correlated_above=0.9,
    )
    with pt.raises(ValueError, match="drop_correlated_above"):
        run_pipeline(spark, cfg, df=df, strategy="columnar")
    # Auto: 60 rows would pick columnar; the guard reroutes to
    # packed and the pruner runs (age2 leaves every equation).
    cfg2 = MASConfig(
        predictors="x", dependents=[f"y{j}" for j in range(8)],
        covariates=["age", "age2"], model="logistic", min_case_count=5,
        missing_covariate_values="zero", drop_correlated_above=0.9,
    )
    res = run_pipeline(spark, cfg2, df=df).toPandas()
    assert len(res) == 8
    assert not any("age2" in e for e in res["equation"].dropna())
    assert cfg2.covariate_columns == ["age"]
