"""Association fan-out: distributed results must equal a local serial
fit of the same data, and the failure-as-row contract must hold
(reference analysis.py:42-260)."""

import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from polars_mas_spark.config import MASConfig
from polars_mas_spark.functions.stats import logistic_fit, ols_fit
from polars_mas_spark.operators.association import build_long_table, run_associations
from polars_mas_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def synth(spark):
    rng = np.random.default_rng(42)
    n = 600
    pdf = pd.DataFrame(
        {
            "x": rng.normal(0, 1, n),
            "age": rng.normal(50, 10, n),
            "sex": rng.integers(0, 2, n),
        }
    )
    for i, eff in enumerate([0.0, 0.8, 1.5]):
        logit = -1.0 + eff * pdf["x"] + 0.01 * (pdf["age"] - 50)
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    # ph_rare: too few cases -> must fail validation
    pdf["ph_rare"] = 0
    pdf.loc[:4, "ph_rare"] = 1
    # ph_null: all nulls -> pair disappears from the long table entirely
    pdf["ph_null"] = pd.array([None] * n, dtype="Int64")
    return pdf, spark.createDataFrame(pdf)


def test_long_table_shape(synth, spark):
    pdf, df = synth
    long_df = build_long_table(df, ["x"], ["ph_0", "ph_1"], ["age", "sex"])
    assert long_df.columns == [
        "predictor", "__pred_value__", "age", "sex", "dependent", "__dep_value__",
    ]
    assert long_df.count() == 2 * len(pdf)
    assert long_df.select("dependent").distinct().count() == 2


def test_distributed_matches_serial_logistic(synth, spark):
    pdf, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["ph_0", "ph_1", "ph_2"],
        covariates=["age", "sex"], model="logistic", min_case_count=5,
    )
    res = run_pipeline(spark, cfg, df=df).toPandas().set_index("dependent")
    for dep in ["ph_0", "ph_1", "ph_2"]:
        X = pdf[["x", "age", "sex"]].to_numpy(float)
        y = pdf[dep].to_numpy(float)
        serial = logistic_fit(X, y)
        got = res.loc[dep]
        assert got["beta"] == pytest.approx(serial["beta"], abs=1e-9)
        assert got["pval"] == pytest.approx(serial["pval"], rel=1e-9, abs=1e-300)
        assert got["se"] == pytest.approx(serial["se"], abs=1e-9)
        assert got["cases"] == int(y.sum())
        assert got["total_n"] == len(y)
        assert got["equation"] == f"{dep} ~ x + age + sex"
    # sorted by pval ascending
    pvals = res["pval"].dropna().to_list()
    assert pvals == sorted(pvals)


def test_failure_rows_not_exceptions(synth, spark):
    pdf, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["ph_0", "ph_rare", "ph_null"],
        covariates=["age", "sex"], model="firth", min_case_count=20,
    )
    out = run_associations(df, cfg.resolve(df.columns), strategy="columnar")
    # Failure rows must arrive as float NaN, NEVER NULL: the Arrow
    # grouped-map boundary converts the kernel's pandas NaN to NULL, and
    # _complete_pairs restores it so `pval IS NOT NULL` counts failures
    # exactly like the reference's polars is_not_null() (VERDICT r2 #1).
    import pyarrow.compute as pc

    assert out["pval"].null_count == 0
    assert pc.sum(pc.is_nan(out["pval"])).as_py() == 2  # ph_rare + ph_null
    res = out.to_pandas().set_index("dependent")
    rare = res.loc["ph_rare"]
    assert rare["failed_reason"] == "Insufficient case count (5 cases)."
    assert math.isnan(rare["pval"])
    assert rare["cases"] == -9 and rare["converged"] == False  # noqa: E712
    nul = res.loc["ph_null"]
    assert nul["failed_reason"] == "No data after dropping nulls."
    assert math.isnan(nul["pval"])
    ok = res.loc["ph_0"]
    assert ok["failed_reason"] == "nan"
    assert ok["converged"] == True  # noqa: E712


def test_failed_fits_count_toward_bonferroni(synth, spark):
    # Reference parity (postprocessing.py:18): num_tests counts every
    # row whose pval is not a true null — NaN failure rows INCLUDED. With
    # 3 dependents (one engineered to fail validation), the threshold
    # must be 0.05/3, not 0.05/2.
    from pyspark.sql import functions as F

    pdf, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["ph_0", "ph_1", "ph_rare"],
        covariates=["age", "sex"], model="logistic", min_case_count=20,
    )
    res = run_pipeline(spark, cfg, df=df)
    # The failed fit reaches bonferroni as NaN => counted in num_tests.
    assert res.filter(F.col("pval").isNotNull()).count() == 3
    out = res.toPandas().set_index("dependent")
    assert out.loc["ph_rare", "failed_reason"].startswith("Insufficient case")
    # NaN < threshold is False, not NULL — failure rows are explicitly
    # non-significant (polars semantics), not missing.
    assert out.loc["ph_rare", "bonferroni_significant"] == False  # noqa: E712
    # Threshold uses all 3 tests: a pval between 0.05/3 and 0.05/2 must
    # be non-significant. Verify via the scalar operator directly.
    from polars_mas_spark.operators.postprocessing import bonferroni

    # NB: createDataFrame(pandas) would itself convert NaN -> NULL at the
    # Arrow boundary; a SQL literal produces a true double NaN, and
    # toArrow() keeps it.
    probe = spark.sql(
        "SELECT pval FROM VALUES (0.02D), (CAST('NaN' AS DOUBLE)), (0.0001D) t(pval)"
    ).toArrow()
    flagged = bonferroni(probe).to_pandas().sort_values("pval").reset_index(drop=True)
    # 0.05/3 = 0.01667 < 0.02 -> NOT significant (with the undercount bug
    # num_tests would be 2 -> 0.025 threshold -> wrongly significant).
    assert flagged.loc[1, "bonferroni_significant"] == False  # noqa: E712
    assert flagged.loc[0, "bonferroni_significant"] == True  # noqa: E712


def test_multi_predictor_fanout(synth, spark):
    pdf, df = synth
    cfg = MASConfig(
        predictors=["x", "age"], dependents=["ph_0", "ph_1"],
        covariates=["sex"], model="logistic", min_case_count=5,
    )
    res = run_associations(df, cfg.resolve(df.columns), strategy="columnar").to_pandas()
    assert len(res) == 4
    assert set(zip(res["predictor"], res["dependent"])) == {
        ("x", "ph_0"), ("x", "ph_1"), ("age", "ph_0"), ("age", "ph_1"),
    }


def test_quantitative_linear(synth, spark):
    pdf, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["age"], covariates=["sex"],
        model="linear", quantitative=True, min_case_count=20,
    )
    res = run_associations(
        df, cfg.resolve(df.columns), strategy="moments"
    ).to_pandas().iloc[0]
    serial = ols_fit(pdf[["x", "sex"]].to_numpy(float), pdf["age"].to_numpy(float))
    assert res["beta"] == pytest.approx(serial["beta"], abs=1e-9)
    assert res["pval"] == pytest.approx(serial["pval"], rel=1e-9)
    assert res["n_observations"] == len(pdf)


def test_constant_covariate_dropped_per_group(spark):
    # sex is constant within this subset -> must vanish from the equation
    pdf = pd.DataFrame(
        {
            "x": np.r_[np.zeros(40), np.ones(40)],
            "sex": np.ones(80),
            "y": np.r_[np.zeros(20), np.ones(20), np.zeros(10), np.ones(30)],
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["y"], covariates=["sex"],
        model="logistic", min_case_count=5,
    )
    res = run_associations(
        df, cfg.resolve(df.columns), strategy="columnar"
    ).to_pandas().iloc[0]
    assert res["equation"] == "y ~ x + "
    assert np.isfinite(res["beta"])


def test_packed_strategy_matches_columnar_and_shrinks_shuffle(spark):
    """SURVEY §7.4.6: the packed tall-table fan-out must be
    result-identical to the columnar fan-out (failure rows, sex
    restrictions, all-null pairs included) while moving ~C× fewer
    cells through the shuffle than a per-pair long table on a
    many-covariate table."""
    from polars_mas_spark.operators.association import (
        build_long_table,
        build_packed_long_table,
        dependent_buckets,
    )

    rng = np.random.default_rng(13)
    n, n_cov, n_dep = 400, 20, 12
    pdf = pd.DataFrame({"x": rng.normal(0, 1, n)})
    for c in range(n_cov):
        pdf[f"cov{c}"] = rng.normal(0, 1, n)
    for i in range(n_dep):
        logit = -1.0 + (0.9 if i % 3 == 0 else 0.0) * pdf["x"]
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    pdf["ph_0"] = 0
    pdf.loc[:3, "ph_0"] = 1  # failure row: too few cases
    pdf["ph_1"] = pd.array([None] * n, dtype="Int64")  # vanishing pair
    covs = [f"cov{c}" for c in range(n_cov)]
    deps = [f"ph_{i}" for i in range(n_dep)]
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=deps, covariates=covs,
        model="logistic", min_case_count=10,
    ).resolve(df.columns)

    a = (run_associations(df, cfg, strategy="columnar")
         .to_pandas().sort_values("dependent").reset_index(drop=True))
    b = (run_associations(df, cfg, strategy="packed", n_buckets=3)
         .to_pandas().sort_values("dependent").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)
    assert b.set_index("dependent").loc["ph_1", "failed_reason"] == (
        "No data after dropping nulls."
    )

    # Structural shuffle reduction: a per-pair long table ("classic")
    # moves n·D rows × (C+1 value cols); packed with G buckets moves n·G rows × (C cols + D/G array
    # cells). At C=20, D=12, G=3 that is 4× fewer rows and ~3.8× fewer
    # cells through the exchange.
    classic = build_long_table(df, ["x"], deps, covs)
    buckets = dependent_buckets(deps, 3)
    packed = build_packed_long_table(df, ["x"], deps, covs, buckets)
    n_classic, n_packed = classic.count(), packed.count()
    assert n_classic == n * n_dep
    assert n_packed == n * 3
    cells_classic = n_classic * (n_cov + 1)
    cells_packed = n_packed * (n_cov + n_dep // 3)
    assert cells_packed * 3 < cells_classic


def test_moments_strategy_matches_kernel_ols(spark):
    """The sufficient-statistics linear fan-out must reproduce the
    pandas-kernel OLS results to float precision — including per-pair
    constant-covariate drop, sex-restricted dependents, validation
    failure rows, and vanishing all-null pairs — while shuffling only
    O(k²) aggregate partials per pair instead of sample rows."""
    rng = np.random.default_rng(21)
    n = 500
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 10, n),
        "const_cov": 1.0,
        "sexc": rng.integers(0, 2, n).astype("int64"),
    })
    for i in range(5):
        pdf[f"q_{i}"] = (
            2.0 * pdf["x"] * (i % 2) + 0.1 * pdf["age"] + rng.normal(0, 1, n)
        )
    pdf["q_null"] = pd.array([None] * n, dtype="Float64")
    deps = [f"q_{i}" for i in range(5)] + ["q_null"]
    df = spark.createDataFrame(pdf)
    cfg_kwargs = dict(
        predictors="x", dependents=deps,
        covariates=["age", "const_cov", "sexc"],
        sex_col="sexc", sex_restrictions={"q_0": 1, "q_1": 0},
        model="linear", quantitative=True, min_case_count=10,
    )
    a = (run_associations(df, MASConfig(**cfg_kwargs).resolve(df.columns),
                          strategy="columnar")
         .to_pandas().sort_values("dependent").reset_index(drop=True))
    b = (run_associations(df, MASConfig(**cfg_kwargs).resolve(df.columns),
                          strategy="moments")
         .to_pandas().sort_values("dependent").reset_index(drop=True))
    # Centered (covar_samp) moments are offset-stable; 1e-6 relative
    # is an ample parity bound vs the kernel's lstsq.
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-6, atol=1e-9)
    bi = b.set_index("dependent")
    assert "const_cov" not in bi.loc["q_2", "equation"]
    assert bi.loc["q_0", "n_observations"] == int((pdf["sexc"] == 1).sum())
    assert bi.loc["q_null", "failed_reason"] == "No data after dropping nulls."

    # Multi-predictor: the per-pair equation must name each row's OWN
    # predictor (regression caught: display[0] was used for every row).
    kw2 = dict(
        predictors=["x", "age"], dependents=["q_2", "q_3"], covariates=["sexc"],
        model="linear", quantitative=True, min_case_count=10,
    )
    am = (run_associations(df, MASConfig(**kw2).resolve(df.columns),
                           strategy="columnar")
          .to_pandas().sort_values(["predictor", "dependent"]).reset_index(drop=True))
    bm = (run_associations(df, MASConfig(**kw2).resolve(df.columns),
                           strategy="moments")
          .to_pandas().sort_values(["predictor", "dependent"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(am, bm, check_exact=False, rtol=1e-6, atol=1e-9)
    assert set(bm["equation"]) == {
        "q_2 ~ x + sexc", "q_3 ~ x + sexc", "q_2 ~ age + sexc", "q_3 ~ age + sexc",
    }


def test_moments_null_covariates_fail_as_rows(spark):
    """ADVICE r3: Spark's sum() skips nulls, so a group with null
    covariate cells would desync the moment sums from count(*) and give
    silently wrong coefficients. The moments path must instead emit a
    failure row for such pairs (the kernel path also fails them — its
    lstsq blows up on the NaNs — so failures-as-rows parity holds)."""
    rng = np.random.default_rng(7)
    n = 200
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 10, n),
        "q_a": rng.normal(0, 1, n),
        "q_b": rng.normal(0, 1, n),
    })
    pdf.loc[3, "age"] = None  # one null covariate cell poisons every pair
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["q_a", "q_b"], covariates=["age"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    out = run_associations(df, cfg, strategy="moments").to_pandas()
    assert set(out["failed_reason"]) == {"Null covariate values (age)."}
    assert out["pval"].isna().all()
    # Kernel path also yields failure rows (not silently-wrong numbers);
    # a fitted row's failed_reason is the string "nan".
    k = run_associations(df, cfg, strategy="columnar").to_pandas()
    assert (k["failed_reason"] != "nan").all()


def test_moments_keeps_large_offset_covariates(spark):
    """ADVICE r3: the old raw-moment variance test (var > 1e-12 *
    mean-square) dropped legitimate covariates with tiny coefficients of
    variation (epoch-timestamp-like offsets). The Welford
    var_samp/covar_samp aggregates keep them, matching the kernel's
    nunique test — and because the moments are CENTERED they stay
    offset-invariant where the kernel's lstsq starts rank-truncating.

    Two regimes:
    - small offset (CV 1e-2): kernel lstsq is exact; strategies must
      agree to float precision.
    - extreme offset (CV 1e-7): lstsq's rcond cutoff silently truncates
      the covariate's singular direction (rank 2, beta_cov ~ 0), so the
      kernel UNDERFITS; the centered moments recover the true OLS
      solution. Assert moments == exact numpy centered solve (which is
      itself bit-identical to the offset-0 answer).
    """
    rng = np.random.default_rng(11)
    n = 400
    x = rng.normal(0, 1, n)
    dev = rng.normal(0, 1.0, n)
    noise = rng.normal(0, 1, n)

    def run(offset, strategy):
        pdf = pd.DataFrame({
            "x": x,
            "ts_cov": offset + dev,
            "q": 1.5 * x + 0.5 * dev + noise,
        })
        df = spark.createDataFrame(pdf)
        cfg = MASConfig(
            predictors="x", dependents=["q"], covariates=["ts_cov"],
            model="linear", quantitative=True, min_case_count=10,
        ).resolve(df.columns)
        return run_associations(df, cfg, strategy=strategy).to_pandas().iloc[0]

    # Small offset: both keep the covariate and agree (at larger
    # offsets the KERNEL's raw-gram pinv drifts first — measured 8e-4
    # relative on se at offset 1e4 — while the centered moments stay
    # bit-identical to the offset-0 exact answer).
    m = run(1.0e2, "moments")
    k = run(1.0e2, "columnar")
    assert m["equation"] == k["equation"] == "q ~ x + ts_cov"
    assert m["beta"] == pytest.approx(k["beta"], rel=1e-6)
    assert m["se"] == pytest.approx(k["se"], rel=1e-6)

    # Extreme offset: moments must still keep the covariate (old
    # raw-moment test dropped it) and match the exact centered solve.
    m7 = run(1.0e7, "moments")
    assert m7["equation"] == "q ~ x + ts_cov"
    Mc = np.column_stack([x, dev])  # centering removes the offset
    Mc = Mc - Mc.mean(axis=0)
    y = 1.5 * x + 0.5 * dev + noise
    yc = y - y.mean()
    beta_exact = np.linalg.solve(Mc.T @ Mc, Mc.T @ yc)
    assert m7["beta"] == pytest.approx(beta_exact[0], rel=1e-9)


def test_moments_rank_deficient_matches_kernel_df_resid(spark):
    """ADVICE r3: on rank-deficient designs the moments path must use
    df_resid = n - rank (ols_fit's lstsq-rank accounting), not n - k —
    otherwise sigma2/pvals differ between strategies for the same pair."""
    rng = np.random.default_rng(13)
    n = 300
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "c1": rng.normal(0, 1, n),
    })
    pdf["c2"] = pdf["c1"]  # exact duplicate -> rank deficiency
    pdf["q"] = 1.0 * pdf["x"] + 0.7 * pdf["c1"] + rng.normal(0, 1, n)
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["c1", "c2"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    m = run_associations(df, cfg, strategy="moments").to_pandas().iloc[0]
    k = run_associations(df, cfg, strategy="columnar").to_pandas().iloc[0]
    assert m["failed_reason"] == "nan"  # reference success sentinel
    for col in ("beta", "se", "pval", "ci_low", "ci_high"):
        assert m[col] == pytest.approx(k[col], rel=1e-6), col


def test_moments_nan_semantics_match_packed(spark):
    """True NaN values (not nulls — Arrow turns pandas NaN into null, so
    these are injected Spark-side) must follow the packed-path contract:
    NaN DEPENDENTS are missing data (masked per-dependent), NaN
    COVARIATES fail the pair as a row, with one failed_reason on every
    strategy. Without the finiteness guard the moments solve would emit
    converged=True rows full of NaN stats."""
    rng = np.random.default_rng(17)
    n = 200
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "x": rng.normal(0, 1, n),
        "c1": rng.normal(0, 1, n),
    })
    pdf["q_a"] = 1.0 * pdf["x"] + 0.3 * pdf["c1"] + rng.normal(0, 1, n)
    base = spark.createDataFrame(pdf)
    nan = F.lit(float("nan"))

    # NaN dependents -> missing: moments == packed, n drops by 10.
    df = base.withColumn(
        "q_a", F.when(F.col("rid") < 10, nan).otherwise(F.col("q_a"))
    ).drop("rid")
    cfg = MASConfig(
        predictors="x", dependents=["q_a"], covariates=["c1"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    m = run_associations(df, cfg, strategy="moments").to_pandas().iloc[0]
    p = run_associations(df, cfg, strategy="packed").to_pandas().iloc[0]
    assert m["n_observations"] == p["n_observations"] == n - 10
    assert m["beta"] == pytest.approx(p["beta"], rel=1e-9)

    df2 = base.withColumn(
        "c1", F.when(F.col("rid") == 3, nan).otherwise(F.col("c1"))
    ).drop("rid")
    cfg2 = MASConfig(
        predictors="x", dependents=["q_a"], covariates=["c1"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df2.columns)
    # NaN covariate -> the pair fails as a row on every path, for the
    # same reason (ols_fit checks finiteness before its lstsq).
    for strategy in ("moments", "packed", "columnar"):
        got = run_associations(df2, cfg2, strategy=strategy).to_pandas().iloc[0]
        assert got["failed_reason"] == (
            "Non-finite predictor/covariate/dependent values."
        ), strategy
        assert math.isnan(got["pval"]), strategy


def test_moments_dotted_column_names(spark):
    """Dotted user column names (phecode-style '250.1') must survive the
    moments path's aggregate build — qcol backtick quoting inside
    covar_samp/var_samp — exactly as they do in the kernel paths (a
    historical bug source: F.col('250.0') is struct access)."""
    rng = np.random.default_rng(3)
    n = 150
    pdf = pd.DataFrame({
        "geno.dose": rng.normal(0, 1, n),
        "age.years": rng.normal(50, 5, n),
    })
    pdf["250.1"] = 1.2 * pdf["geno.dose"] + 0.1 * pdf["age.years"] + rng.normal(0, 1, n)
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="geno.dose", dependents=["250.1"], covariates=["age.years"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    m = run_associations(df, cfg, strategy="moments").to_pandas().iloc[0]
    k = run_associations(df, cfg, strategy="columnar").to_pandas().iloc[0]
    assert m["equation"] == k["equation"] == "250.1 ~ geno.dose + age.years"
    assert m["beta"] == pytest.approx(k["beta"], rel=1e-9)
    assert m["pval"] == pytest.approx(k["pval"], rel=1e-6)


def test_packed_bucket_sizing_properties():
    """VERDICT r3 next-steps #7: at P·D >> cores the packed fan-out's
    bucket sizing must keep (a) kernel parallelism at or above the
    cluster's, (b) the per-sample shuffle cell count G·C + D within the
    documented bound (never worse than a per-pair long table's D·(C+1)),
    and (c) the group count from exploding past ~4 groups/core — so a
    100x dependents scale-up degrades neither balance nor shuffle."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from polars_mas_spark.operators.association import (
        dependent_buckets,
        packed_bucket_count,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(1, 5000),   # predictors
        st.integers(1, 5000),   # dependents
        st.integers(1, 4096),   # cluster parallelism
        st.integers(0, 64),     # covariates
    )
    def check(P, D, par, C):
        G = packed_bucket_count(P, D, par)
        assert 1 <= G <= D
        deps = [f"d{i}" for i in range(D)]
        buckets = dependent_buckets(deps, G)
        # Exact disjoint cover in order — no dependent lost or doubled.
        assert [d for b in buckets for d in b] == deps
        n_groups = P * len(buckets)
        # (a) enough parallelism whenever there is enough work.
        assert n_groups >= min(P * D, par)
        # (b) packed shuffle cells never exceed a per-pair long table's.
        assert len(buckets) * C + D <= D * (C + 1)
        # (c) bounded group count: ~4 per core plus the per-predictor
        # rounding, never past the raw pair count.
        assert n_groups <= max(P * D, 4 * par + P)

    check()


def test_columnar_strategy_matches_packed(synth, spark, tmp_path):
    # The columnar (checkpoint + column-pruned per-task parquet read)
    # physical strategy must be result-identical to the packed/shuffle
    # strategy — including failure rows and all-null pairs.
    pdf, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["ph_0", "ph_1", "ph_2", "ph_rare", "ph_null"],
        covariates=["age", "sex"], model="firth", min_case_count=20,
        checkpoint_dir=str(tmp_path),
    ).resolve(df.columns)
    sel = ["predictor", "dependent", "pval", "beta", "se", "cases",
           "controls", "converged", "failed_reason", "equation"]
    a = (run_associations(df, cfg, strategy="packed")
         .select(sel).to_pandas().sort_values("dependent").reset_index(drop=True))
    b = (run_associations(df, cfg, strategy="columnar")
         .select(sel).to_pandas().sort_values("dependent").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)

    # Two predictors x five dependents: 10 pair ids, which local[8]
    # slices into 5 tasks of 2, so ids 4-5 decode to (x, ph_null) and
    # (age, ph_0) inside one task — a run spanning the predictor boundary.
    cfg = MASConfig(
        predictors=["x", "age"],
        dependents=["ph_0", "ph_1", "ph_2", "ph_rare", "ph_null"],
        covariates=["sex"], model="firth", min_case_count=20,
        checkpoint_dir=str(tmp_path),
    ).resolve(df.columns)

    def fit(strategy):
        return (run_associations(df, cfg, strategy=strategy)
                .select(sel).to_pandas()
                .sort_values(["predictor", "dependent"]).reset_index(drop=True))

    packed = fit("packed")
    assert len(packed) == 10
    pd.testing.assert_frame_equal(packed, fit("columnar"),
                                  check_exact=False, rtol=1e-9)


def test_columnar_checkpoint_lands_in_config_checkpoint_dir(synth, spark, tmp_path):
    # run_associations' columnar checkpoint goes under the study's
    # checkpoint_dir, the same one run_pipeline uses — not the system
    # temp dir.
    _, df = synth
    cfg = MASConfig(
        predictors="x", dependents=["ph_0", "ph_1"], covariates=["age"],
        model="logistic", min_case_count=20, checkpoint_dir=str(tmp_path),
    ).resolve(df.columns)
    assert run_associations(df, cfg, strategy="columnar").num_rows == 2
    ckpts = [p for p in tmp_path.iterdir() if p.name.startswith("pms_ckpt_")]
    assert len(ckpts) == 1 and list(ckpts[0].glob("*.parquet"))


def test_pair_ids_slice_into_balanced_contiguous_tasks(spark):
    from polars_mas_spark.operators.association import _pair_ids, _pair_tasks

    # parallelism 4: the fewest tasks that keep the best makespan.
    assert [_pair_tasks(n, 4) for n in (6, 9, 10, 800)] == [3, 3, 4, 4]
    par = spark.sparkContext.defaultParallelism
    for n in (6, 9, 10, 800):
        ids = _pair_ids(spark, n)
        runs = (ids.groupBy(F.spark_partition_id().alias("task"))
                .agg(F.count("*").alias("n"), F.min("id").alias("lo"),
                     F.max("id").alias("hi"))
                .toPandas())
        n_tasks = math.ceil(n / math.ceil(n / par))
        assert ids.rdd.getNumPartitions() == n_tasks == len(runs)
        assert runs["n"].sum() == n
        assert runs["n"].max() - runs["n"].min() <= 1
        assert ((runs["hi"] - runs["lo"] + 1) == runs["n"]).all()


def test_worker_zip_stamp_skips_directory_rereads(spark):
    # Inside a real Python worker: after the set-up step, the per-task
    # importlib.invalidate_caches() re-reads no zip directory.
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()
        n_zip = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_importers": [n_zip], "reads": [len(reads)]})

    out = spark.range(1, numPartitions=1).mapInPandas(
        probe, "zip_importers long, reads long"
    ).toPandas()
    if out["zip_importers"][0] == 0:
        pytest.skip("the Python worker imports nothing from a zip archive")
    assert out["reads"][0] == 0


def test_worker_heap_is_frozen(spark):
    # Inside a real Python worker, the set-up step freezes the heap so
    # the daemon's gc.collect() after each task skips it. The set-up
    # runs only in shipped closures: this process is never frozen.
    import gc

    frozen_here = gc.get_freeze_count()

    def probe(batches):
        import gc

        import pandas as pd

        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()
        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    out = spark.range(1, numPartitions=1).mapInPandas(probe, "frozen long").toPandas()
    assert out["frozen"][0] > 0
    assert gc.get_freeze_count() == frozen_here


def test_auto_pick_is_columnar_at_few_pairs(synth, spark, tmp_path, monkeypatch):
    # A 3-pair logistic study read from parquet takes the columnar path
    # (the auto pick no longer wants many pairs) and matches packed,
    # failure row included.
    import polars_mas_spark.pipeline as pipeline

    _, df = synth
    src = str(tmp_path / "synth.parquet")
    df.write.parquet(src)
    picked = []
    fan_out = pipeline.run_associations

    def spy(*args, **kwargs):
        picked.append(kwargs["strategy"])
        return fan_out(*args, **kwargs)

    monkeypatch.setattr(pipeline, "run_associations", spy)
    sel = ["predictor", "dependent", "pval", "beta", "se", "cases",
           "controls", "converged", "failed_reason", "equation"]

    def run(strategy):
        cfg = MASConfig(
            predictors="x", dependents=["ph_0", "ph_1", "ph_rare"],
            covariates=["age", "sex"], model="logistic", min_case_count=20,
        )
        out = run_pipeline(spark, cfg, input_path=src, strategy=strategy)
        return (out.select(*sel).toPandas()
                .sort_values("dependent").reset_index(drop=True))

    auto = run(None)
    assert picked == ["columnar"]
    assert auto.set_index("dependent").loc["ph_rare", "failed_reason"].startswith(
        "Insufficient case"
    )
    pd.testing.assert_frame_equal(auto, run("packed"), check_exact=False, rtol=1e-9)


def test_recipe_pipeline_matches_packed(spark, tmp_path):
    # The columnar run_pipeline path reduces preprocessing (sex filter,
    # mean-fill, constant-drop, one-hot) to a PrepRecipe applied in-task
    # in pandas; it must be row-for-row identical to the Spark
    # preprocess() + packed path on a messy table.
    rng = np.random.default_rng(7)
    n = 500
    pdf = pd.DataFrame(
        {
            "x": rng.normal(0, 1, n),
            "age": rng.normal(50, 10, n),
            "const_cov": 1.0,
            "site": rng.choice(["a", "b", "c"], n),
            "sex": rng.integers(0, 2, n).astype("int64"),
        }
    )
    pdf.loc[rng.choice(n, 40, replace=False), "age"] = np.nan
    for i in range(10):
        logit = -1.2 + (0.9 if i % 2 else 0.0) * pdf["x"]
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    deps = [f"ph_{i}" for i in range(10)]
    sel = ["predictor", "dependent", "pval", "beta", "se", "cases",
           "controls", "converged", "failed_reason", "equation",
           "bonferroni_significant"]

    def run(strategy):
        cfg = MASConfig(
            predictors="x", dependents=deps,
            covariates=["age", "const_cov", "site", "sex"],
            categorical_covariates=["site"],
            model="firth", min_case_count=10,
            missing_covariate_values="mean", female_only=True,
        )
        df = spark.createDataFrame(pdf)
        out = run_pipeline(spark, cfg, df=df, strategy=strategy)
        return (out.select(*sel).toPandas()
                .sort_values("dependent").reset_index(drop=True))

    a = run("packed")
    b = run("columnar")
    assert "site_b" in a.loc[0, "equation"] and "const_cov" not in a.loc[0, "equation"]
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)


def test_recipe_pipeline_parquet_scan_reuse(spark, tmp_path):
    # When the input is a plain parquet file, the columnar path must
    # read the SOURCE files directly (no checkpoint copy) and still
    # produce correct results end-to-end.
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame({"x": rng.normal(0, 1, n)})
    for i in range(9):
        logit = -1.0 + (1.2 if i == 0 else 0.0) * pdf["x"]
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    src = str(tmp_path / "wide.parquet")
    spark.createDataFrame(pdf).write.parquet(src)
    cfg = MASConfig(
        predictors="x", dependents=[f"ph_{i}" for i in range(9)],
        covariates=[], model="logistic", min_case_count=10,
    )
    from polars_mas_spark.operators.association import reusable_scan_files

    df = spark.read.parquet(src)
    cfg2 = MASConfig(
        predictors="x", dependents=[f"ph_{i}" for i in range(9)],
        covariates=[], model="logistic", min_case_count=10,
    ).resolve(df.columns)
    assert reusable_scan_files(df.select(*cfg2.included_columns)) is not None

    res = run_pipeline(spark, cfg, input_path=src, strategy="columnar").toPandas()
    assert len(res) == 9
    top = res.sort_values("pval").iloc[0]
    assert top["dependent"] == "ph_0" and top["pval"] < 1e-6


def test_sex_specific_restrictions(spark):
    # Sex-restricted dependents must be fitted only on matching-sex rows
    # (SURVEY.md §2.12), identically in both physical strategies.
    rng = np.random.default_rng(3)
    n = 800
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "sex": rng.integers(0, 2, n).astype("int64"),
    })
    for i in range(9):
        logit = -1.0 + 0.8 * pdf["x"] + (0.7 if i == 0 else 0.0) * pdf["sex"]
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    deps = [f"ph_{i}" for i in range(9)]
    restrict = {"ph_0": 1, "ph_1": 0}

    def run(strategy):
        cfg = MASConfig(
            predictors="x", dependents=deps, covariates=["sex"],
            sex_col="sex", sex_restrictions=restrict,
            model="logistic", min_case_count=5,
        ).resolve(pdf.columns.tolist())
        return (run_associations(spark.createDataFrame(pdf), cfg, strategy=strategy)
                .to_pandas().set_index("dependent"))

    a, b = run("packed"), run("columnar")
    # Restricted pair counts = matching-sex rows only.
    n_f = int((pdf["sex"] == 1).sum())
    assert a.loc["ph_0", "total_n"] == n_f
    assert a.loc["ph_1", "total_n"] == n - n_f
    assert a.loc["ph_2", "total_n"] == n
    # Sex goes constant in the restricted subset -> out of the equation.
    assert "sex" not in a.loc["ph_0", "equation"]
    assert "sex" in a.loc["ph_2", "equation"]
    # Serial oracle on the restricted subset.
    sub = pdf[pdf["sex"] == 1]
    serial = logistic_fit(sub[["x"]].to_numpy(float), sub["ph_0"].to_numpy(float))
    assert abs(a.loc["ph_0", "beta"] - serial["beta"]) < 1e-8
    pd.testing.assert_frame_equal(
        a.sort_index(), b.sort_index(), check_exact=False, rtol=1e-9
    )


def test_columnar_firth_mask_groups_match_per_pair_fits(spark, monkeypatch):
    # Columnar Firth fits the dependents that share a row mask together
    # (stats.firth_fit_many); packed with one dependent per bucket fits
    # each pair alone (stats.firth_fit). Mask groups
    # here: four complete unrestricted dependents (ph_0, ph_1, ph_9 and
    # ph_rare, which is under min_case_count), two restricted to each
    # sex, two sharing one NaN pattern and one (ph_8) with its own.
    from polars_mas_spark.functions import stats
    from polars_mas_spark.operators import association as assoc

    rng = np.random.default_rng(31)
    n = 600
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 10, n),
        "sex": rng.integers(0, 2, n).astype("int64"),
    })
    deps = [f"ph_{i}" for i in range(10)] + ["ph_rare"]
    for i in range(10):
        logit = -1.2 + (0.6 if i % 3 == 0 else 0.0) * pdf["x"] + 0.02 * (pdf["age"] - 50)
        pdf[f"ph_{i}"] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype(float)
    pdf.loc[rng.random(n) < 0.1, ["ph_6", "ph_7"]] = np.nan
    pdf.loc[rng.random(n) < 0.05, "ph_8"] = np.nan
    pdf["ph_rare"] = 0.0
    pdf.loc[:3, "ph_rare"] = 1.0
    restrict = {"ph_2": 1, "ph_3": 1, "ph_4": 0, "ph_5": 0}
    cfg = MASConfig(
        predictors="x", dependents=deps, covariates=["age", "sex"],
        sex_col="sex", sex_restrictions=restrict, model="firth",
        min_case_count=20,
    ).resolve(pdf.columns.tolist())

    def fit(strategy, **kwargs):
        return (run_associations(spark.createDataFrame(pdf), cfg,
                                 strategy=strategy, **kwargs)
                .to_pandas().sort_values("dependent").reset_index(drop=True))

    a, b = fit("packed", n_buckets=len(deps)), fit("columnar")
    assert list(a["failed_reason"]) == list(b["failed_reason"])
    assert a.set_index("dependent").loc["ph_rare", "failed_reason"] == (
        "Insufficient case count (4 cases)."
    )
    assert a["failed_reason"].eq("nan").sum() == 10
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)

    # The same task in-process, with spies: every multi-dependent mask
    # group goes to the batch, and the per-pair kernel fits only the
    # single-dependent group (ph_8).
    batches, per_pair = [], []
    fit_many, fit_one = stats.firth_fit_many, stats.firth_fit

    def spy_many(X, ys):
        ys = list(ys)
        batches.append(len(ys))
        return fit_many(X, ys)

    def spy_one(X, y):
        per_pair.append(len(y))
        return fit_one(X, y)

    monkeypatch.setattr(assoc, "firth_fit_many", spy_many)
    monkeypatch.setattr(stats, "firth_fit", spy_one)
    monkeypatch.setitem(assoc._MODEL_FUNCS, "firth", spy_one)
    kernel = assoc.make_array_kernel(
        "firth", ["age", "sex"], False, 20, restrict, "sex"
    )
    rows = kernel(
        "x", pdf["x"].to_numpy(),
        [(c, c, pdf[c].to_numpy()) for c in ("age", "sex")],
        deps, lambda d: pdf[d].to_numpy(dtype=float),
    )
    assert sorted(batches) == [2, 2, 2, 3]
    assert per_pair == [int(pdf["ph_8"].notna().sum())]
    got = pd.DataFrame(rows).set_index("dependent")
    want = a.set_index("dependent")
    assert list(got.loc[deps, "failed_reason"]) == list(want.loc[deps, "failed_reason"])
    for col in ("beta", "pval", "ci_low", "ci_high"):
        np.testing.assert_allclose(got.loc[deps, col], want.loc[deps, col], rtol=1e-9)


def test_columnar_coerces_dependents_to_float(spark):
    """The columnar task turns each dependent into float64: an int8
    column is cast, NaN and NULL are both missing, and a string column
    goes through pd.to_numeric(errors="coerce"), so its digits are
    numbers and its junk is missing. Each result equals a local Firth
    fit of the coerced column's rows."""
    import pyarrow as pa

    from polars_mas_spark.functions.stats import firth_fit

    rng = np.random.default_rng(71)
    n = 300
    x, age = rng.normal(0, 1, n), rng.normal(50, 10, n)
    ys = [(rng.random(n) < 1 / (1 + np.exp(1.0 - 0.5 * x))).astype(float)
          for _ in range(4)]
    missing = [rng.random(n) < 0.1 for _ in range(3)]
    digits = np.where(ys[3] == 1.0, "1", "0").astype(object)
    digits[missing[2]] = "n/a"
    table = pa.table({
        "x": x,
        "age": age,
        "d_int8": pa.array(ys[0].astype(np.int8)),
        "d_nan": np.where(missing[0], np.nan, ys[1]),
        "d_null": pa.array(ys[2], mask=missing[1]),
        "d_str": pa.array(digits.tolist(), pa.string()),
    })
    rows = {
        "d_int8": (ys[0], np.ones(n, dtype=bool)),
        "d_nan": (ys[1], ~missing[0]),
        "d_null": (ys[2], ~missing[1]),
        "d_str": (ys[3], ~missing[2]),
    }
    cfg = MASConfig(
        predictors="x", dependents=list(rows), covariates=["age"],
        model="firth", min_case_count=5,
    ).resolve(table.column_names)
    got = (run_associations(spark.createDataFrame(table), cfg, strategy="columnar")
           .to_pandas().set_index("dependent"))
    X = np.column_stack([x, age])
    for dep, (y, keep) in rows.items():
        row, want = got.loc[dep], firth_fit(X[keep], y[keep])
        assert row["failed_reason"] == "nan", dep
        assert (row["total_n"], row["cases"]) == (keep.sum(), y[keep].sum()), dep
        for key in ("beta", "pval", "ci_low", "ci_high"):
            assert row[key] == pytest.approx(want[key], rel=1e-9), (dep, key)


def test_is_constant_matches_pandas_distinct_count():
    """The kernel's constant check makes pandas' decision
    (Series.nunique(dropna=False) <= 1) without hashing number arrays:
    all-NaN is constant, NaN next to any value is two values, -0.0 equals
    0.0, and object arrays are counted by pd.unique."""
    from polars_mas_spark.operators.association import _is_constant

    nan = np.nan
    cases = [
        (np.array([nan, nan, nan]), True),
        (np.array([nan, 1.0, 1.0]), False),
        (np.array([2.0, 2.0, nan]), False),
        (np.array([-0.0, 0.0, 0.0]), True),
        (np.array([1.5, 1.5]), True),
        (np.array([1.5, 2.5]), False),
        (np.array([3, 3], dtype=np.int8), True),
        (np.array([3, 4], dtype=np.int8), False),
        (np.array(["a", "a"], dtype=object), True),
        (np.array(["a", None], dtype=object), False),
        (np.array([None, None], dtype=object), True),
    ]
    for arr, constant in cases:
        assert (pd.Series(arr).nunique(dropna=False) <= 1) is constant, arr
        assert _is_constant(arr) is constant, arr


def test_dotted_phecode_column_names(spark):
    # PheWAS dependents are phecode-named ("250.0") — dots must not be
    # parsed as struct accessors anywhere in the engine (colutils.qcol).
    pdf = pd.DataFrame(
        {
            "geno": np.r_[np.zeros(50), np.ones(50), 2 * np.ones(50)],
            "age.x": np.linspace(40, 60, 150),
            "250.0": np.tile([0, 1, 0], 50),
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="geno", dependents=["250.0"], covariates=["age.x"],
        model="logistic", min_case_count=5,
    )
    res = run_pipeline(spark, cfg, df=df).toPandas().iloc[0]
    assert res["dependent"] == "250.0"
    assert res["equation"] == "250.0 ~ geno + age.x"
    assert np.isfinite(res["beta"])


def test_checkpoint_wide_distributed_fallback(synth, spark, tmp_path):
    """URI-scheme checkpoint targets (and clusterized masters without an
    explicit shared dir) cannot take the per-partition pyarrow writer
    (VERDICT r1 #7), and the columnar consumer could not read them back
    with driver-local POSIX I/O, so checkpoint_wide refuses them before
    any Spark job runs."""
    from polars_mas_spark.operators import association as assoc

    assert assoc._needs_distributed_writer(spark, "hdfs://nn/tmp") is True
    assert assoc._needs_distributed_writer(spark, "s3a://bucket/ckpt") is True
    assert assoc._needs_distributed_writer(spark, str(tmp_path)) is False
    assert assoc._needs_distributed_writer(spark, None) is False  # local master

    _, df = synth
    sc = spark.sparkContext
    for target in ("hdfs://nn/tmp", "s3a://bucket/ckpt"):
        group = f"checkpoint-refused-{target[:3]}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="POSIX-visible"):
                assoc.checkpoint_wide(df, target)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_pipeline_downgrades_columnar_on_uri_checkpoint(spark, tmp_path):
    """run_pipeline must not hand a URI checkpoint dir to the pyarrow
    columnar path — the auto pick falls back to the packed strategy."""
    import numpy as np
    import pandas as pd

    from polars_mas_spark.config import MASConfig
    from polars_mas_spark.pipeline import run_pipeline

    rng = np.random.default_rng(0)
    n = 300
    pdf = pd.DataFrame({
        "x": rng.normal(size=n),
        **{f"d{i}": rng.integers(0, 2, size=n).astype(float) for i in range(10)},
        "age": rng.integers(20, 80, size=n).astype(float),
    })
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=",".join(f"d{i}" for i in range(10)),
        covariates="age", model="logistic", min_case_count=5,
    )
    cfg.checkpoint_dir = "hdfs://namenode/ckpt"
    res = run_pipeline(spark, cfg, df=df)
    assert res.count() == 10  # would throw in checkpoint_wide if columnar


def test_constant_predictor_fails_as_row_all_strategies(spark):
    """A monomorphic predictor must produce a failure row on EVERY
    physical strategy — the min-norm alternative splits the intercept
    onto the constant predictor column and reports an arbitrarily
    significant beta (a pure false positive), and the centered-moments
    formulation would report beta=0: three different wrong answers.
    One contract: 'Constant predictor.'"""
    rng = np.random.default_rng(31)
    n = 120
    pdf = pd.DataFrame({
        "x": np.full(n, 2.0),
        "c1": rng.normal(0, 1, n),
        "q": rng.normal(3, 1, n),
        "yb": (rng.random(n) < 0.4).astype("int64"),
    })
    df = spark.createDataFrame(pdf)
    lin = MASConfig(
        predictors="x", dependents=["q"], covariates=["c1"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    for strategy in ("moments", "packed", "columnar"):
        r = run_associations(df, lin, strategy=strategy).to_pandas().iloc[0]
        assert r["failed_reason"] == "Constant predictor.", strategy
        assert math.isnan(r["pval"]), strategy
    logi = MASConfig(
        predictors="x", dependents=["yb"], covariates=["c1"],
        model="logistic", min_case_count=10,
    ).resolve(df.columns)
    r = run_associations(df, logi, strategy="packed").to_pandas().iloc[0]
    assert r["failed_reason"] == "Constant predictor."


def test_auto_moments_downgrades_after_onehot_expansion(spark):
    """Review r4: the pipeline's auto-'moments' pick saw the
    PRE-one-hot covariate count; a categorical expanding past the
    64-covariate moments cap must fall back to the packed kernel
    instead of raising after preprocessing."""
    rng = np.random.default_rng(43)
    n = 280
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 5, n),
        "site": [f"s{i % 70:02d}" for i in range(n)],  # 70 levels -> 69 dummies
    })
    pdf["q"] = 1.0 * pdf["x"] + rng.normal(0, 1, n)
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["age", "site"],
        categorical_covariates=["site"],
        model="linear", quantitative=True, min_case_count=10,
        missing_covariate_values="drop",
    )
    res = run_pipeline(spark, cfg, df=df).toPandas().iloc[0]
    assert res["failed_reason"] == "nan"  # fit succeeded via packed path
    assert len(cfg.covariate_columns) == 70  # age + 69 dummies
    assert np.isfinite(res["beta"])


def test_nan_dependent_binary_no_crash(spark):
    """Review r4: a literal NaN dependent under a binary model crashed
    the per-pair kernel on int(NaN) — NaN dependents are missing data on
    every path and must simply drop."""
    rng = np.random.default_rng(47)
    n = 120
    pdf = pd.DataFrame({"x": rng.normal(0, 1, n)})
    pdf["yb"] = (rng.random(n) < 0.5).astype("float64")
    df = spark.createDataFrame(pdf).withColumn(
        "yb", F.when(F.col("x") > 1.0, F.lit(float("nan"))).otherwise(F.col("yb"))
    )
    cfg = MASConfig(
        predictors="x", dependents=["yb"], covariates=[],
        model="logistic", min_case_count=5,
    ).resolve(df.columns)
    for strategy in ("packed", "columnar"):
        r = run_associations(df, cfg, strategy=strategy).to_pandas().iloc[0]
        assert r["failed_reason"] == "nan", strategy  # fit succeeded
        n_nan = int((pdf["x"] > 1.0).sum())
        assert r["total_n"] == n - n_nan, strategy


def test_all_null_covariate_drops_like_kernel(spark):
    """Review r4: an ALL-null covariate is constant (nunique==1 with
    dropna=False) and drops from the design on the kernel path; the
    moments path must match, not fail the pair."""
    rng = np.random.default_rng(53)
    n = 150
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "c_ok": rng.normal(0, 1, n),
        "c_null": pd.array([None] * n, dtype="Float64"),
    })
    pdf["q"] = 1.0 * pdf["x"] + rng.normal(0, 1, n)
    df = spark.createDataFrame(pdf)
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["c_ok", "c_null"],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    m = run_associations(df, cfg, strategy="moments").to_pandas().iloc[0]
    k = run_associations(df, cfg, strategy="columnar").to_pandas().iloc[0]
    assert m["failed_reason"] == k["failed_reason"] == "nan"
    assert m["equation"] == k["equation"] == "q ~ x + c_ok"
    assert m["beta"] == pytest.approx(k["beta"], rel=1e-9)


def test_moments_rejects_non_quantitative():
    from polars_mas_spark.operators.association import _fit_linear_moments

    cfg = MASConfig(
        predictors="x", dependents=["y"], covariates=[],
        model="linear", quantitative=False,
    )
    with pytest.raises(ValueError, match="quantitative"):
        _fit_linear_moments(None, cfg)


def test_reusable_scan_files_wide_rename_detected(spark, tmp_path):
    """Review r4: the optimizedPlan render truncates field lists at
    spark.sql.debug.maxToStringFields (default 25), which used to hide
    renames past the 25th column and reuse the WRONG source files."""
    from polars_mas_spark.operators.association import reusable_scan_files

    path = str(tmp_path / "wide.parquet")
    ncols = 40
    pdf = pd.DataFrame({f"c{i:02d}": [float(i)] * 5 for i in range(ncols)})
    spark.createDataFrame(pdf).write.parquet(path)
    scan = spark.read.parquet(path)
    assert reusable_scan_files(scan), "plain wide scan must be reusable"
    renamed = scan.withColumnRenamed("c30", "c30x")  # past the 25-field cut
    assert reusable_scan_files(renamed) is None, (
        "rename beyond the default maxToStringFields must disqualify reuse"
    )
    assert reusable_scan_files(scan.filter(F.col("c00") > 0)) is None


def test_input_row_count_reads_footers_without_a_job(spark, tmp_path):
    """A plain parquet scan is counted from its footers, with no Spark
    job; inputs that are not one fall back to a Spark count."""
    from polars_mas_spark.operators.association import (
        input_row_count,
        reusable_scan_files,
    )

    sc = spark.sparkContext
    path = str(tmp_path / "multi.parquet")
    pdf = pd.DataFrame({"x": np.arange(50, dtype=float), "y": np.arange(50) % 3})
    spark.createDataFrame(pdf).repartition(3).write.parquet(path)
    # An appended empty frame leaves a 0-row part file in the directory.
    spark.createDataFrame(pdf).limit(0).write.mode("append").parquet(path)
    csv = str(tmp_path / "in.csv")
    pdf.to_csv(csv, index=False)
    scan = spark.read.parquet(path).select("y", "x")
    files = reusable_scan_files(scan)
    assert len(files) >= 4
    assert 0 in [pq.read_metadata(f).num_rows for f in files]

    def count_in_group(group, df):
        sc.setJobGroup(group, group)
        try:
            return input_row_count(reusable_scan_files(df), df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    assert count_in_group("footer-count", scan) == scan.count() == 50
    assert list(sc.statusTracker().getJobIdsForGroup("footer-count")) == []
    fallbacks = {
        "csv-count": spark.read.option("header", True).csv(csv),
        "computed-count": scan.select((F.col("x") + 1).alias("x")),
    }
    for group, df in fallbacks.items():
        assert count_in_group(group, df) == 50
        assert list(sc.statusTracker().getJobIdsForGroup(group)), group


def test_reusable_scan_files_rejects_projected_partition_columns(spark, tmp_path):
    """A hive partition column exists only in directory names, so a scan
    that projects one is not reusable as files; the auto pick then takes
    the checkpoint and still fits with the column as a covariate."""
    from polars_mas_spark.operators.association import reusable_scan_files

    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame({"x": rng.normal(0, 1, n), "site": rng.integers(0, 2, n)})
    for i in range(2):
        pdf[f"y{i}"] = (rng.random(n) < 0.3).astype("int64")
    path = str(tmp_path / "hive.parquet")
    spark.createDataFrame(pdf).write.partitionBy("site").parquet(path)
    scan = spark.read.parquet(path)
    assert reusable_scan_files(scan) is None
    assert reusable_scan_files(scan.select("x", "y0", "y1")) is not None
    cfg = MASConfig(
        predictors="x", dependents=["y0", "y1"], covariates=["site"],
        model="logistic", min_case_count=5,
    )
    res = run_pipeline(spark, cfg, input_path=path).toPandas()
    assert (res["failed_reason"] == "nan").all()
    assert all("site" in e for e in res["equation"])


def test_columnar_nan_predictor_parity(spark):
    """Review r4: the columnar path's pandas notna() mask silently
    dropped NaN-predictor rows (converged fit) while packed fails
    the pair — the arrow validity bitmap now distinguishes true
    nulls (missing, dropped) from NaN values (pair fails)."""
    rng = np.random.default_rng(59)
    n = 140
    pdf = pd.DataFrame({"x": rng.normal(0, 1, n), "q": rng.normal(0, 1, n)})
    df = spark.createDataFrame(pdf).withColumn(
        "x", F.when(F.col("q") > 1.2, F.lit(float("nan"))).otherwise(F.col("x"))
    )
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=[],
        model="linear", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    c = run_associations(df, cfg, strategy="columnar").to_pandas().iloc[0]
    p = run_associations(df, cfg, strategy="packed").to_pandas().iloc[0]
    assert p["failed_reason"] != "nan"  # kernel fails on the NaNs
    assert c["failed_reason"] != "nan"  # columnar must agree, not drop rows


def test_columnar_nan_sex_filter_parity(spark):
    """Review r4 follow-up: Spark's male_only filter (`sex != code`)
    KEEPS float-NaN sex rows and drops true NULLs; the columnar
    recipe's pandas mask dropped both. The __sex_isnull__ validity
    bitmap now distinguishes them, so n_observations agrees across
    strategies."""
    rng = np.random.default_rng(61)
    n = 160
    pdf = pd.DataFrame(
        {
            "x": rng.normal(0, 1, n),
            "q": rng.normal(0, 1, n),
            "marker": rng.uniform(0, 1, n),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "sex",
        F.when(F.col("marker") < 0.2, F.lit(1.0))        # female: dropped
        .when(F.col("marker") < 0.3, F.lit(float("nan")))  # NaN: KEPT
        .when(F.col("marker") < 0.4, F.lit(None).cast("double"))  # NULL: dropped
        .otherwise(F.lit(0.0)),
    ).drop("marker")
    # Reference parity: the sex column must be among the covariates for
    # male_only (limit_sex_specific raises otherwise on both engines).
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["sex"],
        model="linear", quantitative=True, min_case_count=10,
        male_only=True, sex_col="sex",
    ).resolve(df.columns)
    from polars_mas_spark.pipeline import run_pipeline

    c = run_pipeline(spark, cfg, df=df, strategy="columnar").toPandas().iloc[0]
    p = run_pipeline(spark, cfg, df=df, strategy="packed").toPandas().iloc[0]
    # NaN-sex rows survive the filter on BOTH paths (true NULLs drop),
    # so the kernel sees the same cohort — identical verdict, identical
    # counts, whether that verdict is a fit or a NaN-covariate failure.
    for field_ in ("n_observations", "failed_reason", "beta"):
        pv, cv = p[field_], c[field_]
        same = (pv == cv) or (pd.isna(pv) and pd.isna(cv))
        assert same, (field_, pv, cv)


def test_drop_strategy_nan_covariate_parity(spark):
    """Review r4 follow-up: Spark's drop strategy is na.drop, which
    removes float-NaN AND NULL covariate rows (unlike the sex filter's
    `!=`, which keeps NaN). The columnar recipe's notna() matches that
    exactly — pin it across strategies so nobody 'fixes' it into a
    validity-bitmap keep again."""
    rng = np.random.default_rng(67)
    n = 160
    pdf = pd.DataFrame(
        {
            "x": rng.normal(0, 1, n),
            "q": rng.normal(0, 1, n),
            "marker": rng.uniform(0, 1, n),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "cov",
        F.when(F.col("marker") < 0.15, F.lit(float("nan")))       # dropped
        .when(F.col("marker") < 0.3, F.lit(None).cast("double"))  # dropped
        .otherwise(F.col("marker")),
    ).drop("marker")
    cfg = MASConfig(
        predictors="x", dependents=["q"], covariates=["cov"],
        model="linear", quantitative=True, min_case_count=10,
        missing_covariate_values="drop",
    ).resolve(df.columns)
    from polars_mas_spark.pipeline import run_pipeline

    c = run_pipeline(spark, cfg, df=df, strategy="columnar").toPandas().iloc[0]
    p = run_pipeline(spark, cfg, df=df, strategy="packed").toPandas().iloc[0]
    clean = df.na.drop(subset=["cov"]).count()
    assert p["n_observations"] == clean
    assert c["n_observations"] == clean


def test_poisson_fanout_with_covariate(spark):
    """The Poisson kernel through the distributed fan-out: converges,
    reports n_observations (quantitative contract), and the
    adjusted-rate beta direction matches the planted signal; config
    rejects poisson without quantitative=True."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    n = 400
    x = rng.binomial(1, 0.5, n).astype(float)
    cov = rng.uniform(0, 1, n)
    mu = np.exp(0.7 * x + 0.4 * cov + 0.2)
    y = rng.poisson(mu).astype(float)
    df = spark.createDataFrame(
        pd.DataFrame({"x": x, "cov": cov, "y": y})
    )
    cfg = MASConfig(
        predictors="x", dependents=["y"], covariates=["cov"],
        model="poisson", quantitative=True, min_case_count=10,
    ).resolve(df.columns)
    row = run_associations(df, cfg, strategy="columnar").to_pandas().iloc[0]
    assert bool(row["converged"])
    assert row["n_observations"] == n
    assert 0.4 < row["beta"] < 1.0  # planted 0.7, Wald se ~0.06
    assert row["ci_low"] < row["beta"] < row["ci_high"]
    with pytest.raises(ValueError, match="quantitative"):
        MASConfig(
            predictors="x", dependents=["y"], model="poisson"
        ).resolve(["x", "y"])


def test_rint_logt_actually_applied(spark):
    """--rint/--logt must CHANGE the fit (the reference accepts these
    flags but never wires them — here they are real): a pipeline run
    with rint=True equals a run on manually rint-transformed
    dependents, and differs from the raw-dependent run."""
    import numpy as np
    import pandas as pd

    from polars_mas_spark.functions.transforms import rint as rint_fn

    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "x": rng.normal(0, 1, n),
        "age": rng.normal(50, 10, n),
    })
    # heavy-tailed dependent: rint changes the fit materially
    pdf["y"] = np.exp(1.0 + 0.5 * pdf["x"] + rng.normal(0, 1, n))
    df = spark.createDataFrame(pdf)

    def run(cfg_kwargs, frame):
        cfg = MASConfig(
            predictors="x", dependents=["y"], covariates=["age"],
            model="linear", quantitative=True, **cfg_kwargs,
        )
        r = run_pipeline(spark, cfg, df=frame).collect()[0]
        return r.beta

    beta_raw = run({}, df)
    beta_rint = run({"rint": True}, df)
    assert abs(beta_rint - beta_raw) > 1e-3  # the flag did something
    manual = rint_fn(df, "y")
    beta_manual = run({}, manual)
    assert abs(beta_rint - beta_manual) < 1e-9  # and the RIGHT thing
    beta_logt = run({"logt": True}, df)
    manual_log = df.withColumn("y", F.log("y"))
    beta_manual_log = run({}, manual_log)
    assert abs(beta_logt - beta_manual_log) < 1e-9


def test_rint_logt_validation(spark):
    import pytest as _pt

    with _pt.raises(ValueError, match="mutually exclusive"):
        MASConfig(
            predictors="x", dependents=["y"], covariates=[],
            model="linear", quantitative=True, rint=True, logt=True,
        ).resolve(["x", "y"])
    with _pt.raises(ValueError, match="QUANTITATIVE"):
        MASConfig(
            predictors="x", dependents=["y"], covariates=[],
            model="firth", rint=True,
        ).resolve(["x", "y"])
    with _pt.raises(ValueError, match="no dependent columns"):
        MASConfig(
            predictors="x", dependents=[], covariates=[],
            model="firth",
        ).resolve(["x", "y"])


def _phewas_input(synth, tmp_path):
    """The synth table as a parquet file with phecode-named dependents:
    999.9 fits but has no definition, 008.5 fails validation and 401.1
    has no data after dropping nulls."""
    pdf, _ = synth
    names = {"ph_0": "999.9", "ph_1": "250.1", "ph_rare": "008.5", "ph_null": "401.1"}
    src = str(tmp_path / "phewas.parquet")
    pdf[["x", "age", "sex", *names]].rename(columns=names).to_parquet(src)
    return src, list(names.values())


def _jobs_after_fan_out(spark, monkeypatch, group: str, **kwargs) -> int:
    """Run one study and count the Spark jobs from run_associations on:
    the wrapper puts the fan-out and everything after it in one job
    group."""
    import polars_mas_spark.pipeline as pipeline

    sc = spark.sparkContext
    fan_out = pipeline.run_associations

    def grouped(*args, **kw):
        sc.setJobGroup(group, group)
        return fan_out(*args, **kw)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "run_associations", grouped)
        try:
            run_pipeline(spark, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_study_spark_job_budget(synth, spark, tmp_path, monkeypatch):
    # From the fan-out on, a study is one collect of the fitted rows, a
    # PheWAS study included: read_phecode_definitions keeps its local
    # table, so the annotation collects nothing. The corrections, the
    # pair completion, the annotation and the write run locally.
    from polars_mas_spark.sources.readers import read_phecode_definitions

    src, deps = _phewas_input(synth, tmp_path)
    cfg = MASConfig(predictors="x", dependents=deps, covariates=["age", "sex"],
                    model="logistic", min_case_count=20)
    assert _jobs_after_fan_out(
        spark, monkeypatch, "budget-parquet", config=cfg, input_path=src,
        output_path=str(tmp_path / "out.parquet"), strategy="columnar",
    ) == 1
    cfg = MASConfig(predictors="x", dependents=deps, covariates=["age", "sex"],
                    model="logistic", min_case_count=20, is_phewas=True,
                    correction="bh")
    assert _jobs_after_fan_out(
        spark, monkeypatch, "budget-phewas", config=cfg, input_path=src,
        output_path=str(tmp_path / "out.csv"), strategy="columnar",
        phecode_defs=read_phecode_definitions(spark),
    ) == 1


def test_outputs_keep_nan_and_null_apart(synth, spark, tmp_path, monkeypatch):
    # Failed fits carry NaN statistics, while an unusable BH p-value and
    # a missing annotation are NULL. The parquet file, the CSV file (cell
    # for cell what Spark's CSV writer gives), a file:// URI written
    # through Spark and the returned DataFrame all keep them apart.
    import csv

    import pyarrow as pa

    from polars_mas_spark.sources import writers
    from polars_mas_spark.sources.readers import read_phecode_definitions

    src, deps = _phewas_input(synth, tmp_path)
    cfg = MASConfig(predictors="x", dependents=deps, covariates=["age", "sex"],
                    model="logistic", min_case_count=20, is_phewas=True,
                    correction="bh")
    defs = read_phecode_definitions(spark)
    res = run_pipeline(spark, cfg, input_path=src, phecode_defs=defs,
                       output_path=str(tmp_path / "out.parquet"))
    assert res.filter(F.col("pval").isNull()).count() == 0
    table = pq.read_table(str(tmp_path / "out.parquet"))
    rows = {r["dependent"]: r for r in table.to_pylist()}
    for failed in ("008.5", "401.1"):
        for col in ("pval", "beta", "se"):
            assert rows[failed][col] is not None and math.isnan(rows[failed][col])
        assert rows[failed]["pval_bh"] is None
    assert rows["401.1"]["failed_reason"] == "No data after dropping nulls."
    assert rows["250.1"]["pval_bh"] is not None
    assert rows["999.9"]["phenotype"] is None
    assert rows["008.5"]["phenotype"] == "Bacterial enteritis"

    # CSV: the same study's file against Spark's own CSV writer.
    out_csv = str(tmp_path / "out.csv")
    res = run_pipeline(spark, cfg, input_path=src, phecode_defs=defs,
                       output_path=out_csv)
    spark_dir = str(tmp_path / "spark_csv")
    res.coalesce(1).write.option("header", True).csv(spark_dir)
    (part,) = [f for f in os.listdir(spark_dir) if f.startswith("part-")]

    def cells(path):
        with open(path, newline="") as f:
            header, *body = list(csv.reader(f))
        return header, {r[header.index("dependent")]: r for r in body}

    header, ours = cells(out_csv)
    spark_header, theirs = cells(os.path.join(spark_dir, part))
    assert header == spark_header and ours.keys() == theirs.keys()
    numeric = {f.name for f in res.schema.fields
               if f.dataType.typeName() in ("double", "long")}
    for dep, want in theirs.items():
        for name, got, exp in zip(header, ours[dep], want):
            if exp in ("NaN", "", "true", "false") or name not in numeric:
                assert got == exp, (dep, name)
            else:
                assert float(got) == float(exp), (dep, name)
    assert ours["401.1"][header.index("pval_bh")] == ""
    assert ours["401.1"][header.index("pval")] == "NaN"
    assert ours["999.9"][header.index("phenotype")] == ""

    # A URI goes through Spark's writer and reads back the same.
    promoted = []
    promote = writers._promote_single_file
    monkeypatch.setattr(writers, "_promote_single_file",
                        lambda *a: promoted.append(a[1]) or promote(*a))
    local = str(tmp_path / "uri.parquet")
    writers.write_output(table, f"file://{local}", "parquet")
    assert promoted == [f"file://{local}"] and os.path.isfile(local)
    back = pq.read_table(local)
    assert back.column_names == table.column_names
    for name in table.column_names:
        a, b = table[name], back[name]
        assert a.null_count == b.null_count, name
        if pa.types.is_floating(a.type):
            np.testing.assert_array_equal(a.to_numpy(), b.to_numpy())
        else:
            assert a.to_pylist() == b.to_pylist(), name
