"""Postprocessing: bonferroni (postprocessing.py:14-20), BH-FDR (roadmap
feature), phecode annotation join (postprocessing.py:23-29)."""

import pandas as pd
import pyarrow as pa
import pytest

from polars_mas_spark.operators.postprocessing import (
    add_phecode_definitions,
    benjamini_hochberg,
    bonferroni,
)


@pytest.fixture()
def results_df():
    return pa.table(
        {
            "predictor": ["x"] * 5,
            "dependent": ["a", "b", "c", "d", "e"],
            "pval": pa.array([0.001, 0.009, 0.04, 0.9, None], pa.float64()),
        }
    )


def test_bonferroni_threshold_counts_only_valid_tests(results_df):
    out = bonferroni(results_df).to_pandas().set_index("dependent")
    # 4 valid tests -> threshold 0.0125
    assert out.loc["a", "bonferroni_significant"] == True  # noqa: E712
    assert out.loc["b", "bonferroni_significant"] == True  # noqa: E712
    assert out.loc["c", "bonferroni_significant"] == False  # noqa: E712
    assert pd.isna(out.loc["e", "bonferroni_significant"])


def test_benjamini_hochberg_adjustment(results_df):
    out = benjamini_hochberg(results_df).to_pandas().set_index("dependent")
    # R: p.adjust(c(.001,.009,.04,.9), "BH") = 0.004, 0.018, 0.0533.., 0.9
    assert out.loc["a", "pval_bh"] == pytest.approx(0.004)
    assert out.loc["b", "pval_bh"] == pytest.approx(0.018)
    assert out.loc["c", "pval_bh"] == pytest.approx(0.04 * 4 / 3)
    assert out.loc["d", "pval_bh"] == pytest.approx(0.9)
    assert pd.isna(out.loc["e", "pval_bh"])


def test_bh_monotone_on_ties():
    table = pa.table(
        {"dependent": list("abcd"), "pval": [0.02, 0.02, 0.01, 0.5]}
    )
    out = benjamini_hochberg(table).to_pandas()
    merged = dict(zip(out["dependent"], out["pval_bh"]))
    assert merged["a"] == pytest.approx(merged["b"])  # ties share adjusted p
    assert merged["c"] <= merged["a"] <= merged["d"]


def test_phecode_annotation_join_phewas(spark, results_df):
    defs = spark.createDataFrame(
        pd.DataFrame(
            {
                "phecode": ["a", "b"],
                "phenotype": ["Phen A", "Phen B"],
                "sex": ["Both", "Both"],
                "category": ["cat1", "cat2"],
                "category_number": [1.0, 2.0],
            }
        )
    )
    out = add_phecode_definitions(results_df, defs, is_phewas=True).to_pandas()
    got = out.set_index("dependent")
    assert got.loc["a", "phenotype"] == "Phen A"
    assert pd.isna(got.loc["c", "phenotype"])  # left join keeps unmatched
    assert len(out) == 5


def test_phecode_annotation_join_noop_without_mode(spark, results_df):
    defs = spark.createDataFrame(
        pd.DataFrame({"phecode": ["a"], "phenotype": ["P"], "sex": ["Both"],
                      "category": ["c"], "category_number": [1.0]})
    )
    out = add_phecode_definitions(results_df, defs)
    assert out.column_names == results_df.column_names


def test_pipeline_bh_correction(spark):
    """config.correction='bh' adds pval_bh via the BH
    operator (the reference's declared-but-unimplemented FDR roadmap)."""
    import pandas as pd
    from polars_mas_spark.config import MASConfig
    from polars_mas_spark.pipeline import run_pipeline

    rng = __import__("random").Random(3)
    rows = []
    for i in range(400):
        x = rng.gauss(0, 1)
        rows.append((x, 1 if rng.random() < 1 / (1 + 2.718 ** -(2 * x)) else 0,
                     1 if rng.random() < 0.4 else 0))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["x", "d1", "d2"]))
    cfg = MASConfig(predictors="x", dependents=["d1", "d2"], model="logistic",
                    min_case_count=5, correction="bh")
    out = run_pipeline(spark, cfg, df=df).toPandas().set_index("dependent")
    assert "pval_bh" in out.columns
    assert out.loc["d1", "pval_bh"] >= out.loc["d1", "pval"] - 1e-12
    assert out["pval_bh"].max() <= 1.0
