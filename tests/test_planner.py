"""The study planner: plan_study is the one place a fan-out strategy is
picked or changed. Each case pins the plan run_pipeline acts on — the
strategy, where the row count came from and the reason for every
fallback — and that planning a plain parquet scan runs no Spark job."""

import importlib.util
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from polars_mas_spark.config import MASConfig
from polars_mas_spark.operators.association import run_associations
from polars_mas_spark.pipeline import StudyPlan, plan_study, run_pipeline

ROOT = Path(__file__).resolve().parent.parent

STUDIES = {
    "logistic": dict(dependents=["y0", "y1"], model="logistic"),
    "linear": dict(dependents=["q"], model="linear", quantitative=True),
    "poisson": dict(dependents=["cnt"], model="poisson", quantitative=True),
}


def study_config(study: str, **overrides) -> MASConfig:
    kw = dict(predictors="x", covariates=["age"], min_case_count=5)
    kw.update(STUDIES[study])
    kw.update(overrides)
    return MASConfig(**kw)


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """A fresh DataFrame per call, by input kind: a plain parquet scan,
    an in-memory frame, or a hive-partitioned parquet scan whose
    partition column ``site`` is a covariate."""
    rng = np.random.default_rng(17)
    n = 200
    x = rng.normal(0, 1, n)
    pdf = pd.DataFrame({
        "x": x,
        "age": rng.normal(50, 10, n),
        "site": rng.integers(0, 2, n),
        "y0": (rng.random(n) < 0.4).astype("int64"),
        "y1": (rng.random(n) < 1 / (1 + np.exp(-x))).astype("int64"),
        "q": x + rng.normal(0, 1, n),
        "cnt": rng.poisson(np.exp(0.3 * x)).astype(float),
    })
    root = tmp_path_factory.mktemp("plan")
    flat, hive = str(root / "flat.parquet"), str(root / "hive.parquet")
    spark.createDataFrame(pdf).write.parquet(flat)
    spark.createDataFrame(pdf).write.partitionBy("site").parquet(hive)
    makers = {
        "parquet": lambda: spark.read.parquet(flat),
        "frame": lambda: spark.createDataFrame(pdf),
        "hive": lambda: spark.read.parquet(hive),
    }
    return lambda kind: makers[kind]()


def plan_in_group(spark, group, cfg, df, strategy):
    """plan_study as run_pipeline calls it (resolved config, projected
    input), with its Spark jobs tagged by ``group``."""
    cfg.resolve(df.columns)
    df = df.select(*cfg.included_columns)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return plan_study(spark, cfg, df, strategy), df
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


HDFS = "hdfs://namenode/ckpt"
FORWARD = {"missing_covariate_values": "forward", "order_col": "age"}
# id: (input, study, config overrides, requested strategy, master,
#      planned strategy, row source, config field or text named by the reason)
DECISIONS = {
    "parquet-logistic-auto": ("parquet", "logistic", {}, None, "local[8]",
                              "columnar", "footers", None),
    "frame-logistic-auto": ("frame", "logistic", {}, None, "local[8]",
                            "columnar", "spark count", None),
    "parquet-linear-auto": ("parquet", "linear", {}, None, "local[8]",
                            "moments", None, None),
    "frame-linear-auto": ("frame", "linear", {}, None, "local[8]",
                          "moments", None, None),
    "ordered-fill-auto": ("parquet", "logistic", FORWARD, None, "local[8]",
                          "packed", "footers", "missing_covariate_values"),
    "rint-auto": ("frame", "poisson", {"rint": True}, None, "local[8]",
                  "packed", "spark count", "rint"),
    "logt-auto": ("parquet", "poisson", {"logt": True}, None, "local[8]",
                  "packed", "footers", "logt"),
    "correlated-drop-auto": ("parquet", "logistic",
                             {"drop_correlated_above": 0.9}, None,
                             "local[8]", "packed", "footers",
                             "drop_correlated_above"),
    "uri-checkpoint-auto": ("parquet", "logistic", {"checkpoint_dir": HDFS},
                            None, "local[8]", "packed", "footers",
                            "checkpoint_dir"),
    "non-local-auto": ("parquet", "logistic", {}, None, "yarn",
                       "packed", "footers", "checkpoint_dir"),
    "non-local-shared-dir-auto": ("frame", "logistic",
                                  {"checkpoint_dir": "/mnt/shared"}, None,
                                  "yarn", "columnar", "spark count", None),
    "non-local-explicit-columnar": ("parquet", "logistic", {}, "columnar",
                                    "yarn", "columnar", None, None),
    "hive-covariate-auto": ("hive", "logistic", {"covariates": ["age", "site"]},
                            None, "local[8]", "columnar", "spark count",
                            "hive partition column 'site' is a study column"),
    "linear-ordered-fill-auto": ("parquet", "linear", FORWARD, None,
                                 "local[8]", "moments", None, None),
    "explicit-packed": ("parquet", "logistic", {}, "packed", "local[8]",
                        "packed", None, None),
    "explicit-moments": ("parquet", "linear", {}, "moments", "local[8]",
                         "moments", None, None),
    "explicit-columnar-frame": ("frame", "linear", {}, "columnar",
                                "local[8]", "columnar", None, None),
}


@pytest.mark.parametrize("case", list(DECISIONS))
def test_plan_study_decision_table(spark, inputs, monkeypatch, case):
    kind, study, overrides, strategy, master, want, source, field = DECISIONS[case]
    monkeypatch.setattr(spark.sparkContext, "master", master)
    cfg = study_config(study, **overrides)
    plan, df = plan_in_group(spark, f"plan-{case}", cfg, inputs(kind), strategy)
    df.unpersist()
    assert plan.strategy == want
    assert plan.requested == strategy
    assert plan.row_source == source
    assert (plan.n_rows == 200) if source else (plan.n_rows is None)
    if field is None:
        assert plan.reasons == ()
    else:
        assert len(plan.reasons) == 1 and field in plan.reasons[0]
    # Columnar reads a plain parquet scan's own files; anything else
    # gets a checkpoint, and no other strategy carries files.
    reads_source = want == "columnar" and kind == "parquet"
    assert bool(plan.files) == reads_source
    jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(f"plan-{case}"))
    assert bool(jobs) == (source == "spark count"), jobs


def test_plan_study_rejects_unknown_strategies(spark, inputs):
    df = inputs("frame")
    cfg = study_config("logistic").resolve(df.columns)
    with pytest.raises(ValueError, match="unknown strategy 'colummar'"):
        plan_study(spark, cfg, df, "colummar")
    # run_associations runs only the strategy it is given: no auto pick.
    with pytest.raises(ValueError, match="unknown strategy 'auto'"):
        run_associations(df, cfg, strategy="auto")
    # The per-pair long-table fan-out is retired: both entry points
    # refuse it by name and list the strategies that run.
    with pytest.raises(ValueError, match="unknown strategy 'unpivot'") as planned:
        plan_study(spark, cfg, df, "unpivot")
    with pytest.raises(ValueError, match="unknown strategy 'unpivot'") as ran:
        run_associations(df, cfg, strategy="unpivot")
    for err in (planned, ran):
        assert "columnar/packed/moments" in str(err.value)


@pytest.mark.parametrize("overrides, field", [
    (FORWARD, "missing_covariate_values"),
    ({**FORWARD, "missing_covariate_values": "backward"}, "missing_covariate_values"),
    ({"rint": True}, "rint"),
    ({"logt": True}, "logt"),
    ({"drop_correlated_above": 0.9}, "drop_correlated_above"),
    ({"checkpoint_dir": HDFS}, "checkpoint_dir"),
])
def test_explicit_columnar_refuses_what_it_cannot_run(spark, inputs, overrides, field):
    # Poisson: a quantitative study that moments cannot run, so no
    # message may suggest it.
    cfg = study_config("poisson", **overrides)
    with pytest.raises(ValueError, match=field) as err:
        run_pipeline(spark, cfg, df=inputs("frame"), strategy="columnar")
    assert "strategy='columnar'" in str(err.value)
    assert "packed" in str(err.value) and "moments" not in str(err.value)
    assert "unpivot" not in str(err.value)


def test_after_preprocess_downgrades_only_an_auto_moments_pick():
    auto = StudyPlan("moments", None)
    assert auto.after_preprocess(64) is auto
    down = auto.after_preprocess(70)
    assert down.strategy == "packed" and down.requested is None
    assert down.reasons == (
        "70 covariates after one-hot encoding exceed the moments cap of 64",
    )
    # An explicit moments request still reaches _fit_linear_moments,
    # which raises with the cap named.
    assert StudyPlan("moments", "moments").after_preprocess(70).strategy == "moments"
    assert StudyPlan("columnar", None).after_preprocess(70).strategy == "columnar"


def test_trace_entry_points_exist_in_pipeline(monkeypatch):
    """masbench's tracer wraps these names on the pipeline module; one
    that goes missing would make ``masbench/run.py --trace 1`` fail."""
    import polars_mas_spark.pipeline as pipeline

    spec = importlib.util.spec_from_file_location(
        "masbench_trace", ROOT / "masbench" / "trace.py"
    )
    trace = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, trace)  # for its dataclasses
    spec.loader.exec_module(trace)
    missing = [n for n in trace.LAYER_ENTRY_POINTS if not hasattr(pipeline, n)]
    assert missing == []
