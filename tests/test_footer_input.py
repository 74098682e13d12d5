"""A local parquet input is planned from its footers (readers.parquet_input):
run_study takes its header, files and row count from one footer read
per file and builds the Spark frame over it only when a Spark job needs
it. Each case here runs the same study from the path and from
``df=spark.read.parquet(path)``, which plans through Spark's own scan,
and requires the two result tables to be exactly equal."""

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import polars_mas_spark.pipeline as pipeline
from polars_mas_spark.config import MASConfig
from polars_mas_spark.pipeline import run_study
from polars_mas_spark.sources.readers import parquet_input

DEPS = ["008.5", "250.1", "401.1"]


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """One table written as a single file, as a flat directory of two
    part files and as a hive-partitioned directory (partition column
    ``batch``, not a study column). Dotted phecode dependents, a
    covariate with nulls and a string categorical."""
    rng = np.random.default_rng(23)
    n = 400
    x = rng.normal(0, 1, n)
    age = rng.normal(50, 10, n)
    bmi = rng.normal(27, 4, n)
    bmi[rng.random(n) < 0.05] = np.nan
    cols = {
        "x": x,
        "age": age,
        "bmi": pa.array(bmi, from_pandas=True),  # NaN -> null
        "sex": rng.integers(0, 2, n),
        "site": rng.choice(["north", "south", "east", "west"], n),
    }
    for i, dep in enumerate(DEPS):
        logit = -1.0 + 0.6 * i * x + 0.01 * (age - 50)
        cols[dep] = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype("int64")
    table = pa.table(cols)
    root = tmp_path_factory.mktemp("footers")
    single = str(root / "single.parquet")
    pq.write_table(table, single)
    parts = root / "parts.parquet"
    parts.mkdir()
    pq.write_table(table.slice(0, 150), str(parts / "part-0.parquet"))
    pq.write_table(table.slice(150), str(parts / "part-1.parquet"))
    (parts / "_SUCCESS").write_text("")
    hive = root / "hive.parquet"
    for b in range(2):
        (hive / f"batch={b}").mkdir(parents=True)
        pq.write_table(
            table.slice(200 * b, 200), str(hive / f"batch={b}" / "part-0.parquet")
        )
    return {"single": single, "parts": str(parts), "hive": str(hive)}


def same_table(a: pa.Table, b: pa.Table) -> None:
    """Exact equality, NaN equal to NaN and NULL kept apart from NaN."""
    assert a.schema == b.schema
    for name in a.column_names:
        for u, v in zip(a[name].to_pylist(), b[name].to_pylist(), strict=True):
            nan = isinstance(u, float) and isinstance(v, float) and math.isnan(u)
            assert u == v or (nan and math.isnan(v)), (name, u, v)


BASE = dict(predictors="x", dependents=DEPS, covariates=["age", "sex"],
            model="logistic", min_case_count=10)
# id: (input, config overrides, strategy)
CASES = {
    "dotted-auto": ("single", {}, None),
    "parts-auto": ("parts", {}, None),
    "explicit-packed": ("single", {}, "packed"),
    "mean-fill": ("single", {"covariates": ["age", "bmi"],
                             "missing_covariate_values": "mean"}, None),
    "categorical": ("single", {"covariates": ["age", "site"],
                               "categorical_covariates": ["site"]}, None),
    "female-only": ("single", {"female_only": True}, None),
    "hive": ("hive", {}, None),
}


@pytest.mark.parametrize("case", list(CASES))
def test_footer_plan_matches_spark_scan(spark, inputs, case):
    kind, overrides, strategy = CASES[case]
    path = inputs[kind]
    # The hive directory is left to Spark; every other path has footers.
    assert (parquet_input(spark, path) is None) == (kind == "hive")

    def config():
        return MASConfig(**{**BASE, **overrides})

    by_path = run_study(spark, config(), input_path=path, strategy=strategy)
    by_frame = run_study(
        spark, config(), df=spark.read.parquet(path), strategy=strategy
    )
    assert by_path.num_rows == len(DEPS)
    same_table(by_path, by_frame)


def test_columnar_parquet_study_builds_no_spark_frame(spark, inputs, monkeypatch):
    # The header, the plan and the recipe statistics all come from the
    # footers and pyarrow: neither the Spark reader nor the plan-string
    # scan check runs.
    want = run_study(spark, MASConfig(**BASE), input_path=inputs["single"])

    def forbidden(*args, **kwargs):
        raise AssertionError("a columnar parquet study built a Spark frame")

    monkeypatch.setattr(pipeline, "read_input", forbidden)
    monkeypatch.setattr(pipeline, "reusable_scan_files", forbidden)
    got = run_study(spark, MASConfig(**BASE), input_path=inputs["single"])
    same_table(got, want)


def test_relative_input_path(spark, inputs, monkeypatch):
    # The tasks get absolute file paths: a Python worker's working
    # directory is not the driver's.
    want = run_study(spark, MASConfig(**BASE), input_path=inputs["single"])
    root, name = inputs["single"].rsplit("/", 1)
    monkeypatch.chdir(root)
    source = parquet_input(spark, name)
    assert source.files == (inputs["single"],)
    for strategy in (None, "packed"):
        got = run_study(spark, MASConfig(**BASE), input_path=name, strategy=strategy)
        same_table(got, want)


def test_footer_read_once_per_file(spark, inputs, monkeypatch):
    # The header, the plan's row count and the recipe's row count all
    # come from one footer read per file.
    reads = []
    read_metadata = pq.read_metadata

    def counting(where, *args, **kwargs):
        reads.append(where)
        return read_metadata(where, *args, **kwargs)

    monkeypatch.setattr(pq, "read_metadata", counting)
    source = parquet_input(spark, inputs["parts"])
    assert sorted(reads) == list(source.files)
    assert source.n_rows == 400
    reads.clear()
    run_study(spark, MASConfig(**BASE), input_path=inputs["parts"])
    assert sorted(reads) == list(source.files)


def test_duplicate_names_raise_as_before(spark, tmp_path):
    path = str(tmp_path / "dup.parquet")
    table = pa.Table.from_arrays(
        [pa.array([0.5, 1.5]), pa.array([0, 1]), pa.array([1, 0])],
        names=["x", "d", "D"],
    )
    pq.write_table(table, path)
    assert parquet_input(spark, path) is None
    cfg = dict(predictors="x", dependents=["d"], model="logistic")
    with pytest.raises(Exception, match="COLUMN_ALREADY_EXISTS") as by_path:
        run_study(spark, MASConfig(**cfg), input_path=path)
    with pytest.raises(Exception, match="COLUMN_ALREADY_EXISTS") as by_reader:
        spark.read.parquet(path).columns
    assert type(by_path.value) is type(by_reader.value)
