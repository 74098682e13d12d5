"""Reader/writer review-regression tests (r4): multi-token nulls across
column types, single-file promotion contracts and mode honoring."""

import os

import numpy as np
import pyarrow as pa
import pytest

from polars_mas_spark.sources.readers import read_input
from polars_mas_spark.sources.writers import write_output


def _write_csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_numeric_null_tokens_any_order(spark, tmp_path):
    """Review r4: a numeric-looking missing code (-9) parses during
    schema inference and used to survive as real data when it wasn't
    the first token. Both token orders must null it in numeric AND
    string columns."""
    csv = _write_csv(
        tmp_path, "t.csv",
        "id,age,city\n1,-9,NA\n2,30,paris\n3,-9,NA\n",
    )
    for tokens in (["NA", "-9"], ["-9", "NA"]):
        df = read_input(spark, csv, null_values=tokens)
        rows = {r["id"]: r for r in df.collect()}
        assert rows[1]["age"] is None and rows[3]["age"] is None, tokens
        assert rows[1]["city"] is None, tokens
        assert rows[2]["age"] == 30 and rows[2]["city"] == "paris"


def test_single_file_parquet_is_a_real_file(spark, tmp_path):
    df = pa.table({"x": range(5)})
    path = str(tmp_path / "out.parquet")
    write_output(df, path, "parquet")
    assert os.path.isfile(path)  # not a part-file directory
    assert spark.read.parquet(path).count() == 5


def test_single_file_glob_metacharacters(spark, tmp_path):
    """Review r4: '[2024]' in the target used to make glob miss the
    part file after a successful write."""
    df = pa.table({"x": range(3)})
    path = str(tmp_path / "results[2024].csv")
    write_output(df, path, "csv")
    assert os.path.isfile(path)
    assert len(open(path).readlines()) == 4  # header + 3 rows


def test_single_file_mode_honored(spark, tmp_path):
    df = pa.table({"x": range(2)})
    path = str(tmp_path / "out.csv")
    write_output(df, path, "csv")
    with pytest.raises(FileExistsError):
        write_output(df, path, "csv", mode="error")
    before = open(path).read()
    write_output(pa.table({"x": range(9)}), path, "csv", mode="ignore")
    assert open(path).read() == before  # ignore leaves the file alone
    with pytest.raises(ValueError, match="append"):
        write_output(df, path, "csv", mode="append")


def test_overwrite_replaces_a_part_file_directory(spark, tmp_path):
    """A Spark part-file directory at the target (what a parquet output
    used to be) is replaced by the single file under mode='overwrite';
    a later write replaces the file in turn."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "out.parquet")
    spark.range(4).write.parquet(path)
    assert os.path.isdir(path)
    write_output(pa.table({"x": [1.5, float("nan")]}), path, "parquet")
    assert os.path.isfile(path)
    assert pq.read_table(path)["x"].null_count == 0
    write_output(pa.table({"y": ["a"]}), path, "parquet")
    assert pq.read_table(path).column_names == ["y"]
    assert os.listdir(tmp_path) == ["out.parquet"]


def test_failed_write_leaves_the_target_alone(tmp_path, monkeypatch):
    """The file is written beside the target and then moved over it, so
    a write that fails part-way leaves the old file and no temporary."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "out.parquet")
    write_output(pa.table({"x": [1, 2]}), path, "parquet")
    before = open(path, "rb").read()

    def half_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 partial")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", half_write)
    with pytest.raises(OSError, match="disk full"):
        write_output(pa.table({"x": [3]}), path, "parquet")
    assert open(path, "rb").read() == before
    assert os.listdir(tmp_path) == ["out.parquet"]


def test_uri_and_local_csv_cells_agree(spark, tmp_path):
    """A file:// path goes through Spark's CSV writer, a plain path
    through the local one; both keep string cells as they are (Spark
    trims them by default) and give the same file."""
    table = pa.table({
        "equation": ["y ~ x + ", " sp ", "", None, 'q,"x"'],
        "pval": [0.5, float("nan"), None, 0.25, 2.0],
    })
    local = str(tmp_path / "local.csv")
    uri = str(tmp_path / "uri.csv")
    write_output(table, local, "csv")
    write_output(table, f"file://{uri}", "csv")
    text = open(local).read()
    assert text.splitlines()[1] == "y ~ x + ,0.5"
    assert text == open(uri).read()


def test_erfc_vec_nan_propagates():
    from polars_mas_spark.functions.distributions import erfc_vec

    out = erfc_vec(np.array([np.nan, 0.0, 1.0, -30.0]))
    assert np.isnan(out[0])
    assert abs(out[1] - 1.0) < 1e-15
    assert abs(out[2] - 0.15729920705028513) < 1e-12
    assert abs(out[3] - 2.0) < 1e-15


def _parquet_columns():
    import datetime

    day, moment = datetime.date(2020, 1, 2), datetime.datetime(2020, 1, 2, 3, 4, 5)
    return {
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, 2], pa.int16()),
        "i32": pa.array([1, 2], pa.int32()),
        "i64": pa.array([1, 2], pa.int64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, float("nan")]),
        "flag": pa.array([True, None]),
        "name": pa.array(["a", None]),
        "day": pa.array([day, None], pa.date32()),
        "250.1": pa.array([0, 1], pa.int8()),
        "ts_naive_us": pa.array([moment, None], pa.timestamp("us")),
        "ts_naive_ms": pa.array([moment, None], pa.timestamp("ms")),
        "ts_utc_us": pa.array([moment, None], pa.timestamp("us", "UTC")),
    }


def test_parquet_schema_matches_spark_inference(spark, tmp_path):
    """The footer-read schema read_input hands to Spark equals Spark's
    own inference, per column type and for dotted names, for one file
    and for a flat directory of part files. Anything else keeps Spark's
    inference: Hive-partitioned directories, part files that disagree,
    unmapped types (unsigned, nanosecond timestamps) and non-local
    paths."""
    import pyarrow.parquet as pq

    from polars_mas_spark.sources.readers import _parquet_schema

    table = pa.table(_parquet_columns())
    single = str(tmp_path / "single.parquet")
    pq.write_table(table, single)
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(2):
        pq.write_table(table, str(parts / f"part-{i}.parquet"))
    (parts / "_SUCCESS").write_text("")
    for path in (single, str(parts)):
        want = spark.read.parquet(path).schema
        assert _parquet_schema(spark, path) == want, path
        assert read_input(spark, path, fmt="parquet").schema == want
    for name in table.column_names:
        one = str(tmp_path / f"col-{name}.parquet")
        pq.write_table(table.select([name]), one)
        assert _parquet_schema(spark, one) == spark.read.parquet(one).schema, name

    hive = tmp_path / "hive"
    (hive / "site=a").mkdir(parents=True)
    pq.write_table(table, str(hive / "site=a" / "part-0.parquet"))
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(table, str(mixed / "part-0.parquet"))
    pq.write_table(table.drop_columns(["i8"]), str(mixed / "part-1.parquet"))
    unsigned = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint8())}), unsigned)
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"t": pa.array([0], pa.timestamp("ns"))}), nanos)
    for path in (str(hive), str(mixed), unsigned, nanos, f"file://{single}"):
        assert _parquet_schema(spark, path) is None, path


def test_read_input_parquet_runs_no_job(spark, tmp_path):
    """Reading a parquet input opens its footer locally: no Spark
    job, where Spark's own schema inference runs one."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "in.parquet")
    pq.write_table(pa.table(_parquet_columns()), path)
    sc = spark.sparkContext
    sc.setJobGroup("read-input", "read-input")
    try:
        df = read_input(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read-input") == []
    assert df.count() == 2


def test_phecode_csv_matches_spark_read(spark, tmp_path):
    """read_phecode_definitions' local pyarrow read gives the values and
    schema Spark's CSV reader gives under PHECODE_DEF_SCHEMA, for the
    bundled table and for a file with empty, quoted and "NULL" cells."""
    from polars_mas_spark.sources.readers import (
        PHECODE_DEF_COLUMNS,
        PHECODE_DEF_SCHEMA,
        bundled_phecode_definitions_path,
        read_phecode_csv,
        read_phecode_definitions,
    )

    odd = _write_csv(
        tmp_path, "defs.csv",
        "phecode,phenotype,phecode_exclude_range,sex,rollup,leaf,"
        "category_number,category\n"
        '008,"Intestinal, infection",001-009.99,Both,1,0,1,infectious\n'
        '008.5,,,"",1,0,,NULL\n'
        '250,"",x,Female,1,1,NaN,"quoted name"\n'
        "401.1,NA,,Male,,,2.5,\n",
    )
    for path in (bundled_phecode_definitions_path(), odd):
        spark_df = (
            spark.read.option("header", True).schema(PHECODE_DEF_SCHEMA)
            .csv(path).select(*PHECODE_DEF_COLUMNS)
        )
        want = [tuple(r) for r in spark_df.collect()]
        got = read_phecode_csv(path)
        rows = list(zip(*(got[c].to_pylist() for c in PHECODE_DEF_COLUMNS)))
        assert len(rows) == len(want), path
        for g, w in zip(rows, want):
            assert g[:4] == w[:4], (path, g, w)
            assert g[4] == w[4] or (g[4] != g[4] and w[4] != w[4]), (path, g, w)
        assert read_phecode_definitions(spark, path).schema == spark_df.schema
