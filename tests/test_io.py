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
