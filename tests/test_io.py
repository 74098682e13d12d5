"""Reader/writer review-regression tests (r4): multi-token nulls across
column types, single-file promotion contracts, mode honoring, and
cluster-safe compaction."""

import os

import numpy as np
import pyarrow as pa
import pytest

from polars_mas_spark.sources.readers import read_input
from polars_mas_spark.sources.writers import compact_parquet, write_output


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


def test_compact_parquet_local_roundtrip(spark, tmp_path):
    path = str(tmp_path / "ds")
    spark.range(100).repartition(8).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_before >= 8
    compact_parquet(spark, path, target_files=2)
    n_after = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_after <= 2
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__compact_old__")


def test_erfc_vec_nan_propagates():
    from polars_mas_spark.functions.distributions import erfc_vec

    out = erfc_vec(np.array([np.nan, 0.0, 1.0, -30.0]))
    assert np.isnan(out[0])
    assert abs(out[1] - 1.0) < 1e-15
    assert abs(out[2] - 0.15729920705028513) < 1e-12
    assert abs(out[3] - 2.0) < 1e-15


def test_zorder_value_matches_reference_interleave(spark):
    """The Morton key equals a straight Python bit-interleave of the
    bin ids; NULLs bin to 0; invalid edges raise."""
    import pytest as pt
    from pyspark.sql import functions as F

    from polars_mas_spark.sources.writers import zorder_value

    edges = {"a": [10.0, 20.0, 30.0], "b": [100.0]}
    rows = [(5.0, 50.0), (15.0, 150.0), (25.0, None), (None, 500.0), (35.0, 99.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = [
        r.z
        for r in df.select(
            zorder_value(edges, bits=4).alias("z")
        ).collect()
    ]

    def ref(a, b):
        bid_a = 0 if a is None else sum(1 for e in edges["a"] if a >= e)
        bid_b = 0 if b is None else sum(1 for e in edges["b"] if b >= e)
        z = 0
        for bit in range(3, -1, -1):
            z = (z << 1) | ((bid_a >> bit) & 1)
            z = (z << 1) | ((bid_b >> bit) & 1)
        return z

    assert got == [ref(a, b) for a, b in rows]
    with pt.raises(ValueError, match="strictly increasing"):
        zorder_value({"a": [2.0, 1.0]})


def test_write_zordered_clusters_files_by_z_range(spark, tmp_path):
    """Round-trips losslessly and actually clusters: with range
    partitioning on the z-key, per-file z ranges must not all overlap
    (the whole point of the layout is disjoint-ish clusters)."""
    import glob

    from pyspark.sql import functions as F

    from polars_mas_spark.sources.writers import write_zordered, zorder_value

    df = spark.range(2000).select(
        (F.col("id") % 50).cast("double").alias("x"),
        (F.col("id") % 37).cast("double").alias("y"),
        F.col("id"),
    )
    edges = {"x": [10.0, 20.0, 30.0, 40.0], "y": [10.0, 20.0, 30.0]}
    path = str(tmp_path / "zo")
    write_zordered(df, path, edges, num_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert sorted(r.id for r in back.select("id").collect()) == list(range(2000))
    z = zorder_value(edges, bits=4).alias("z")
    ranges = []
    for f in glob.glob(path + "/part-*.parquet"):
        one = spark.read.parquet(f).select(z).agg(
            F.min("z"), F.max("z")
        ).first()
        ranges.append((one[0], one[1]))
    ranges.sort()
    # Range partitioning on z => consecutive files' ranges can touch at
    # the boundary but not strictly interleave.
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo2 >= lo1 and lo2 >= hi1 - 0  # non-interleaved ordering


def test_write_shuffled_deterministic_and_resaltable(spark, tmp_path):
    """Same salt -> identical global order across independent writes;
    different salt -> different order; round-trip lossless; per-file
    hash ranges disjoint (range layout, no global sort)."""
    from pyspark.sql import functions as F

    from polars_mas_spark.operators.sampling import md5_u32
    from polars_mas_spark.sources.writers import write_shuffled

    df = spark.range(500).select(F.col("id"))

    def order(path, salt):
        write_shuffled(df, path, "id", salt=salt, num_files=3)
        back = spark.read.parquet(path)
        assert back.count() == 500
        return [
            r.id
            for r in back.withColumn("__h__", md5_u32(F.col("id"), salt))
            .orderBy("__h__", "id")
            .collect()
        ]

    a = order(str(tmp_path / "s1"), "ep1")
    b = order(str(tmp_path / "s2"), "ep1")
    c = order(str(tmp_path / "s3"), "ep2")
    assert a == b
    assert a != c
    assert sorted(a) == list(range(500))


def test_zorder_value_rejects_bit_overflow(spark):
    """5 cols x 16 bits = 80 interleaved bits silently corrupted the
    sign bit before r9; now it raises."""
    import pytest as _pt

    from polars_mas_spark.sources.writers import zorder_value

    edges = {f"c{i}": [0.0, 1.0] for i in range(5)}
    with _pt.raises(ValueError, match="interleaved bits"):
        zorder_value(edges, bits=16)
    # 5 cols fit at 12 bits (60 <= 63)
    zorder_value(edges, bits=12)
