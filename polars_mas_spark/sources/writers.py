"""Result writers: parquet / csv / tsv / txt.

Reference surface: /root/reference/src/polars_mas/postprocessing.py:33-40.
The reference's tsv/txt branch passes the wrong keyword to polars and
raises; we implement the *intended* behavior (tab-separated output), as
noted in SURVEY.md §2.1 S9.

``write_output`` writes the results table (a ``pyarrow.Table`` of P x D
rows, already on the driver) as ONE real file at ``path`` — reference
parity: its users read the output with plain pandas/polars/R, which
expect a file, not a Spark part-file directory. A local path is written
by pyarrow (parquet) or by ``_write_text``, to a temporary sibling that
then replaces the target, so a failed write never leaves a half-written
file. A URI (``hdfs://``, ``s3a://``, ``file://``) goes through Spark's
writer and the Hadoop FileSystem (``_promote_single_file``).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


_TEXT_SEPS = {"csv": ",", "tsv": "\t", "txt": "\t"}


def _check_single_file_mode(exists: bool, path: str, mode: str) -> bool:
    """Honor the write mode for a single-file output (the naive
    hardcoded overwrite silently destroyed existing files under
    mode='error'/'ignore' and lost data under 'append'). Returns True
    when the write should proceed."""
    if mode in ("error", "errorifexists") and exists:
        raise FileExistsError(
            f"{path} already exists (mode={mode!r}); use mode='overwrite'"
        )
    if mode == "ignore" and exists:
        return False
    if mode == "append":
        raise ValueError(
            "a single-file output cannot append (the write replaces the "
            "target); write to a new path instead"
        )
    return True


def _promote_single_file(df: DataFrame, path: str, mode: str, write_fn) -> None:
    """Write a one-partition directory beside the target, then promote
    its lone part file to the target path. ``write_fn(df, tmp)`` runs
    the actual coalesced write.

    All filesystem operations go through the Hadoop FileSystem for
    ``path``'s scheme — os.listdir/shutil.move
    only see the driver's local disk and would strand the temp
    directory on hdfs://, s3a://, etc."""
    spark = df.sparkSession
    fs, P = _hadoop_fs(spark, path)
    if not _check_single_file_mode(fs.exists(P(path)), path, mode):
        return
    tmp = f"{path}.__spark_tmp__"
    write_fn(df.coalesce(1), tmp)
    # listStatus, not glob: a user path like 'results[2024].csv' would
    # make glob treat [2024] as a character class and miss the part file.
    parts = sorted(
        s.getPath().getName()
        for s in fs.listStatus(P(tmp))
        if s.getPath().getName().startswith("part-")
        and not s.getPath().getName().endswith(".crc")
    )
    if not parts:
        raise RuntimeError(f"no part file produced under {tmp}")
    if fs.exists(P(path)):
        fs.delete(P(path), True)
    if not fs.rename(P(f"{tmp}/{parts[0]}"), P(path)):
        raise IOError(f"failed to promote {tmp}/{parts[0]} to {path}")
    fs.delete(P(tmp), True)


def _text_cells(col, sep: str):
    """One column (an Arrow array) as CSV cells, as Spark's CSV writer
    gives them: NULL is empty, NaN is ``NaN``, infinities are
    ``Infinity``/``-Infinity``, booleans are ``true``/``false`` and
    floats take their shortest exact round-trip form (with ``.0`` on
    whole numbers). A string is quoted when it holds the separator, a
    quote or a line break, and an empty string is ``""`` so it stays
    distinct from NULL. Unlike Spark's defaults, strings keep their
    leading and trailing spaces and inner quotes are doubled (RFC
    4180)."""
    t = col.type
    if pa.types.is_floating(t):
        text = pc.cast(col, pa.string())
        # Keep whole numbers visibly floating ("3.0", as Spark writes
        # them), so a reader does not infer an integer column.
        whole = pc.match_substring_regex(text, r"^-?[0-9]+$")
        text = pc.if_else(whole, pc.binary_join_element_wise(text, ".0", ""), text)
        text = pc.if_else(pc.is_nan(col), "NaN", text)
        sign = pc.if_else(pc.greater(col, 0), "Infinity", "-Infinity")
        text = pc.if_else(pc.is_inf(col), sign, text)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        needs = pc.or_(
            pc.match_substring_regex(col, f"[{re.escape(sep)}\"\r\n]"),
            pc.equal(col, ""),
        )
        quoted = pc.binary_join_element_wise(
            '"', pc.replace_substring(col, '"', '""'), '"', ""
        )
        text = pc.if_else(needs, quoted, col)
    else:
        text = pc.cast(col, pa.string())
    return pc.fill_null(text, "")


def _write_text(table: pa.Table, f, sep: str) -> None:
    """``table`` as delimited text: a header row, then one line per row."""
    header = _text_cells(pa.array(table.column_names), sep)
    f.write(sep.join(header.to_pylist()) + "\n")
    if table.num_rows == 0:
        return
    lines = pc.binary_join_element_wise(
        *[_text_cells(col, sep) for col in table.columns], sep
    )
    for chunk in lines.chunks:
        f.write("\n".join(chunk.to_pylist()) + "\n")


def write_output(
    table: pa.Table,
    path: str,
    output_type: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write the results ``table`` as one ``output_type`` file at
    ``path``. ``mode`` is Spark's: overwrite (replaces a file or a
    directory at ``path``), ignore, error/errorifexists; append raises."""
    if output_type != "parquet" and output_type not in _TEXT_SEPS:
        raise ValueError(f"Unsupported output type: {output_type}")
    if "://" in path:
        df = SparkSession.active().createDataFrame(table)

        def write_fn(d: DataFrame, p: str) -> None:
            w = d.write.mode("overwrite")
            if output_type == "parquet":
                w.parquet(p)
            else:
                # Spark's CSV writer trims string cells by default
                # ("y ~ x + " became "y ~ x +") and escapes quotes with a
                # backslash; keep cells as they are and double quotes,
                # like _write_text.
                (w.option("header", True).option("sep", _TEXT_SEPS[output_type])
                 .option("ignoreLeadingWhiteSpace", False)
                 .option("ignoreTrailingWhiteSpace", False)
                 .option("escape", '"').csv(p))

        _promote_single_file(df, path, mode, write_fn)
        return
    if not _check_single_file_mode(os.path.lexists(path), path, mode):
        return
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    try:
        if output_type == "parquet":
            pq.write_table(table, tmp)
        else:
            with open(tmp, "w", encoding="utf-8", newline="") as f:
                _write_text(table, f, _TEXT_SEPS[output_type])
        if os.path.isdir(path) and not os.path.islink(path):
            # A Spark part-file directory from an earlier write.
            shutil.rmtree(path)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM Hadoop API —
    works uniformly for local paths AND remote URIs (hdfs://, s3a://),
    unlike os.rename/shutil which only touch the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path
