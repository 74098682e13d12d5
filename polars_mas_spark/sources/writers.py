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

from polars_mas_spark.colutils import qcol

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
    ``path``'s scheme (like compact_parquet) — os.listdir/shutil.move
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


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    sort_within: list[str] | None = None,
) -> None:
    """Hive-partitioned parquet layout (``path/col=value/...``): THE
    storage-side contract that makes 100 TB scans cheap. A filter or
    join key on a partition column becomes directory pruning — the scan
    never opens non-matching files (static PartitionFilters for literal
    predicates; dynamic partition pruning when the value set comes from
    a joined dimension — both plan-asserted in tests/test_plans.py).

    ``sort_within`` additionally sorts rows inside each output file so
    min/max row-group statistics turn range predicates on those columns
    into row-group skips (poor man's clustering; parquet writes the
    stats automatically).

    Partition columns should be LOW cardinality (day, source, lang —
    not doc_id): each distinct combination is a directory, and millions
    of tiny files kill the driver's file listing before any query runs.
    """
    out = df
    if sort_within:
        # qcol each name: bare strings route through F.col, which reads
        # dotted names ('250.1') as struct access (CLAUDE.md).
        out = out.sortWithinPartitions(*[qcol(c) for c in sort_within])
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM Hadoop API —
    works uniformly for local paths AND remote URIs (hdfs://, s3a://),
    unlike os.rename/shutil which only touch the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def compact_parquet(
    spark,
    path: str,
    target_files: int,
    partition_cols: list[str] | None = None,
) -> None:
    """Rewrite a parquet dataset into fewer files. Streaming ingestion
    and fine-grained writes leave thousands of small files; at cluster
    scale the fix is periodic compaction, not bigger drivers.

    Plain layouts coalesce (no shuffle) to ``target_files`` total.
    Partitioned layouts repartition on the partition columns, which
    co-locates each partition value in one task and therefore yields
    ONE file per partition directory — the usual compaction target;
    ``target_files`` only bounds the number of concurrent write tasks.

    Swap is crash-safe and CLUSTER-SAFE: all renames go through the
    Hadoop FileSystem for ``path``'s scheme (local, hdfs://, s3a://…),
    never the driver's local os.rename. The compacted copy is written
    beside the dataset, the original renamed aside, the copy moved into
    place, and only then is the original deleted — a crash leaves
    either the original or both copies, never neither. (On object
    stores without atomic rename, e.g. raw S3, the rename is a
    copy+delete performed by the Hadoop connector — still correct, not
    instantaneous.)"""
    df = spark.read.parquet(path)
    base = path.rstrip("/")
    tmp = f"{base}__compact_tmp__"
    if partition_cols:
        (
            df.repartition(target_files, *[df[c] for c in partition_cols])
            .write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
        )
    else:
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    fs, P = _hadoop_fs(spark, base)
    old = f"{base}__compact_old__"
    if fs.exists(P(old)):
        fs.delete(P(old), True)
    if not fs.rename(P(base), P(old)):
        raise IOError(f"compact_parquet: failed to rename {base} aside")
    if not fs.rename(P(tmp), P(base)):
        fs.rename(P(old), P(base))  # roll back; tmp stays for retry
        raise IOError(f"compact_parquet: failed to move compacted copy into {base}")
    fs.delete(P(old), True)


def zorder_value(
    bin_edges: dict[str, list[float]], bits: int = 16
):
    """Column expression: the Morton (Z-order) interleave of each row's
    per-column bin ids — the multi-column data-skipping sort key.

    Sorting (or range-partitioning) a table by this value clusters rows
    that are close in EVERY listed column into the same parquet row
    groups, so min/max statistics prune scans filtered on ANY of the
    columns — the standard lakehouse trick for "we filter on either
    customer or price, pick one sort order" tables.

    ``bin_edges`` maps column -> explicit ascending interior edges
    (pinned edges: the key must be a pure
    row function, never depend on a sampled quantile that shifts
    between writes). Each column's bin id is clamped to ``bits`` bits;
    ids are bit-interleaved column-major (first column owns the most
    significant bit of each group). NULLs bin to 0 (sort first). Pure
    JVM expression — usable in sortWithinPartitions/repartitionByRange
    with zero extra jobs."""
    from pyspark.sql import functions as F

    from polars_mas_spark.colutils import qcol

    cols = list(bin_edges)
    # The interleave must fit a signed BIGINT: with more bits the high
    # columns shift out entirely and data bits reach the SIGN bit, so
    # some rows sort FIRST with negative z-values and row-group pruning
    # silently stops working (review r9). Fail loudly instead.
    if len(cols) * bits > 63:
        raise ValueError(
            f"zorder_value: {len(cols)} columns x {bits} bits = "
            f"{len(cols) * bits} interleaved bits > 63 (signed BIGINT); "
            "lower `bits` or drop columns"
        )
    ids = []
    for c in cols:
        edges = [float(e) for e in bin_edges[c]]
        if edges != sorted(edges) or len(set(edges)) != len(edges):
            raise ValueError(f"bin_edges[{c!r}] must be strictly increasing")
        if len(edges) >= (1 << bits):
            raise ValueError(f"too many edges for {bits}-bit bin ids")
        v = qcol(c).cast("double")
        # bin id = number of edges <= v (0 for NULL).
        bid = F.lit(0)
        for e in edges:
            bid = bid + F.when(v >= F.lit(e), 1).otherwise(0)
        ids.append(F.coalesce(bid, F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    # Interleave from the most significant bin bit down. bitwiseOR/AND,
    # not |/&: Python's operators on Columns are LOGICAL or/and.
    for bit in range(bits - 1, -1, -1):
        for bid in ids:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(bid, bit).bitwiseAND(one)
            )
    return z


def write_zordered(
    df,
    path: str,
    bin_edges: dict[str, list[float]],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Z-order key: repartitionByRange on
    the z-value (range partitions = files, so each file owns a compact
    z-range) then sortWithinPartitions — both on the SAME key, so the
    second sort is partition-local. Row-group min/max stats then prune
    on every binned column, not just a lexicographic leader."""
    from pyspark.sql import functions as F

    z = zorder_value(bin_edges)
    out = df.withColumn("__z__", z)
    if num_files:
        out = out.repartitionByRange(num_files, F.col("__z__"))
    (
        out.sortWithinPartitions("__z__")
        .drop("__z__")
        .write.mode(mode)
        .parquet(path)
    )


def write_shuffled(
    df,
    path: str,
    key_col: str,
    salt: str = "",
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet in DETERMINISTIC pseudo-random order — the global
    example shuffle a training run reads sequentially (epoch order must
    be random w.r.t. any data property, yet reproducible run to run and
    auditable per example). Order key = the engine-portable md5 hash of
    ``key_col`` ([[md5_u32]], salt = epoch/seed): repartitionByRange on
    the hash gives each output file a contiguous hash range (no global
    sort — range exchange + partition-local sorts), sortWithinPartitions
    finishes the total order. Re-salting re-shuffles without touching
    the data; same salt always reproduces the same byte order."""
    from pyspark.sql import functions as F

    from polars_mas_spark.colutils import qcol
    from polars_mas_spark.operators.sampling import md5_u32

    h = md5_u32(qcol(key_col), salt)
    out = df.withColumn("__shuf__", h)
    if num_files:
        out = out.repartitionByRange(num_files, F.col("__shuf__"))
    (
        # qcol on the tiebreak: a bare string goes through F.col, which
        # parses dotted names ('250.1') as struct access (CLAUDE.md).
        out.sortWithinPartitions(F.col("__shuf__"), qcol(key_col))
        .drop("__shuf__")
        .write.mode(mode)
        .parquet(path)
    )
