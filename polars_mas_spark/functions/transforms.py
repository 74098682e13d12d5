"""Dependent-variable transforms the reference declares but never wires
up (cli.py:93-103, README.md:160-161): rank-based inverse-normal
transform (RINT) and log transform.

RINT is the one transform that needs a GLOBAL rank, and a naive
``row_number() over (order by col)`` funnels the whole table through a
single task. The scale-safe implementation here is a two-phase
distributed rank (the same deterministic range-block pattern as
operators.fills):

1. ~equi-depth block boundaries from one ``approxQuantile`` job; block
   id is a pure expression of the value, so equal values share a block
   and nothing needs persisting;
2. one hash shuffle on the block id, then a *partitioned* window sort
   per block computing the tie-min rank (``rank()``) and tie-max rank
   (RANGE-frame count) in one sorted pass;
3. per-block row counts (tiny aggregate) -> driver prefix sum -> global
   rank offsets applied as an array literal lookup;
4. average tie rank = (min + max) / 2 + offset, then the Blom fraction.

The probit on top is a vectorized Arrow pandas UDF over numpy
(functions.distributions.norm_ppf_vec) — no per-element Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, FloatType

from polars_mas_spark.colutils import qcol
from polars_mas_spark.functions.distributions import norm_ppf_vec
from polars_mas_spark.operators.fills import range_block_column

_RB = "__pms_rint_block__"


# DataType instance (not a DDL string) so the UDF can be defined at import
# time without an active SparkSession.
@pandas_udf(DoubleType())
def _probit(p: pd.Series) -> pd.Series:
    arr = p.to_numpy(dtype=np.float64, na_value=np.nan)
    return pd.Series(norm_ppf_vec(arr))


def _valid_value(df: DataFrame, col: str):
    """Non-null (and non-NaN for float columns) predicate. Spark sorts
    NaN above every real number, so letting NaNs through would hand them
    the top ranks; the reference's polars rank leaves them out."""
    valid = qcol(col).isNotNull()
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        valid = valid & ~F.isnan(qcol(col))
    return valid


def blom_fractions(
    df: DataFrame, col: str, frac_col: str, num_blocks: int | None = None
) -> DataFrame:
    """Add ``frac_col`` = (avg_tie_rank - 0.375) / (n + 0.25) over the
    valid values of ``col`` (null for invalid rows), with the distributed
    two-phase rank described in the module docstring. Row order of the
    output is not preserved (valid and invalid slices are unioned)."""
    ranked, invalid, n = _avg_tie_ranks(df, col, num_blocks)
    if n == 0:
        return df.withColumn(frac_col, F.lit(None).cast("double"))
    blom = (F.col(_AR) - F.lit(0.375)) / F.lit(float(n) + 0.25)
    out_valid = ranked.withColumn(frac_col, blom).drop(_AR)
    out_invalid = invalid.withColumn(frac_col, F.lit(None).cast("double"))
    return out_valid.unionByName(out_invalid)


_AR = "__pms_avg_tie_rank__"


def _avg_tie_ranks(df: DataFrame, col: str, num_blocks: int | None):
    """Distributed average-tie-rank over the valid values of ``col``
    (module-docstring two-phase pattern), for [[blom_fractions]].
    Returns ``(ranked, invalid, n)`` where
    ``ranked`` carries the ``_AR`` double column (mean of the tied
    rows' consecutive global 1-based ranks) over the valid rows,
    ``invalid`` is the null/NaN slice untouched, and ``n`` is the
    valid-row count (0 short-circuits: ranked is None)."""
    spark = df.sparkSession
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    valid = _valid_value(df, col)
    vdf = df.filter(valid)

    block_expr, n_blocks = range_block_column(vdf, col, num_blocks)
    blocked = vdf.withColumn(_RB, block_expr).repartition(n_blocks, F.col(_RB))

    # Tiny per-block count job -> driver prefix sum -> offset lookup.
    # Deterministic block assignment makes the recompute safe (fills.py).
    # The global n is the SUM of these counts — a separate vdf.count()
    # would be a second full pass over the valid rows for a number this
    # aggregation already has.
    counts = {r[_RB]: r["cnt"] for r in
              blocked.groupBy(_RB).agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(counts.values())
    if n == 0:
        return None, df.filter(~valid), 0
    offsets = [0] * n_blocks
    running = 0
    for b in range(n_blocks):
        offsets[b] = running
        running += counts.get(b, 0)
    offset = F.element_at(
        F.array(*[F.lit(int(o)) for o in offsets]), F.col(_RB) + 1
    )

    # One sorted pass per block: rank() is the tie-minimum rank and the
    # RANGE-frame count is the tie-maximum rank; their mean equals the
    # average of the tied rows' consecutive global ranks.
    w = Window.partitionBy(_RB).orderBy(qcol(col).asc())
    w_range = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    min_rank = F.rank().over(w) + offset
    max_rank = F.count(F.lit(1)).over(w_range) + offset
    avg_rank = (min_rank.cast("double") + max_rank.cast("double")) / F.lit(2.0)
    ranked = blocked.withColumn(_AR, avg_rank).drop(_RB)
    return ranked, df.filter(~valid), n


_GN = "__pms_group_n__"


def grouped_avg_tie_ranks(
    df: DataFrame,
    col: str,
    group_col: str,
    num_blocks: int | None = None,
):
    """Per-group average-tie-rank: the two-phase distributed rank (see
    module docstring) generalized to rank ``col`` WITHIN each value of
    ``group_col`` — the CCNet §4.4 shape (per-LANGUAGE perplexity
    quantiles) where a per-group global window would funnel the
    dominant language through one task.

    Mechanics: block boundaries stay GLOBAL (one approxQuantile job —
    a value-monotone block id is monotone within every group too, so
    per-group ranks still compose from per-(group, block) sorted
    passes); the tiny counts aggregate and the driver prefix sum become
    per-(group, block); offsets + per-group valid counts come back as a
    broadcast literal-table join keyed on (group, block). Driver state
    is bounded by ``n_groups * num_blocks`` rows — the group column
    must be LOW-CARDINALITY (language codes, sources, splits), which is
    asserted (<= 10,000 cells) so a high-cardinality key fails loudly
    instead of building a gigabyte literal table.

    Returns ``(ranked, invalid)``: ``ranked`` carries ``_AR`` (the mean
    of the tied rows' consecutive 1-based ranks within their group) and
    ``_GN`` (the group's valid-row count); ``invalid`` is the null/NaN
    slice untouched. ``ranked`` is None when no row is valid.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    valid = _valid_value(df, col)
    vdf = df.filter(valid)

    block_expr, n_blocks = range_block_column(vdf, col, num_blocks)
    blocked = vdf.withColumn(_RB, block_expr)

    counts = (
        blocked.groupBy(qcol(group_col).alias("__g__"), F.col(_RB))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not counts:
        return None, df.filter(~valid)
    assert len(counts) <= 10_000, (
        f"grouped rank over {len(counts)} (group, block) cells — "
        f"'{group_col}' looks high-cardinality; this operator is for "
        "bounded keys (languages, sources, splits)"
    )
    per_group: dict = {}
    for r in counts:
        per_group.setdefault(r["__g__"], {})[r[_RB]] = r["cnt"]
    rows = []
    for g, blocks in per_group.items():
        n_g = sum(blocks.values())
        running = 0
        for b in range(n_blocks):
            if b in blocks:
                rows.append((g, b, running, n_g))
                running += blocks[b]
    gtype = df.schema[group_col].dataType
    offsets = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("__g__", gtype),
                StructField(_RB + "_o", LongType()),
                StructField("__off__", LongType()),
                StructField(_GN, LongType()),
            ]
        ),
    )
    # eqNullSafe: a NULL group value is a legal group (only the SCORE
    # column gates validity); plain equality would silently drop it.
    joined = blocked.join(
        F.broadcast(offsets),
        qcol(group_col).eqNullSafe(F.col("__g__"))
        & (F.col(_RB) == F.col(_RB + "_o")),
    ).drop("__g__", _RB + "_o")

    # One sorted pass per (group, block): same tie-min rank + RANGE-frame
    # tie-max count identity as _avg_tie_ranks; value-based blocks mean
    # ties never straddle blocks.
    w = Window.partitionBy(qcol(group_col), F.col(_RB)).orderBy(qcol(col).asc())
    w_range = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    min_rank = F.rank().over(w) + F.col("__off__")
    max_rank = F.count(F.lit(1)).over(w_range) + F.col("__off__")
    avg_rank = (min_rank.cast("double") + max_rank.cast("double")) / F.lit(2.0)
    ranked = joined.withColumn(_AR, avg_rank).drop(_RB, "__off__")
    return ranked, df.filter(~valid)


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str,
    n_buckets: int = 3,
    labels: tuple | None = None,
    out_col: str = "bucket",
    label_col: str = "bucket_label",
    num_blocks: int | None = None,
) -> DataFrame:
    """Per-group quantile-rank bucketing: bucket
    ``s`` in ``[0, n_buckets)`` by the rank of ``score_col`` ascending
    WITHIN each ``group_col`` value, ties sharing a bucket via the
    average tie rank — ``bucket = floor(n_buckets * (avg_tie_rank -
    0.5) / n_group)``, written mul before div so the IEEE result (and
    the floor) is bit-identical cross-engine on exact rank inputs.
    The distributed shape is [[grouped_avg_tie_ranks]] (one global approxQuantile boundary job,
    one hash shuffle on (group, block) — no per-group single-task
    window). NULL/NaN scores get a NULL bucket; optional ``labels``
    (len == n_buckets) adds a label column (NULL for NULL buckets).

    The CCNet §4.4 head/middle/tail perplexity cut is this operator at
    n_buckets=3 grouped by language (operators.text.perplexity_thirds);
    per-source quality tiers and per-split difficulty bands are the
    same shape."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"labels must have exactly n_buckets={n_buckets} entries, "
            f"got {len(labels)}"
        )
    ranked, invalid = grouped_avg_tie_ranks(
        df, score_col, group_col, num_blocks
    )
    if ranked is None:
        out = df.withColumn(out_col, F.lit(None).cast("int"))
    else:
        bucket = F.floor(
            F.lit(float(n_buckets))
            * (F.col(_AR) - F.lit(0.5))
            / F.col(_GN).cast("double")
        ).cast("int")
        out_valid = ranked.withColumn(out_col, bucket).drop(_AR, _GN)
        out_invalid = invalid.withColumn(out_col, F.lit(None).cast("int"))
        out = out_valid.unionByName(out_invalid)
    if labels is not None:
        out = out.withColumn(
            label_col,
            F.element_at(
                F.array(*[F.lit(str(l)) for l in labels]),
                F.col(out_col) + 1,
            ),
        )
    return out


def rint(
    df: DataFrame, col: str, out_col: str | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """Blom-offset rank-based inverse normal transform:
    probit((avg_rank - 0.375) / (n + 0.25)). Rank ties use the average
    rank (matching R's rank default used by standard RINT
    implementations); null/NaN inputs yield null."""
    out_col = out_col or col
    frac = "__pms_blom_frac__"
    out = blom_fractions(df, col, frac, num_blocks=num_blocks)
    return out.withColumn(
        out_col, F.when(F.col(frac).isNotNull(), _probit(F.col(frac)))
    ).drop(frac)


def log_transform(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    return df.withColumn(out_col or col, F.log(qcol(col)))
