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
