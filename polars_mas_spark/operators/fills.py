"""Ordered forward/backward fill that scales past one partition.

Polars fills nulls using the frame's physical row order
(/root/reference/src/polars_mas/preprocessing.py:30-31). Spark tables
have no inherent order, so the engine requires an explicit order column
(SURVEY.md §2.5 F3/F4 contract). The naive translation —
``last(col, ignorenulls=True) over (ORDER BY ord)`` with no PARTITION BY —
collapses the whole table into a single task, which is exactly the kind
of plan that dies at 100 TB.

Scalable algorithm (classic distributed prefix-scan):

1. Compute ~equi-depth block boundaries for the order column with ONE
   column-pruned ``approxQuantile`` job, and assign each row a block id
   as a pure function of its order value. Deterministic by construction:
   re-evaluating the plan reproduces identical blocks, so nothing needs
   to be persisted (``repartitionByRange`` + ``spark_partition_id`` would
   need a cache pin to keep its sampled boundaries stable across the
   summary job and the fill job).
2. One hash shuffle on the block id; within each block, fill with a
   *partitioned* window — parallel.
3. Per block, take the last non-null value (tiny aggregate), collect
   the P-row summary to the driver, compute the running carry-in prefix,
   and broadcast-join it back.
4. ``coalesce(within-block fill, carry_in)``.

Cost: one quantile scan + one hash shuffle + one tiny broadcast join,
fully parallel, no persisted state left behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_mas_spark.colutils import qcol

_BLOCK = "__pms_fill_block__"
_CARRY_SUFFIX = "__carry__"


def forward_fill(
    df: DataFrame, cols: list[str], order_col: str, num_blocks: int | None = None
) -> DataFrame:
    return _ordered_fill(df, cols, order_col, backward=False, num_blocks=num_blocks)


def backward_fill(
    df: DataFrame, cols: list[str], order_col: str, num_blocks: int | None = None
) -> DataFrame:
    return _ordered_fill(df, cols, order_col, backward=True, num_blocks=num_blocks)


def range_block_column(
    df: DataFrame,
    order_col: str,
    num_blocks: int,
    descending: bool = False,
    relative_error: float = 0.001,
):
    """(block_expr, n_blocks): a deterministic ~equi-depth block id that
    is monotone in ``order_col`` (reversed when ``descending``).

    Boundaries come from one ``approxQuantile`` job on the (possibly
    cast-to-double) order column — column-pruned, no shuffle. The block
    id is then a pure expression of the row's value: equal values always
    land in the same block, and re-evaluation is reproducible, unlike
    ``repartitionByRange``'s run-time boundary sampling. Shared by the
    ordered fills and the distributed rank in functions.transforms."""
    from pyspark.sql.types import NumericType, TimestampType

    dtype = df.schema[order_col].dataType if order_col in df.columns else None
    if dtype is not None and not isinstance(
        dtype, (NumericType, TimestampType)
    ):
        # A string/date order column casts to all-null doubles, the
        # quantile list comes back empty, and the "fallback" would be
        # ONE block — i.e. the single-task global window this module
        # exists to avoid, silently, at any scale. Fail with the fix.
        raise ValueError(
            f"order column '{order_col}' has non-numeric type {dtype}; "
            "range-blocked operators need a numeric or timestamp order "
            "column (add a numeric ingest id)."
        )
    if num_blocks <= 1:
        # One block = no boundaries, and approxQuantile with an empty
        # probability list throws, so skip the quantile job.
        return F.lit(0), 1
    probs = [i / num_blocks for i in range(1, num_blocks)]
    ordd = qcol(order_col).cast("double")
    cuts = (
        df.select(ordd.alias("__pms_ord__"))
        .dropna()
        .stat.approxQuantile("__pms_ord__", probs, relative_error)
    )
    uniq = sorted(set(cuts))
    if not uniq:
        return F.lit(0), 1
    n_blocks = len(uniq) + 1
    asc_block = sum(
        (F.when(ordd > F.lit(c), 1).otherwise(0) for c in uniq), F.lit(0)
    )
    if descending:
        return F.lit(len(uniq)) - asc_block, n_blocks
    return asc_block, n_blocks


def _ordered_fill(
    df: DataFrame,
    cols: list[str],
    order_col: str,
    backward: bool,
    num_blocks: int | None,
) -> DataFrame:
    if not cols:
        return df
    original_cols = df.columns
    spark = df.sparkSession
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    order = qcol(order_col).desc() if backward else qcol(order_col).asc()
    block_expr, n_blocks = range_block_column(
        df, order_col, num_blocks, descending=backward
    )
    blocked = df.withColumn(_BLOCK, block_expr).repartition(
        n_blocks, F.col(_BLOCK)
    )

    win = (
        Window.partitionBy(_BLOCK)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled_local = blocked.select(
        *[
            F.last(qcol(c), ignorenulls=True).over(win).alias(c)
            if c in cols
            else qcol(c)
            for c in blocked.columns
        ]
    )

    # Per-block last non-null value in scan order (max_by/min_by skip
    # null keys). min_by for the backward scan rather than max_by(-x):
    # unary minus rejects TimestampType, which range_block_column
    # explicitly admits as an order column (review r9).
    # Recomputing `blocked` here is safe BECAUSE block assignment is a
    # deterministic expression — no persist, nothing leaks.
    pick = F.min_by if backward else F.max_by
    summaries = (
        blocked.groupBy(_BLOCK)
        .agg(
            *[
                pick(
                    qcol(c), F.when(qcol(c).isNotNull(), qcol(order_col))
                ).alias(c)
                for c in cols
            ]
        )
        .orderBy(_BLOCK)
        .collect()
    )
    # Running carry-in: the last value seen in any *earlier* block.
    carries: list[dict] = []
    running: dict[str, object] = {c: None for c in cols}
    for row in summaries:
        carries.append({_BLOCK: row[_BLOCK], **{c + _CARRY_SUFFIX: running[c] for c in cols}})
        for c in cols:
            if row[c] is not None:
                running[c] = row[c]

    if not carries:
        # Zero input rows (empty table, or a sex filter removed
        # everything): F.array() of no structs has void element type and
        # the '__s__.*' star-expand below would raise an opaque
        # AnalysisException — the fill is a no-op on an empty frame.
        return df
    carry_schema = blocked.select(
        F.col(_BLOCK), *[qcol(c).alias(c + _CARRY_SUFFIX) for c in cols]
    ).schema
    # Build the tiny carry table JVM-side (explode of literal structs).
    # spark.createDataFrame(list) would ship it as a pickled Python RDD
    # over defaultParallelism partitions — one Python worker launch per
    # partition just to unpickle a few rows.
    structs = [
        F.struct(
            *[
                F.lit(d[f.name]).cast(f.dataType).alias(f.name)
                for f in carry_schema.fields
            ]
        )
        for d in carries
    ]
    carry_df = (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("__s__"))
        .select("__s__.*")
    )

    result = (
        filled_local.join(F.broadcast(carry_df), on=_BLOCK, how="left")
        .select(
            *[
                F.coalesce(qcol(c), qcol(c + _CARRY_SUFFIX)).alias(c)
                if c in cols
                else qcol(c)
                for c in original_cols
            ]
        )
    )
    return result
