"""Postprocessing: multiple-testing correction and phenotype annotation.

Reference surface: /root/reference/src/polars_mas/postprocessing.py:6-40.
Bonferroni matches the reference exactly; Benjamini-Hochberg FDR is the
first roadmap feature the reference declares but never implements
(README.md:159,169; postprocessing.py:15 silently returns None for any
method != "bonferroni") — here it is a real operator.

Like the reference, these run in one process on the results table: one
row per predictor x dependent pair, a few million rows at most, orders
of magnitude smaller than the input. run_associations hands it over as
a ``pyarrow.Table``, and every operator here takes and returns one, so
no correction or annotation runs a Spark job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from polars_mas_spark.sources.readers import phecode_table


def sex_restrictions_from_defs(
    defs_df: DataFrame,
    female_code: int = 1,
    male_code: int = 0,
    phecode_col: str = "phecode",
    sex_col: str = "sex",
) -> dict:
    """Build a MASConfig.sex_restrictions map from a phecode definition
    table whose ``sex`` column holds Both/Female/Male (the reference
    computes exactly these sets and never uses them, constants.py:14-16).
    The defs table is ~1,866 rows — a driver-side collect is correct."""
    rows = defs_df.select(phecode_col, sex_col).collect()
    out = {}
    for r in rows:
        s = (r[sex_col] or "").strip().lower()
        if s == "female":
            out[r[phecode_col]] = female_code
        elif s == "male":
            out[r[phecode_col]] = male_code
    return out


def _with_column(table: pa.Table, name: str, values) -> pa.Table:
    """``table`` with column ``name`` set to ``values``: replaced in
    place when it exists, appended otherwise (Spark's withColumn)."""
    if name in table.column_names:
        return table.set_column(table.column_names.index(name), name, values)
    return table.append_column(name, values)


def bonferroni(
    table: pa.Table,
    baseline_pval: float = 0.05,
    pval_col: str = "pval",
) -> pa.Table:
    """Add ``bonferroni_significant`` = pval < baseline / #non-null-tests
    (postprocessing.py:14-20). Reference parity: polars' ``is_not_null()``
    is True for float NaN, so failed fits (which carry NaN p-values)
    COUNT toward the test total — only true nulls are excluded. The
    association fan-out guarantees failure rows reach this operator as
    NaN, not NULL (``association._complete_pairs`` restores every NULL
    double to NaN — the one documented place that decision lives), so
    the non-null count here counts exactly what the reference counts.
    NaN pvals then compare False against the threshold, matching polars;
    a NULL pval gives NULL."""
    pvals = table[pval_col]
    num_tests = len(pvals) - pvals.null_count
    if num_tests == 0:
        flag = pa.nulls(len(pvals), pa.bool_())
    else:
        flag = pc.less(pvals, baseline_pval / num_tests)
    return _with_column(table, "bonferroni_significant", flag)


def benjamini_hochberg(
    table: pa.Table,
    pval_col: str = "pval",
    out_col: str = "pval_bh",
) -> pa.Table:
    """BH step-up adjusted p-values: adj_i = min_{j>=i}(p_(j) * n / j),
    capped at 1. Rows come back in ascending p order (NaN, then NULL,
    last); ``out_col`` is NULL where the p-value is NULL or NaN.

    Ties: every row of a tied p-value group uses the group's MAXIMUM
    ascending rank (the count of p-values <= p). This is the canonical
    tie-invariant form — the step-up running minimum collapses tied
    groups to p*n/maxrank anyway, so using maxrank directly makes the
    result independent of any within-tie row order.

    Unlike bonferroni's reference-parity count, BH's n counts only
    *usable* p-values (NaN excluded): a NaN entering p*n/rank would
    poison the running minimum."""
    col = table[pval_col]
    is_null = col.is_null().to_numpy(zero_copy_only=False)
    p = col.to_numpy().astype(np.float64)  # NULL -> NaN, masked below
    valid = ~is_null & ~np.isnan(p)
    n = int(valid.sum())
    adjusted = np.full(len(p), np.nan)
    if n:
        ranked = np.sort(p[valid])
        rank = np.searchsorted(ranked, ranked, side="right")
        raw = np.minimum(ranked * float(n) / rank, 1.0)
        # Running minimum from the largest p downward: the step-up rule.
        step_up = np.minimum.accumulate(raw[::-1])[::-1]
        adjusted[valid] = step_up[np.searchsorted(ranked, p[valid], side="left")]
    # Valid p ascending, then NaN, then NULL; stable within ties.
    order = np.lexsort((np.where(valid, p, 0.0), ~valid, is_null))
    out = _with_column(table, out_col, pa.array(adjusted, mask=~valid))
    return out.take(order)


def add_phecode_definitions(
    table: pa.Table,
    defs_df: DataFrame,
    is_phewas: bool = False,
    is_flipwas: bool = False,
) -> pa.Table:
    """Left join of the ~1.9k-row phecode definition table
    (postprocessing.py:23-29): dependent=phecode for PheWAS, predictor=
    phecode for flipWAS. ``defs_df`` becomes a local table through
    readers.phecode_table: no Spark job for a read_phecode_definitions
    table, one ``toArrow()`` collect for any other. The join runs
    locally, keeps the results' row order, and leaves the definition
    columns NULL on unmatched rows."""
    if is_phewas:
        key = "dependent"
    elif is_flipwas:
        key = "predictor"
    else:
        return table
    defs = phecode_table(defs_df)
    defs = _with_column(
        defs, "phecode", defs["phecode"].cast(table.schema.field(key).type)
    )
    row = "__row__"
    joined = table.append_column(row, pa.array(np.arange(table.num_rows))).join(
        defs, keys=key, right_keys="phecode", join_type="left outer",
    )
    return joined.sort_by(row).drop_columns([row])
