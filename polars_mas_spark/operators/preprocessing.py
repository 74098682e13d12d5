"""Preprocessing operators: sex restriction, missing-covariate handling,
constant-covariate drop, one-hot encoding.

Reference surface: /root/reference/src/polars_mas/preprocessing.py:7-108.
Every operator is a pure ``DataFrame -> DataFrame`` transformation built
from Catalyst-optimizable expressions (no UDFs); the interleaved eager
statistics the reference collects (null counts, distinct counts, level
sets) become single aggregate jobs against the (ideally persisted) input
rather than repeated file re-scans (SURVEY.md §3.2).

Deviations from the reference, both documented in SURVEY.md §2.5/§2.6:
- ``zero``/``one`` fill is scoped to the covariate columns (the reference
  fills the whole frame — a latent bug; its own docstring says
  covariates).
- One-hot level order is sorted for determinism (the reference relies on
  polars' unstable unique() order).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, NumericType, StructType

from polars_mas_spark.colutils import qcol
from polars_mas_spark.config import MASConfig
from polars_mas_spark.operators.association import input_row_count
from polars_mas_spark.operators.fills import backward_fill, forward_fill


def limit_sex_specific(df: DataFrame, config: MASConfig) -> DataFrame:
    """Keep only male or only female rows (preprocessing.py:43-62)."""
    if not config.male_only and not config.female_only:
        return df
    if config.sex_col not in df.columns:
        raise ValueError(
            f"Sex column '{config.sex_col}' not found in included columns."
        )
    if config.male_only:
        return df.filter(qcol(config.sex_col) != F.lit(config.female_code))
    return df.filter(qcol(config.sex_col) == F.lit(config.female_code))


def handle_missing_covariates(df: DataFrame, config: MASConfig) -> DataFrame:
    """Apply the configured missing-covariate strategy
    (preprocessing.py:7-40; strategy list cli.py:119-126)."""
    covs = config.covariate_columns
    strategy = config.missing_covariate_values
    if not covs:
        return df
    if strategy == "fail":
        # One fused aggregate: a separate df.count() would be a second
        # full scan of the (possibly uncached) input on the DEFAULT
        # strategy (build_prep_recipe fuses the same way).
        null_counts = df.agg(
            F.count(F.lit(1)).alias("__pms_total__"),
            *[F.count(F.when(qcol(c).isNull(), 1)).alias(c) for c in covs],
        ).first()
        total = null_counts["__pms_total__"]
        for c in covs:
            if null_counts[c] == total:
                raise ValueError(f"All values are missing in covariate column '{c}'.")
            if null_counts[c] > 0:
                raise ValueError(
                    f"Missing values found in covariate column '{c}': "
                    f"{null_counts[c]} missing values."
                )
        return df
    if strategy == "drop":
        return df.na.drop(subset=covs)
    if strategy in ("forward", "backward"):
        order_col = config.order_col
        if order_col is None:
            raise ValueError(
                "forward/backward fill requires an explicit order column "
                "(MASConfig.order_col): Spark tables have no inherent row "
                "order. Add a stable id at ingest."
            )
        fill = forward_fill if strategy == "forward" else backward_fill
        return fill(df, covs, order_col)
    if strategy in ("min", "max", "mean"):
        # Stat fills apply to numeric covariates only: ANSI Spark rejects
        # avg(string), and polars' mean on a string column yields null
        # (a silent no-op fill) — string-typed categoricals keep their
        # nulls here and should use drop/fail instead.
        numeric = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, NumericType)
        }
        targets = [c for c in covs if c in numeric]
        if not targets:
            return df
        agg_fn = {"min": F.min, "max": F.max, "mean": F.avg}[strategy]
        stats = df.agg(*[agg_fn(qcol(c)).alias(c) for c in targets]).first()
        fill_map = {c: stats[c] for c in targets if stats[c] is not None}
        return df.na.fill(fill_map)
    if strategy in ("zero", "one"):
        return df.na.fill(0 if strategy == "zero" else 1, subset=covs)
    return df


def drop_constant_covariates(
    df: DataFrame, config: MASConfig, counts: dict | None = None
) -> DataFrame:
    """Drop covariates with <=1 distinct value (preprocessing.py:65-79);
    updates ``config.covariate_columns`` in place like the reference.
    Exact countDistinct — an approximate count that misjudges a constant
    column would silently change the design matrix. ``counts`` lets
    ``preprocess`` supply the distinct counts from its fused stats job
    instead of running a dedicated pass."""
    covs = config.covariate_columns
    if not covs:
        return df
    if counts is None:
        row = df.agg(
            *[F.countDistinct(qcol(c)).alias(c) for c in covs]
        ).first()
        counts = {c: row[c] for c in covs}
    constant = [c for c in covs if counts[c] <= 1]
    if not constant:
        return df
    config.covariate_columns = [c for c in covs if c not in constant]
    return df.drop(*constant)


def create_dummy_covariates(
    df: DataFrame, config: MASConfig, level_sets: dict | None = None
) -> DataFrame:
    """One-hot encode categorical covariates with >2 levels, dropping the
    first (reference) level against multicollinearity
    (preprocessing.py:82-108). Levels are collected in one aggregate job
    (collect_set) and sorted for determinism; dummy columns are named
    ``{col}_{level}`` as the reference does (preprocessing.py:97).
    ``level_sets`` lets ``preprocess`` supply the levels from its fused
    stats job.

    REPLICATED REFERENCE BEHAVIOR, latent bug included: a <=2-level
    ("binary") categorical is not encoded, yet the tail still removes
    EVERY declared categorical from ``covariate_columns``
    (reference preprocessing.py:104-106) — so a binary categorical
    silently leaves the design entirely. Kept for parity; a warning is
    emitted so the user can re-declare the column as a plain (numeric)
    covariate instead."""
    import warnings

    cats = [c for c in config.categorical_covariate_columns if c in df.columns]
    if not cats:
        return df
    if level_sets is None:
        row = df.agg(
            *[F.sort_array(F.collect_set(qcol(c))).alias(c) for c in cats]
        ).first()
        level_sets = {c: row[c] for c in cats}
    new_cols: list[str] = []
    encoded: list[str] = []
    for c in cats:
        levels = list(level_sets[c] or [])
        if len(levels) <= 2:
            warnings.warn(
                f"Categorical covariate '{c}' has {len(levels)} level(s) "
                "and is REMOVED from the design without encoding "
                "(reference parity, preprocessing.py:104-106). Declare "
                "it as a plain covariate (0/1-coded) to adjust for it.",
                stacklevel=2,
            )
            continue
        encoded.append(c)
        for level in levels[1:]:
            name = f"{c}_{level}"
            new_cols.append(name)
            df = df.withColumn(
                name, F.when(qcol(c) == F.lit(level), 1).otherwise(0)
            )
    if encoded:
        df = df.drop(*encoded)
    config.covariate_columns = [
        c for c in config.covariate_columns
        if c not in config.categorical_covariate_columns
    ] + new_cols
    return df


def covariate_correlations(
    df: DataFrame, covariates: list[str]
) -> DataFrame:
    """Pairwise Pearson correlations of the covariate columns — ONE
    aggregation job computing all C*(C-1)/2 ``corr`` aggregates as
    parallel expressions (C is small by MAS construction, O(10-20), so
    the wide 1-row result is driver-safe at any sample count). Returns
    the long (col_a, col_b, corr) table, col_a < col_b in list order.
    Feed to [[drop_correlated_covariates]] or inspect directly: a
    |r| ~ 1 pair makes the regression design (near-)singular, which
    the per-fit validation then rejects pair by pair — cheaper to
    catch once here."""
    if len(covariates) < 2:
        return df.sparkSession.createDataFrame(
            [], "col_a string, col_b string, corr double"
        )
    pairs = [
        (a, b)
        for i, a in enumerate(covariates)
        for b in covariates[i + 1 :]
    ]
    # Not F.corr: under ANSI mode (this engine's default) corr on a
    # zero-variance column RAISES DIVIDE_BY_ZERO mid-task instead of
    # returning NULL. Aggregate the never-dividing stable moments
    # (covar_samp + stddev_samp over the pairwise-complete mask) and do
    # the one division per pair driver-side where the zero guard is a
    # plain `if`. Pairwise-complete semantics match SQL corr exactly.
    aggs = []
    for i, (a, b) in enumerate(pairs):
        ca, cb = qcol(a).cast("double"), qcol(b).cast("double")
        both = ca.isNotNull() & cb.isNotNull()
        aggs.append(F.covar_samp(ca, cb).alias(f"__cov_{i}"))
        aggs.append(F.stddev_samp(F.when(both, ca)).alias(f"__sa_{i}"))
        aggs.append(F.stddev_samp(F.when(both, cb)).alias(f"__sb_{i}"))
    row = df.agg(*aggs).first()
    out = []
    for i, (a, b) in enumerate(pairs):
        cov, sa, sb = row[f"__cov_{i}"], row[f"__sa_{i}"], row[f"__sb_{i}"]
        if cov is None or not sa or not sb:
            r = None
        else:
            r = cov / (sa * sb)
            # NaN (a NaN value in either column propagates through the
            # aggregates) must stay None: min(1.0, nan) returns 1.0 in
            # Python — the clamp would report perfect correlation and
            # drop_correlated_covariates would silently delete the
            # covariate (review r9).
            r = None if math.isnan(r) else max(-1.0, min(1.0, r))
        out.append((a, b, r))
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr double"
    )


def drop_correlated_covariates(
    df: DataFrame, config: MASConfig, threshold: float = 0.95
) -> DataFrame:
    """Drop near-collinear covariates BEFORE the fan-out: walk the
    covariates in config order and drop any column whose |r| with an
    already-kept earlier column exceeds ``threshold`` (greedy
    first-kept-wins — deterministic, order-defined, the standard
    feature-pruning rule). Updates ``config.covariate_columns`` in
    place like the reference's constant-covariate drop
    (preprocessing.py:65-79); NULL correlations (a constant column —
    corr undefined) never trigger a drop: constants are
    [[drop_constant_covariates]]'s job and have their own failure
    story. Cost: one aggregation job (covariate_correlations)."""
    covs = list(config.covariate_columns)
    corr = {
        (r.col_a, r.col_b): r.corr
        for r in covariate_correlations(df, covs).collect()
    }
    kept: list[str] = []
    for c in covs:
        collinear = any(
            (v := corr.get((k, c))) is not None and abs(v) > threshold
            for k in kept
        )
        if not collinear:
            kept.append(c)
    dropped = [c for c in covs if c not in kept]
    config.covariate_columns = kept
    # drop-by-name, not qcol: drop(str) matches the literal column name,
    # which is exactly right for dotted phecode names (same as
    # drop_constant_covariates above).
    return df.drop(*dropped) if dropped else df


def preprocess(df: DataFrame, config: MASConfig) -> DataFrame:
    """Full preprocessing chain in reference order (pipeline.py:22-27).

    Constant detection and categorical level collection are FUSED into
    one aggregate job (same trick as ``build_prep_recipe``): at scale
    each eager stat is a full pass over the table, so two separate
    actions here would double the preprocessing scan cost."""
    df = limit_sex_specific(df, config)
    df = handle_missing_covariates(df, config)
    covs = config.covariate_columns
    if not covs:
        return df
    cats = [c for c in config.categorical_covariate_columns if c in df.columns]
    aggs = [F.countDistinct(qcol(c)).alias(f"__nd_{c}") for c in covs]
    aggs += [
        F.sort_array(F.collect_set(qcol(c))).alias(f"__lv_{c}") for c in cats
    ]
    row = df.agg(*aggs).first()
    df = drop_constant_covariates(
        df, config, counts={c: row[f"__nd_{c}"] for c in covs}
    )
    _reject_string_covariates(df.schema, config)
    # Constant categoricals were just dropped from df; create_dummy
    # re-filters its cat list against df.columns, so supplying the
    # pre-drop level sets keyed by name is safe.
    df = create_dummy_covariates(
        df, config, level_sets={c: row[f"__lv_{c}"] for c in cats}
    )
    if config.drop_correlated_above is not None:
        # After one-hot so dummy columns participate; adds exactly one
        # aggregation job (covariate_correlations), opt-in.
        df = drop_correlated_covariates(
            df, config, threshold=config.drop_correlated_above
        )
    return df


def _reject_string_covariates(schema: StructType, config: MASConfig) -> None:
    """Fail fast with a clear message on string-typed covariates that
    were not declared categorical — otherwise the raw strings reach the
    regression kernel's to_numpy(float64) and die with an opaque "could
    not convert string to float" deep inside a Python worker. Runs
    AFTER the constant drop so a constant string covariate is dropped
    harmlessly (as it always was), not hard-failed."""
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    cats = set(config.categorical_covariate_columns)
    undeclared = [
        c for c in config.covariate_columns
        if c not in cats and dtypes.get(c) in ("string", "varchar")
    ]
    if undeclared:
        raise ValueError(
            f"String-typed covariate(s) {undeclared} must be declared "
            "categorical (categorical_covariates / -cc) to be one-hot "
            "encoded, or pre-encoded numerically."
        )


# ---------------------------------------------------------------------------
# Prep recipe: preprocessing as DATA for the columnar fan-out
# ---------------------------------------------------------------------------


@dataclass
class PrepRecipe:
    """The full preprocessing chain reduced to a small, serializable
    recipe that fan-out tasks apply in pandas to their column slice.

    Rationale (SURVEY.md §4, scale note): for the wide-short PheWAS shape
    the preprocessed table must never flow through the JVM row format —
    a ~1,800-column schema costs tens of seconds per pass in codegen /
    Arrow-to-row pivots. Preprocessing only ever touches the handful of
    covariate columns, so its *semantics* compress into constants:
    a row-filter spec, fill values, one-hot level sets. Those are
    computed here by narrow column-pruned aggregate jobs (the same
    eager stats the reference collects, preprocessing.py:10-92) and the
    wide data itself is read only inside the fan-out tasks.
    """

    # (sex_col, keep_equal_to_code, female_code) or None
    sex_filter: tuple[str, bool, object] | None = None
    # Row mask: drop rows null in any of these (strategy "drop").
    drop_null_covs: list[str] = field(default_factory=list)
    # Column -> fill constant (strategies min/max/mean/zero/one).
    fill_values: dict[str, object] = field(default_factory=dict)
    # Categorical column -> full sorted level list (only >2-level cats).
    onehot: dict[str, list] = field(default_factory=dict)
    # Fill columns that are integer-typed in the SPARK schema (their
    # pandas slices arrive as float64 when nullable — see apply_pandas).
    int_fill_cols: list[str] = field(default_factory=list)
    # Design covariates after constant-drop + one-hot (original names).
    final_covariates: list[str] = field(default_factory=list)
    # Original columns the task reader must fetch beyond pred+deps.
    read_cols: list[str] = field(default_factory=list)

    def apply_pandas(self, data):
        """Apply the recipe to a pandas DataFrame slice. Must reproduce
        preprocess() row-for-row (enforced by the strategy-parity test)."""
        if self.sex_filter is not None:
            col, keep_equal, code = self.sex_filter
            if keep_equal:
                mask = data[col] == code  # NaN == code is False, like SQL
            else:
                # Spark's `sex != code` filter KEEPS float-NaN rows
                # (NaN != 1.0 is true there and in polars/IEEE) but
                # DROPS true NULLs (NULL != code is NULL). to_pandas
                # erases that difference — both arrive as NaN — so the
                # columnar reader carries the arrow validity bitmap as
                # __sex_isnull__ (same mechanism as __pred_isnull__)
                # and only those rows are dropped here. Without the
                # bitmap (recipe applied to a plain frame) fall back to
                # dropping all NaN — the pre-r4 conservative behavior.
                mask = data[col] != code
                if "__sex_isnull__" in data.columns:
                    mask &= ~data["__sex_isnull__"]
                else:
                    mask &= data[col].notna()
            data = data[mask.fillna(False)]
        if self.drop_null_covs:
            # pandas notna() drops BOTH NaN and None — exactly matching
            # the Spark path's na.drop, which (unlike a bare isNull
            # filter) also treats float NaN as missing. Do NOT swap
            # this for a validity-bitmap mask: only the sex filter
            # above has Spark keep-NaN semantics.
            data = data[data[self.drop_null_covs].notna().all(axis=1)]
        if self.fill_values:
            for c, v in self.fill_values.items():
                if c in self.int_fill_cols:
                    # Spark's na.fill casts the fill value to the column
                    # type (double -> int truncates); match it. The
                    # integer-ness comes from the SPARK schema captured
                    # at build time: by the time the slice reaches
                    # pandas, a nullable int column is float64 (NaN),
                    # so a runtime dtype test would never fire exactly
                    # when a fill is needed.
                    data = data.assign(**{c: data[c].fillna(int(v))})
                else:
                    data = data.assign(**{c: data[c].fillna(v)})
        for c, levels in self.onehot.items():
            for level in levels[1:]:
                data = data.assign(
                    **{f"{c}_{level}": (data[c] == level).astype("int64")}
                )
        return data


# Driver-side recipe stats stay on when the covariate slice is at most
# this many rows (~16 MB/column of float64): above it, the stats run as
# the usual Spark aggregate job. Scale-adaptive guard, not a tuned
# local constant — production tables blow straight past it.
_RECIPE_DRIVER_MAX_ROWS = 2_000_000


def _recipe_stats_local(source_files, covs, strategy, n_rows=None):
    """Driver-side pyarrow replica of the recipe's eager-stats job for
    the ``drop``/``fail`` strategies (exact-integer statistics only —
    no fill means/mins whose float summation order could differ from
    Spark's). Returns ``(nd, null_counts, total)`` or None when the
    inputs are out of scope (non-local files, too many rows).
    ``n_rows`` is the files' row count when the caller already has it;
    None sums it from their footers.

    Parity argument: for ``drop``, Spark runs countDistinct AFTER
    na.drop(subset=covs) — na.drop treats float NaN as missing, exactly
    ``notna().all(axis=1)`` here; with no NA left, countDistinct equals
    ``Series.nunique(dropna=False)`` (both hash binary64 values,
    -0.0 == 0.0, integer result). For ``fail``, only the NULL counts
    (arrow validity bitmaps — NOT NaN, matching Spark's isNull) and the
    row total matter; nd is only consumed when every null count is zero,
    where countDistinct == nunique(dropna=False) again (NaN counted
    once by both). Worth one Spark job per pipeline run: at PheWAS
    width each job costs ~1 s of fixed driver latency regardless of how
    narrow the pruned read is (r13 measurement; guide §1.2/§5)."""
    if not source_files or any("://" in f for f in source_files):
        return None
    try:
        import pyarrow.dataset as pads

        if n_rows is None:
            n_rows = input_row_count(source_files)
        if n_rows > _RECIPE_DRIVER_MAX_ROWS:
            return None
        tbl = pads.dataset(source_files).to_table(
            columns=list(dict.fromkeys(covs)), use_threads=False
        )
    except Exception:
        return None
    import pandas as pd
    import pyarrow.compute as pc

    total = tbl.num_rows
    null_counts = {c: int(pc.sum(pc.is_null(tbl[c])).as_py() or 0) for c in covs}
    data = tbl.to_pandas(use_threads=False)
    if strategy == "drop":
        data = data[data[covs].notna().all(axis=1)]
    nd = {c: int(data[c].nunique(dropna=False)) for c in covs}
    return nd, null_counts, total


def build_prep_recipe(
    df: DataFrame | Callable[[], DataFrame],
    config: MASConfig,
    source_files: list[str] | None = None,
    schema: StructType | None = None,
    n_rows: int | None = None,
) -> PrepRecipe:
    """Compute a PrepRecipe with narrow aggregate jobs against ``df``
    (ideally a parquet scan, so every job is column-pruned down to the
    covariates). Mutates ``config.covariate_columns`` exactly like
    ``preprocess`` does, so the downstream kernel sees the same design.

    ``df`` is the included table, or a function that builds it, called
    only when a statistic runs as a Spark job; ``schema``, the table's
    Spark schema, is then required. ``source_files`` (the columnar
    path's local parquet files) enables a driver-side pyarrow fast path
    for the stats of the ``drop``/``fail`` strategies — same integer
    statistics, zero Spark jobs — gated to small row counts (see
    _recipe_stats_local, which takes ``n_rows``)."""
    if isinstance(df, DataFrame):
        schema = df.schema
    covs = list(config.covariate_columns)
    strategy = config.missing_covariate_values
    recipe = PrepRecipe(onehot={})

    if config.male_only or config.female_only:
        if config.sex_col not in config.included_columns:
            raise ValueError(
                f"Sex column '{config.sex_col}' not found in included columns."
            )
        recipe.sex_filter = (config.sex_col, config.female_only, config.female_code)

    def stats_frame() -> DataFrame:
        # The rows the eager statistics see: the sex filter applies first.
        frame = df if isinstance(df, DataFrame) else df()
        return limit_sex_specific(frame, config) if recipe.sex_filter else frame

    if strategy in ("forward", "backward") and covs:
        raise ValueError(
            "forward/backward fill is order-dependent and cannot be "
            "expressed as a per-task recipe; use strategy='packed'."
        )

    # ALL eager statistics in ONE aggregate job (two for `drop`, whose
    # constant detection must observe the row-filtered frame): per
    # covariate countDistinct + null count + min, the strategy's fill
    # stat, and the categorical level sets. On a 1,800-column table
    # every extra Spark job costs ~1 s of planning/scheduling latency
    # regardless of how narrow the column pruning is, so the old
    # fill-stats-then-refilled-countDistinct sequence paid for itself
    # in dead driver time. The filled frame's distinct counts/levels
    # are derived WITHOUT a second pass: filling changes them only when
    # the column had nulls, and then only by possibly adding the fill
    # value as one more distinct value (for constant detection only the
    # nd<=1 region matters, where "fill equals the single raw value" is
    # decidable from min alone).
    cats = [c for c in config.categorical_covariate_columns if c in covs]
    nd: dict[str, int] = {}
    levels_map: dict[str, list] = {}
    local_stats = None
    if (
        covs
        and strategy in ("drop", "fail")
        and not cats
        and recipe.sex_filter is None
        and source_files is not None
    ):
        local_stats = _recipe_stats_local(source_files, covs, strategy, n_rows)
    if local_stats is not None:
        nd, null_counts, total = local_stats
        if strategy == "drop":
            recipe.drop_null_covs = list(covs)
        else:
            # Same messages, same order as handle_missing_covariates.
            for c in covs:
                if null_counts[c] == total:
                    raise ValueError(
                        f"All values are missing in covariate column '{c}'."
                    )
                if null_counts[c] > 0:
                    raise ValueError(
                        f"Missing values found in covariate column '{c}': "
                        f"{null_counts[c]} missing values."
                    )
    elif covs and strategy == "drop":
        recipe.drop_null_covs = list(covs)
        aggs = [F.countDistinct(qcol(c)).alias(f"__nd_{c}") for c in covs]
        aggs += [
            F.sort_array(F.collect_set(qcol(c))).alias(f"__lv_{c}") for c in cats
        ]
        row = stats_frame().na.drop(subset=covs).agg(*aggs).first()
        nd = {c: row[f"__nd_{c}"] for c in covs}
        levels_map = {c: list(row[f"__lv_{c}"] or []) for c in cats}
    elif covs:
        numeric = {
            f.name for f in schema.fields
            if isinstance(f.dataType, NumericType)
        }
        agg_fn = {"min": F.min, "max": F.max, "mean": F.avg}.get(strategy)
        aggs = []
        for c in covs:
            aggs += [
                F.countDistinct(qcol(c)).alias(f"__nd_{c}"),
                F.count(F.when(qcol(c).isNull(), 1)).alias(f"__nu_{c}"),
                F.min(qcol(c)).alias(f"__mn_{c}"),
            ]
            if agg_fn is not None and c in numeric:
                aggs.append(agg_fn(qcol(c)).alias(f"__fv_{c}"))
        aggs += [
            F.sort_array(F.collect_set(qcol(c))).alias(f"__lv_{c}") for c in cats
        ]
        if strategy == "fail":
            aggs.append(F.count(F.lit(1)).alias("__total__"))
        row = stats_frame().agg(*aggs).first()

        if strategy == "fail":
            # Same messages as handle_missing_covariates.
            total = row["__total__"]
            for c in covs:
                if row[f"__nu_{c}"] == total:
                    raise ValueError(
                        f"All values are missing in covariate column '{c}'."
                    )
                if row[f"__nu_{c}"] > 0:
                    raise ValueError(
                        f"Missing values found in covariate column '{c}': "
                        f"{row[f'__nu_{c}']} missing values."
                    )
        elif agg_fn is not None:
            recipe.fill_values = {
                c: row[f"__fv_{c}"]
                for c in covs
                if c in numeric and row[f"__fv_{c}"] is not None
            }
        elif strategy in ("zero", "one"):
            v = 0 if strategy == "zero" else 1
            recipe.fill_values = {c: v for c in covs if c in numeric}

        recipe.int_fill_cols = [
            c for c in recipe.fill_values
            if isinstance(schema[c].dataType, IntegralType)
        ]

        def _effective_fill(c):
            # What na.fill ACTUALLY writes: cast to the column's Spark
            # type, so a double mean into an int column truncates —
            # derived counts/level sets must use the truncated value.
            fill = recipe.fill_values.get(c)
            if fill is not None and c in recipe.int_fill_cols:
                return int(fill)
            return fill

        for c in covs:
            nd_c, nulls = row[f"__nd_{c}"], row[f"__nu_{c}"]
            fill = _effective_fill(c)
            if fill is not None and nulls > 0:
                if nd_c == 0:
                    nd_c = 1  # all-null column becomes all-fill
                elif nd_c == 1 and fill != row[f"__mn_{c}"]:
                    nd_c = 2  # fill adds a second value
            nd[c] = nd_c
        for c in cats:
            levels = list(row[f"__lv_{c}"] or [])
            fill = _effective_fill(c)
            if fill is not None and row[f"__nu_{c}"] > 0 and fill not in levels:
                levels = sorted([*levels, fill])
            levels_map[c] = levels

    if covs:
        constant = [c for c in covs if nd[c] <= 1]
        covs = [c for c in covs if c not in constant]
        cats = [c for c in cats if c not in constant]
        new_cols: list[str] = []
        for c in cats:
            levels = levels_map.get(c, [])
            if len(levels) <= 2:
                import warnings

                warnings.warn(
                    f"Categorical covariate '{c}' has {len(levels)} "
                    "level(s) and is REMOVED from the design without "
                    "encoding (reference parity); declare it as a plain "
                    "covariate to adjust for it.",
                    stacklevel=2,
                )
                continue
            recipe.onehot[c] = levels
            new_cols.extend(f"{c}_{level}" for level in levels[1:])
        if cats:
            covs = [
                c for c in covs
                if c not in config.categorical_covariate_columns
            ] + new_cols

    recipe.final_covariates = covs
    config.covariate_columns = list(covs)
    # Same fail-fast as preprocess(): the columnar fan-out tasks apply
    # the recipe in pandas and would otherwise crash opaquely on raw
    # strings. One-hot output columns are ints; only surviving source
    # columns can be string-typed.
    _reject_string_covariates(schema, config)

    # Fills on columns that left the design (constant-dropped) are dead
    # work — and dead reads — in the tasks; keep only design-relevant
    # ones (incl. one-hot sources: their level sets were computed on the
    # FILLED data, so the in-task fill must still precede the encoding).
    keep = set(covs) | set(recipe.onehot)
    recipe.fill_values = {
        c: v for c, v in recipe.fill_values.items() if c in keep
    }

    read = list(dict.fromkeys(
        list(config.covariate_columns)
        + recipe.drop_null_covs
        + list(recipe.onehot)
        + ([recipe.sex_filter[0]] if recipe.sex_filter else [])
    ))
    # Dummy columns are created in-task, not read from the file.
    dummy_names = {
        f"{c}_{level}" for c, levels in recipe.onehot.items() for level in levels[1:]
    }
    recipe.read_cols = [c for c in read if c not in dummy_names]
    return recipe
