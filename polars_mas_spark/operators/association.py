"""The association fan-out: every (predictor, dependent) pair fitted in
one distributed pass.

The reference fans out a Python loop of predictor x dependent tasks over
joblib worker processes, each re-reading a memory-mapped IPC file
(/root/reference/src/polars_mas/analysis.py:10-107). The Spark-native
design replaces that wholesale (SURVEY.md §2.6 U1, §2.11 K6) with three
physical strategies (run_associations): ``columnar`` slices the PAIR
LIST into tasks that each read only their columns from parquet (the
small design columns are replicated, no sample row is shuffled);
``packed`` shuffles rows keyed on (predictor, dependent bucket); and
``moments`` (linear only) aggregates centered moments per pair. The
columnar and packed tasks share one numpy kernel (make_array_kernel).

Every strategy's fitted rows are collected once with ``toArrow()`` and
finished on the driver: pairs that vanished entirely are left-filled as
"No data after dropping nulls." rows (failures are rows, not
exceptions: analysis.py:110-124), then sorted by pval (NaN last,
polars parity).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_mas_spark.colutils import qcol, qname
from polars_mas_spark.config import MASConfig
from polars_mas_spark.functions.stats import (
    firth_fit,
    firth_fit_many,
    logistic_fit,
    ols_fit,
    poisson_fit,
)

PRED_VALUE = "__pred_value__"
DEP_VALUE = "__dep_value__"

BINARY_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("predictor", T.StringType()),
        T.StructField("dependent", T.StringType()),
        T.StructField("pval", T.DoubleType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("se", T.DoubleType()),
        T.StructField("OR", T.DoubleType()),
        T.StructField("ci_low", T.DoubleType()),
        T.StructField("ci_high", T.DoubleType()),
        T.StructField("cases", T.LongType()),
        T.StructField("controls", T.LongType()),
        T.StructField("total_n", T.LongType()),
        T.StructField("converged", T.BooleanType()),
        T.StructField("failed_reason", T.StringType()),
        T.StructField("equation", T.StringType()),
    ]
)

LINEAR_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("predictor", T.StringType()),
        T.StructField("dependent", T.StringType()),
        T.StructField("pval", T.DoubleType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("se", T.DoubleType()),
        T.StructField("ci_low", T.DoubleType()),
        T.StructField("ci_high", T.DoubleType()),
        T.StructField("n_observations", T.LongType()),
        T.StructField("converged", T.BooleanType()),
        T.StructField("failed_reason", T.StringType()),
        T.StructField("equation", T.StringType()),
    ]
)

# Sentinel defaults for failure rows (reference analysis.py:228-260).
_BINARY_DEFAULTS = {
    "pval": math.nan, "beta": math.nan, "se": math.nan, "OR": math.nan,
    "ci_low": math.nan, "ci_high": math.nan, "cases": -9, "controls": -9,
    "total_n": -9, "converged": False, "failed_reason": "nan", "equation": "nan",
}
_LINEAR_DEFAULTS = {
    "pval": math.nan, "beta": math.nan, "se": math.nan,
    "ci_low": math.nan, "ci_high": math.nan, "n_observations": -9,
    "converged": False, "failed_reason": "nan", "equation": "nan",
}

_MODEL_FUNCS: dict[str, Callable] = {
    "firth": firth_fit,
    "logistic": logistic_fit,
    "linear": ols_fit,
    "poisson": poisson_fit,
}

# Models whose result rows carry n_observations instead of
# cases/controls (Poisson dependents are counts — quantitative).
_QUANT_MODELS = ("linear", "poisson")

# The physical fan-out strategies run_associations runs (see its
# docstring); pipeline.plan_study picks among them.
STRATEGIES = ("columnar", "packed", "moments")
# The moments aggregate has O(C^2) columns for C covariates.
MOMENTS_MAX_COVARIATES = 64


def result_schema(model: str) -> T.StructType:
    return (
        LINEAR_RESULT_SCHEMA if model in _QUANT_MODELS else BINARY_RESULT_SCHEMA
    )


def safe_covariate_pairs(covariates: list[str]) -> list[tuple[str, str]]:
    """(column_name_in_long_table, display_name) per covariate. Names with
    dots/backticks are rewritten to ``__cov_i__``: PySpark's own
    GroupedData.applyInPandas resolves columns unquoted (``df[col]``), so
    unsafe names cannot survive into the grouped long table."""
    return [
        (c if ("." not in c and "`" not in c) else f"__cov_{i}__", c)
        for i, c in enumerate(covariates)
    ]


def build_long_table(
    df: DataFrame,
    predictors: list[str],
    dependents: list[str],
    covariates: list[str],
) -> DataFrame:
    """Wide -> long: one row per (sample, predictor, dependent) with
    covariates as id columns. The P-way predictor explode and D-way
    dependent unpivot together express the reference's task fan-out
    (analysis.py:13-15) as data, so Catalyst plans it as one pipeline.
    The moments strategy aggregates over it ([[_fit_linear_moments]])."""
    cov_pairs = safe_covariate_pairs(covariates)
    cov_cols = [qcol(orig).alias(safe) for safe, orig in cov_pairs]
    if len(predictors) == 1:
        p = predictors[0]
        exploded = df.select(
            F.lit(p).alias("predictor"),
            qcol(p).cast("double").alias(PRED_VALUE),
            *cov_cols,
            *[qcol(d).cast("double").alias(d) for d in dependents],
        )
    else:
        pred_structs = F.array(
            *[
                F.struct(
                    F.lit(p).alias("predictor"),
                    qcol(p).cast("double").alias(PRED_VALUE),
                )
                for p in predictors
            ]
        )
        exploded = df.select(
            F.explode(pred_structs).alias("_p"),
            *cov_cols,
            *[qcol(d).cast("double").alias(d) for d in dependents],
        ).select(
            F.col("_p.predictor").alias("predictor"),
            F.col(f"_p.{PRED_VALUE}").alias(PRED_VALUE),
            *[qcol(safe) for safe, _ in cov_pairs],
            *[qcol(d) for d in dependents],
        )
    long_df = exploded.unpivot(
        ids=["predictor", PRED_VALUE, *[qname(safe) for safe, _ in cov_pairs]],
        values=[qname(d) for d in dependents],
        variableColumnName="dependent",
        valueColumnName=DEP_VALUE,
    )
    return long_df


PACKED_BUCKET = "__dep_bucket__"
PACKED_DEPS = "__dep_values__"


def dependent_buckets(dependents: list[str], n_buckets: int) -> list[list[str]]:
    """Contiguous chunks of the dependent list, one per bucket."""
    n_buckets = max(1, min(n_buckets, len(dependents)))
    size = -(-len(dependents) // n_buckets)  # ceil
    return [dependents[i : i + size] for i in range(0, len(dependents), size)]


def packed_bucket_count(n_preds: int, n_deps: int, parallelism: int) -> int:
    """Bucket count for the packed fan-out: targets 4 (predictor,
    bucket) groups per core for balance, capped at one dependent per
    bucket. Invariants (property-tested in test_association.py):
    P·n_buckets >= min(P·D, parallelism) — the kernel stage never runs
    below cluster parallelism when there is enough work — while the
    per-sample shuffle cell count G·C + D never exceeds a per-pair
    long table's D·(C+1), so at 100x the dependents the shuffle stays
    strictly cheaper and the group count grows with D only until the
    4-per-core target is met."""
    return min(n_deps, max(1, -(-4 * parallelism // max(n_preds, 1))))


def build_packed_long_table(
    df: DataFrame,
    predictors: list[str],
    dependents: list[str],
    covariates: list[str],
    bucket_deps: list[list[str]],
) -> DataFrame:
    """Wide -> packed long: one row per (sample, predictor, dep-bucket)
    with that bucket's dependent values packed into ONE array column and
    covariates riding along as plain columns.

    This is the SURVEY §7.4.6 tall-table mitigation. A per-pair long
    table ([[build_long_table]]) would shuffle P x D rows per sample,
    each duplicating all C covariates — cells ~ n·P·D·(C+1). Packing
    moves the same information in P x G rows per sample (G = bucket
    count), each carrying C covariates once plus D/G dependent values —
    cells ~ n·P·(G·C + D). With G sized
    to the cluster parallelism (and D large, the PheWAS direction) the
    covariate duplication factor drops from D to G while the kernel
    stage keeps P·G-way parallelism. Dependent nulls can no longer be
    dropped map-side (they travel inside the arrays as NaN); the kernel
    masks them per dependent, which is the same work in a different
    place — predictor nulls are still dropped before the shuffle."""
    cov_pairs = safe_covariate_pairs(covariates)
    cov_cols = [qcol(orig).alias(safe) for safe, orig in cov_pairs]
    dep_arrays = {
        b: F.array(*[qcol(d).cast("double") for d in deps]).alias(PACKED_DEPS)
        for b, deps in enumerate(bucket_deps)
    }
    entries = F.array(
        *[
            F.struct(
                F.lit(p).alias("predictor"),
                qcol(p).cast("double").alias(PRED_VALUE),
                F.lit(b).alias(PACKED_BUCKET),
                dep_arrays[b],
            )
            for p in predictors
            for b in dep_arrays
        ]
    )
    return df.select(F.explode(entries).alias("_e"), *cov_cols).select(
        F.col("_e.predictor").alias("predictor"),
        F.col(f"_e.{PRED_VALUE}").alias(PRED_VALUE),
        F.col(f"_e.{PACKED_BUCKET}").alias(PACKED_BUCKET),
        F.col(f"_e.{PACKED_DEPS}").alias(PACKED_DEPS),
        *[qcol(safe) for safe, _ in cov_pairs],
    )


def make_packed_kernel(
    model: str,
    covariates: list[str],
    quantitative: bool,
    min_case_count: int,
    bucket_deps: list[list[str]],
    sex_restrictions: dict | None = None,
    sex_col: str | None = None,
) -> Callable[[tuple, pd.DataFrame], pd.DataFrame]:
    """Grouped-map kernel over (predictor, dep-bucket) groups: unpack the
    bucket's dependent-value arrays and run the group kernel
    ([[make_array_kernel]]) over them, so validation, sex restriction,
    per-subset constant drop, and the failure-as-row channel are shared
    code with the columnar path. One result DataFrame per bucket
    group."""
    inner = make_array_kernel(
        model, covariates, quantitative, min_case_count,
        sex_restrictions, sex_col,
    )
    cov_pairs = safe_covariate_pairs(covariates)
    columns = [f.name for f in result_schema(model).fields]

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()  # cheap after the first call per process
        predictor, bucket = key
        deps = bucket_deps[int(bucket)]
        # Arrow list<double> arrives as ndarray-per-cell; nulls are NaN.
        mat = np.array(pdf[PACKED_DEPS].tolist(), dtype=np.float64)
        if not mat.size:
            mat = np.empty((0, len(deps)), dtype=np.float64)
        cov_np = [
            (safe, orig, pdf[safe].to_numpy())
            for safe, orig in cov_pairs
            if safe in pdf.columns
        ]
        column = {dep: j for j, dep in enumerate(deps)}
        rows = inner(
            predictor, pdf[PRED_VALUE].to_numpy(), cov_np, deps,
            lambda dep: mat[:, column[dep]],
        )
        return pd.DataFrame(
            [{c: r[c] for c in columns} for r in rows], columns=columns
        )

    return kernel


def _fit_linear_moments(df: DataFrame, config: MASConfig) -> DataFrame:
    """Linear-model fan-out via SUFFICIENT STATISTICS: aggregate the
    CENTERED normal-equation moments (covariance matrix, covariances
    with y, var(y), n — Welford-merged, offset-stable) per (predictor,
    dependent) with Spark's two-phase hash aggregate, then solve the
    tiny k×k systems in a vectorized pandas pass over the P×D-row
    aggregate table.

    This is the linear model's true 100 TB plan: the packed kernel
    ships every sample row through its shuffle, while the moments
    shuffle carries only map-side-combined partials — O(partitions ×
    pairs × k²) doubles regardless of row count. OLS is exactly
    identified by these moments, so results match ``ols_fit`` to float
    precision (iterative models have no such finite statistic — they
    keep the kernel path).

    Parity details mirrored from the kernel (make_array_kernel): per-pair
    constant-covariate drop (here: Welford within-group variance == 0),
    the exact validation messages, sex-restricted dependents (a
    map-lookup row filter, identical to the kernel's pandas filter),
    and the equation string format. Pairs whose group contains null
    covariate cells fail as rows (Spark's sum() would silently skip the
    nulls and desync the moments from count(*)); rank-deficient designs
    use the min-norm pinv solution with df_resid = n - rank, matching
    ols_fit's lstsq-rank accounting.
    """
    if config.model != "linear":
        raise ValueError("moments strategy is linear-only; use packed/columnar")
    if not config.quantitative:
        # The kernel path enforces case/control validation for
        # non-quantitative runs; the moments aggregate has no case
        # counts, so allowing it would silently skip that validation.
        raise ValueError(
            "moments strategy requires quantitative=True (binary-"
            "outcome validation needs the kernel path; use packed)"
        )
    covariates = list(config.covariate_columns)
    if len(covariates) > MOMENTS_MAX_COVARIATES:
        raise ValueError(
            f"moments strategy caps at {MOMENTS_MAX_COVARIATES} covariates "
            "(the aggregate has O(C^2) columns); use the packed strategy "
            "beyond that"
        )
    cov_pairs = safe_covariate_pairs(covariates)
    # NaN dependents are MISSING (packed-path contract: null dependents
    # ride the arrays as NaN and are masked per-dependent), so they are
    # dropped here alongside nulls; NaN predictors/covariates instead
    # fail the pair as a row via solve()'s finiteness guard (kernel
    # parity — lstsq raises on them).
    long_df = build_long_table(
        df, config.predictor_columns, config.dependent_columns, covariates
    ).filter(
        F.col(PRED_VALUE).isNotNull()
        & F.col(DEP_VALUE).isNotNull()
        & ~F.isnan(F.col(DEP_VALUE))
    )

    sex_safe = None
    if config.sex_restrictions and config.sex_col is not None:
        for safe, orig in cov_pairs:
            if orig == config.sex_col:
                sex_safe = safe
                break
    if sex_safe is not None:
        m = F.create_map(
            *[
                F.lit(x)
                for dep, code in config.sex_restrictions.items()
                for x in (dep, float(code))
            ]
        )
        code = m[F.col("dependent")]
        long_df = long_df.filter(
            code.isNull() | (qcol(sex_safe).cast("double") == code)
        )

    # CENTERED moments via Spark's Welford-merged covar_samp/var_samp
    # aggregates, not raw sum(x), sum(x*x), sum(x*y): OLS slopes, their
    # standard errors, and the SSE are all invariant under constant
    # shifts of the columns, so the centered normal equations
    # ((n-1)·Cov_xx)·beta = (n-1)·Cov_xy are exactly equivalent to
    # ols_fit's intercept-augmented lstsq — but raw moments lose
    # mantissa to cancellation proportional to mean²/variance (an
    # epoch-timestamp covariate with CV 1e-7 loses ALL of it), while
    # the Welford merge stays accurate at any offset and is still a
    # plain two-phase hash aggregate (map-side partials, one shuffle).
    cols = [PRED_VALUE] + [safe for safe, _ in cov_pairs]
    y = F.col(DEP_VALUE)
    aggs = [
        F.count("*").alias("__n__"),
        F.var_samp(y).alias("__vy__"),
    ]
    for i, ci in enumerate(cols):
        c_i = qcol(ci).cast("double")
        aggs.append(F.covar_samp(c_i, y).alias(f"__cy{i}__"))
        for j in range(i, len(cols)):
            aggs.append(
                F.covar_samp(c_i, qcol(cols[j]).cast("double")).alias(
                    f"__c{i}_{j}__"
                )
            )
        if i > 0:
            # Per-covariate non-null count: Spark's aggregates skip
            # nulls, so a group with null covariate cells would
            # otherwise yield moments inconsistent with count(*) and
            # silently wrong coefficients. solve() fails such pairs as
            # rows instead (kernel parity — the pandas kernel's lstsq
            # blows up on the NaNs and the exception becomes a failure
            # row).
            aggs.append(F.count(c_i).alias(f"__nn{i}__"))
    g = long_df.groupBy("predictor", "dependent").agg(*aggs)

    # display[0] is unused (the predictor's name comes from each row's
    # "predictor" key — one grouped row per (predictor, dependent) pair).
    display = ["__predictor__"] + [orig for _, orig in cov_pairs]
    n_cols = len(cols)
    min_obs = config.min_case_count
    from polars_mas_spark.functions.distributions import t_ppf, t_sf

    def solve(batches):
        import math as _math

        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()
        for pdf in batches:
            out = []
            for r in pdf.to_dict("records"):
                n = int(r["__n__"])
                rec = dict(
                    _LINEAR_DEFAULTS,
                    predictor=r["predictor"],
                    dependent=r["dependent"],
                )
                if n < min_obs:
                    rec["failed_reason"] = f"Not enough observations ({n})."
                    out.append(rec)
                    continue
                rec["n_observations"] = n
                # PARTIALLY-null covariates fail the pair (aggregates
                # skipped the nulls — moments inconsistent with n; the
                # kernel's lstsq likewise blows up on the NaNs). An
                # ALL-null covariate instead drops out of the design:
                # the kernel's constant check (_is_constant) sees one
                # value (NaN) and removes it as constant, and the covar_samp
                # NULL below excludes it from `active` the same way.
                null_covs = [
                    display[i]
                    for i in range(1, n_cols)
                    if 0 < int(r[f"__nn{i}__"]) < n
                ]
                if null_covs:
                    rec["failed_reason"] = (
                        f"Null covariate values ({', '.join(null_covs)})."
                    )
                    out.append(rec)
                    continue
                # Constant predictor -> failure row (kernel parity; see
                # make_array_kernel — the min-norm alternative is a false
                # positive). NaN predictor variance falls through to the
                # finiteness guard below.
                v0 = r["__c0_0__"]
                if v0 is None or v0 == 0.0:
                    rec["failed_reason"] = "Constant predictor."
                    out.append(rec)
                    continue
                # Per-pair constant drop: Welford variance == 0 <=>
                # constant (exactly — the merge formula accumulates 0 for
                # identical values). The kernel compares the min and max
                # of the same doubles; the two agree including for large-offset
                # covariates where a raw ss/n - mean**2 test would lose
                # the signal to cancellation.
                active = [0]
                nonfinite = False
                for i in range(1, n_cols):
                    if int(r[f"__nn{i}__"]) == 0:
                        # ALL-null covariate: its covar_samp is NULL
                        # (which mapInPandas delivers as NaN, so the
                        # NaN test below can't see the difference — the
                        # non-null count can). The kernel's constant
                        # check sees one value and drops it as
                        # constant; match that.
                        continue
                    v = r[f"__c{i}_{i}__"]
                    if v is None:
                        continue  # n == 1: no variance; drops, n<=k catches
                    if _math.isnan(v):
                        # NaN variance with non-null values present
                        # means NaN covariate VALUES — a failed pair,
                        # not a constant covariate to drop.
                        nonfinite = True
                        break
                    if v > 0.0:
                        active.append(i)
                if nonfinite:
                    rec["failed_reason"] = (
                        "Non-finite predictor/covariate/dependent values."
                    )
                    out.append(rec)
                    continue
                names = [display[i] for i in active[1:]]
                rec["equation"] = (
                    f"{r['dependent']} ~ {r['predictor']} + {' + '.join(names)}"
                )
                k = len(active) + 1  # + intercept, matching add_intercept
                if n <= k:
                    rec["failed_reason"] = f"OLS requires n > k (n={n}, k={k})"
                    out.append(rec)
                    continue
                # Centered normal equations: A = (n-1)·Cov_xx,
                # b = (n-1)·Cov_xy. The intercept is centered out; it
                # contributes one rank and its coefficient (m_y - m_x·β)
                # is never reported, exactly as in ols_fit where index 0
                # is the predictor's slope.
                nm1 = float(n - 1)
                ka = len(active)
                A = np.empty((ka, ka))
                b = np.empty(ka)
                for ai, i in enumerate(active):
                    for aj in range(ai, ka):
                        j = active[aj]
                        lo, hi = min(i, j), max(i, j)
                        A[ai, aj] = A[aj, ai] = nm1 * r[f"__c{lo}_{hi}__"]
                    b[ai] = nm1 * r[f"__cy{i}__"]
                vy = nm1 * r["__vy__"]
                # NaN/inf values (unlike nulls) flow THROUGH Spark's
                # aggregates, and LAPACK solves NaN systems without
                # raising — which would emit converged=True rows full of
                # NaN stats. Fail as a row instead (the kernel's lstsq
                # raises on the same data and becomes a failure row).
                if not (
                    np.isfinite(A).all()
                    and np.isfinite(b).all()
                    and _math.isfinite(vy)
                ):
                    rec["failed_reason"] = (
                        "Non-finite predictor/covariate/dependent values."
                    )
                    out.append(rec)
                    continue
                rank = ka + 1
                try:
                    beta = np.linalg.solve(A, b)
                    A_inv = np.linalg.inv(A)
                except np.linalg.LinAlgError:
                    # Rank-deficient design: min-norm solution (pinv of
                    # the centered Gram matrix ≡ lstsq's min-norm on the
                    # centered design), and df_resid from the actual
                    # rank (+1 for the intercept) so sigma2/pvals match
                    # ols_fit's lstsq-rank accounting (n - rank), not a
                    # strategy-dependent n - k.
                    A_inv = np.linalg.pinv(A)
                    beta = A_inv @ b
                    rank = int(np.linalg.matrix_rank(A)) + 1
                sse = max(vy - b @ beta, 0.0)
                df_resid = n - rank
                if df_resid <= 0:
                    rec["failed_reason"] = (
                        f"OLS requires n > rank (n={n}, rank={rank})"
                    )
                    out.append(rec)
                    continue
                sigma2 = sse / df_resid
                se = _math.sqrt(max(A_inv[0, 0] * sigma2, 0.0))
                if se > 0:
                    t = beta[0] / se
                    rec["pval"] = 2.0 * t_sf(abs(t), df_resid)
                else:
                    rec["pval"] = _math.nan
                tq = t_ppf(0.975, df_resid)
                rec.update(
                    beta=float(beta[0]),
                    se=se,
                    ci_low=float(beta[0] - tq * se),
                    ci_high=float(beta[0] + tq * se),
                    converged=True,
                )
                out.append(rec)
            yield pd.DataFrame(
                out, columns=[f.name for f in LINEAR_RESULT_SCHEMA.fields]
            )

    return g.mapInPandas(solve, schema=LINEAR_RESULT_SCHEMA)


def _is_constant(arr: np.ndarray) -> bool:
    """Whether a 1-D array holds at most one distinct value, as pandas
    counts them (``Series.nunique(dropna=False) <= 1``): an empty or
    all-NaN array is constant, a NaN next to any other value makes two
    values, and -0.0 == 0.0. A number array takes an O(n) min/max
    compare (NaN propagates through both); any other dtype counts its
    values with ``pd.unique``."""
    if arr.dtype.kind not in "biuf":
        return len(pd.unique(arr)) <= 1
    if arr.size == 0:
        return True
    lo, hi = arr.min(), arr.max()
    if lo != lo:  # a NaN: constant only if every value is NaN
        return bool(np.isnan(arr).all())
    return bool(lo == hi)


def make_array_kernel(
    model: str,
    covariates: list[str],
    quantitative: bool,
    min_case_count: int,
    sex_restrictions: dict | None = None,
    sex_col: str | None = None,
) -> Callable:
    """The group fit kernel over RAW NUMPY ARRAYS — the shared core
    behind make_packed_kernel and the columnar fan-out, so both
    row-holding strategies run the exact same validation
    (analysis.py:110-193), per-subset constant drop
    (analysis.py:196-206), design build + fit (analysis.py:71-87), and
    failure-as-row channel (analysis.py:89-102).

    ``sex_restrictions`` implements the reference's declared-but-dead
    sex-specific phecode sets (constants.py:14-16, SURVEY.md §2.12): a
    map of dependent -> required value of the ``sex_col`` covariate.
    Restricted dependents are fitted only on matching-sex rows (R PheWAS
    semantics); the sex covariate then goes constant in that subset and
    the per-group constant drop removes it from the design.

    Returns ``fn(predictor, x, cov_arrays, deps, values, keep=None) ->
    list[dict]``, one result row (result_schema keys) per dependent in
    ``deps``, in order. ``x`` is the predictor column over the task's
    rows (float64; NaN values reach the fit and fail the pair as a row),
    ``cov_arrays`` is ``[(safe_name, orig_name, values_ndarray)]`` in
    covariate order for the covariates present, ``values(dependent)``
    returns a dependent's column (float64, NaN for a missing value) and
    ``keep`` masks the rows every dependent may use (None: all rows).
    Dependent columns are fetched when needed and not kept, so a task
    holds one of them at a time (one chunk, in the Firth batch).

    Each dependent's row mask is ``keep``, y not NaN and its sex
    restriction; dependents with identical masks form a group. Per
    group, once: the masked x and covariates, the constant-predictor
    check, the per-subset constant-covariate drop and the design X. Per
    dependent, in that order: the case/control checks. A Firth group
    with two or more dependents left is fitted by
    stats.firth_fit_many; every other fit is the per-pair kernel.

    Every numeric decision here is made by the same operations on the
    same float64 values as a per-pair fit of one dependent (y.sum(),
    the [[_is_constant]] checks, column_stack → add_intercept's
    C-order copy), so the per-pair kernels stay bit-identical —
    tools/ab_kernel_battery.py checks this, and it holds the batch to
    rtol 1e-9."""
    defaults = _LINEAR_DEFAULTS if model in _QUANT_MODELS else _BINARY_DEFAULTS
    fit_func = _MODEL_FUNCS[model]
    cov_pairs = safe_covariate_pairs(covariates)
    sex_safe = None
    if sex_restrictions and sex_col is not None:
        for safe, orig in cov_pairs:
            if orig == sex_col:
                sex_safe = safe
                break

    def fit_group(predictor, x, cov_arrays, deps, masked) -> list[dict]:
        rows, todo = [], []
        for dependent in deps:
            y = masked(dependent)
            row = dict(defaults)
            row["predictor"] = predictor
            row["dependent"] = dependent
            rows.append(row)
            n_rows = len(y)
            if n_rows == 0:
                row["failed_reason"] = "No data after dropping nulls."
                continue
            if not quantitative:
                cases = int(y.sum())
                controls = n_rows - cases
                if cases < min_case_count:
                    row["failed_reason"] = f"Insufficient case count ({cases} cases)."
                    continue
                if controls < min_case_count:
                    row["failed_reason"] = (
                        f"Insufficient control count ({controls} controls)."
                    )
                    continue
                if cases == n_rows:
                    row["failed_reason"] = "All observations are cases."
                    continue
                row.update(cases=cases, controls=controls, total_n=n_rows)
            else:
                if n_rows < min_case_count:
                    row["failed_reason"] = f"Not enough observations ({n_rows})."
                    continue
                row["n_observations"] = n_rows
            todo.append(row)
        if not todo:
            return rows

        # A constant (monomorphic) predictor carries no association
        # signal, but the design matrix [pred, ..., intercept] becomes
        # rank-deficient with the deficiency INVOLVING the predictor:
        # lstsq's min-norm solution then splits the intercept across the
        # two constant columns and reports an arbitrarily significant
        # nonzero beta — a pure false positive. Fail the pair instead
        # (also keeps all three physical strategies result-identical;
        # the centered-moments formulation would report beta=0 here).
        if _is_constant(x):
            for row in todo:
                row["failed_reason"] = "Constant predictor."
            return rows

        # Per-subset constant-covariate drop (analysis.py:196-206).
        active = [
            (orig, arr)
            for _safe, orig, arr in cov_arrays
            if not _is_constant(arr)
        ]
        terms = f"{predictor} + {' + '.join(orig for orig, _ in active)}"
        for row in todo:
            row["equation"] = f"{row['dependent']} ~ {terms}"

        # column_stack casts + copies exactly like the old
        # pdf[[...]].to_numpy(float64); layout is normalized anyway by
        # add_intercept's own column_stack (C-order) inside fit_func.
        X = np.column_stack(
            [x, *[arr.astype(np.float64, copy=False) for _o, arr in active]]
        ) if active else x.reshape(-1, 1)
        if model == "firth" and len(todo) > 1:
            try:
                fits = firth_fit_many(X, (masked(r["dependent"]) for r in todo))
            except Exception:  # per pair below: failures are rows
                fits = None
            if fits is not None:
                for row, stats in zip(todo, fits):
                    row.update(stats)
                return rows
        for row in todo:
            try:
                row.update(fit_func(X, masked(row["dependent"])))
            except Exception as exc:  # failures are rows, not exceptions
                row["failed_reason"] = str(exc)
        return rows

    def akernel(predictor, x, cov_arrays, deps, values, keep=None) -> list[dict]:
        sex = None
        if sex_safe is not None:
            sex = next((a for s, _o, a in cov_arrays if s == sex_safe), None)
        groups: dict[bytes, tuple[np.ndarray, list[int]]] = {}
        for i, dependent in enumerate(deps):
            mask = ~np.isnan(values(dependent))
            if keep is not None:
                mask &= keep
            code = sex_restrictions.get(dependent) if sex is not None else None
            if code is not None:
                # Elementwise == with NaN -> False, exactly the pandas
                # boolean-filter semantics of the old path.
                mask &= sex == code
            groups.setdefault(mask.tobytes(), (mask, []))[1].append(i)
        rows: list[dict] = [None] * len(deps)
        for mask, idx in groups.values():
            fitted = fit_group(
                predictor, x[mask],
                [(s, o, a[mask]) for s, o, a in cov_arrays],
                [deps[i] for i in idx],
                lambda dependent, mask=mask: values(dependent)[mask],
            )
            for i, row in zip(idx, fitted):
                rows[i] = row
        return rows

    return akernel


def choose_strategy(n_rows: int) -> str:
    """Pick the physical fan-out strategy from the table's row count:
    columnar up to 100M rows, where a per-task full-column read is
    cheap, at any pair count — each pair then costs one column-pruned
    read, with no sample data in a shuffle; packed above it (the
    tall-table / 100 TB path). Per-worker memory for one pair
    is the same either way: packed also fits each pair's group in one
    Python worker."""
    return "columnar" if n_rows <= 100_000_000 else "packed"


def _needs_distributed_writer(spark: SparkSession, checkpoint_dir: str | None) -> bool:
    """True when the per-partition pyarrow writer cannot be trusted:
    the target is a URI-scheme filesystem (hdfs://, s3a://, ...) pyarrow
    has no client for here, or the master is non-local and no explicit
    (shared-storage) checkpoint dir was given — node-local /tmp writes
    would scatter partitions across executors."""
    if checkpoint_dir is not None and "://" in checkpoint_dir:
        return True
    master = spark.sparkContext.master or ""
    return not master.startswith("local") and checkpoint_dir is None


def checkpoint_wide(df: DataFrame, checkpoint_dir: str | None = None) -> str:
    """Write ``df`` to a parquet directory via per-partition pyarrow
    writers (one file per partition, streamed batch-by-batch), returning
    the path.

    This is the engine's analog of the reference's Arrow-IPC sink
    (preprocessing.py:111-132). It deliberately bypasses
    ``df.write.parquet``: Spark's row-based parquet writer pays a
    per-column setup + row-pivot cost that is pathological for
    ~1,800-column PheWAS tables (measured ~8-14 s for a 5k x 1,806 table
    that pyarrow writes in ~0.5 s). The mapInArrow path keeps the data
    columnar end-to-end. Distribution-safe: each task writes only its own
    partition to ``part-<partitionId>.parquet`` (idempotent under task
    retry); on a multi-node cluster the directory must be on POSIX-shared
    storage (NFS/Lustre/fuse mount). URI-scheme targets (hdfs://,
    s3a://) and non-local masters without an explicit shared directory
    RAISE with the fix named — the columnar consumer reads the
    checkpoint with driver-local POSIX I/O, so a checkpoint only Spark
    can read back would fail after paying for the full write."""
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    spark = df.sparkSession
    if _needs_distributed_writer(spark, checkpoint_dir):
        # Refuse BEFORE paying for the full-table write: the columnar
        # consumer lists and reads the checkpoint with driver-local POSIX
        # I/O (os.listdir + pyarrow). It cannot open a URI-scheme path —
        # the read would FileNotFoundError after the write (review r9) —
        # and on a non-local master with no shared directory each task
        # would write to its own executor's tmp, leaving partial data.
        raise ValueError(
            "columnar checkpoint needs a POSIX-visible checkpoint_dir "
            "shared by the driver and executors (NFS/Lustre mount), got "
            f"{checkpoint_dir!r} on master {spark.sparkContext.master!r}; "
            "or use strategy='packed', which needs no side storage"
        )

    in_tmp = checkpoint_dir is None
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.gettempdir()
    path = f"{checkpoint_dir.rstrip('/')}/pms_ckpt_{uuid.uuid4().hex}"
    os.makedirs(path, exist_ok=True)
    if in_tmp:
        atexit.register(shutil.rmtree, path, ignore_errors=True)

    # pyspark's mapInArrow resolves columns UNQUOTED internally
    # (map_ops.py: `self[col]`), so dotted phecode names ("250.1") would
    # be parsed as struct access. Route the boundary through positional
    # safe names and restore the originals on the pyarrow side.
    orig_names = list(df.columns)
    safe = [f"__c{i}__" for i in range(len(orig_names))]

    def write_parts(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()
        pid = TaskContext.get().partitionId()
        writer = None
        n = 0
        try:
            for batch in batches:
                batch = pa.RecordBatch.from_arrays(
                    list(batch.columns), names=orig_names
                )
                if writer is None:
                    writer = pq.ParquetWriter(
                        f"{path}/part-{pid:05d}.parquet", batch.schema
                    )
                writer.write_batch(batch)
                n += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], type=pa.int64())], names=["rows"]
        )

    # The marker count is also the materialization barrier.
    df.toDF(*safe).mapInArrow(write_parts, "rows long").groupBy().sum(
        "rows"
    ).collect()
    return path


def run_associations(
    df: DataFrame | None,
    config: MASConfig,
    strategy: str,
    checkpoint_path: str | None = None,
    recipe=None,
    source_files: list[str] | None = None,
    n_buckets: int | None = None,
) -> pa.Table:
    """Distributed equivalent of run_associations_ipc (analysis.py:10-39).

    Runs the one physical strategy it is given (pipeline.plan_study is
    what picks it) and returns the completed P x D results as a
    ``pyarrow.Table`` sorted by pval, NaN last: every strategy's fitted
    rows are collected once and finished on the driver
    ([[_complete_pairs]]). Three strategies:

    - ``packed`` (tall tables — the 100 TB path): one shuffle keyed
      on (predictor, dep-bucket); each row carries the covariates once
      and a bucket of dependent values as an array, cutting shuffle
      cells from n·P·D·(C+1) to n·P·(G·C + D) (SURVEY §7.4.6). The
      kernel unpacks the bucket and runs the per-pair fit per dependent.
    - ``moments`` (linear model only): per-pair OLS via sufficient
      statistics — the shuffle carries map-side-combined centered
      moment partials (Welford covariances, O(k²) doubles per pair per
      partition — offset-stable at any covariate scale) instead of
      sample rows; see _fit_linear_moments. Row count drops out of the
      shuffle entirely.
    - ``columnar`` (wide, short tables — the PheWAS shape: 5k-500k
      samples x ~1,800 phecodes): checkpoint the preprocessed table to
      parquet once under ``config.checkpoint_dir`` (the exact analog of
      the reference's Arrow-IPC sink + per-worker mmap column reads,
      preprocessing.py:111-132 / analysis.py:54-59), then fan the PAIR
      LIST out and let each task do a column-pruned parquet read of just
      its dependents + the shared design columns. ZERO shuffle of sample
      data; a per-pair long table would move n_rows x n_deps duplicated
      covariates through a shuffle for a table that reads back in
      kilobytes per task. ``checkpoint_path`` or ``source_files`` name
      parquet the caller already has, so no checkpoint is written; with
      ``source_files``, ``df`` may be None (the active session runs it).
    """
    model = config.model
    covariates = list(config.covariate_columns)
    if strategy == "columnar":
        fitted = _fit_columnar(df, config, checkpoint_path, recipe, source_files)
        return _complete_pairs(fitted, config)
    if strategy == "moments":
        return _complete_pairs(_fit_linear_moments(df, config), config)

    par = df.sparkSession.sparkContext.defaultParallelism
    if strategy == "packed":
        # Tall-table scale path (SURVEY §7.4.6): dependents travel as
        # per-bucket arrays so the shuffle duplicates covariates G times
        # per sample row instead of D times. G targets 4 groups per core
        # for balance; when P·D is already at or below that, every
        # dependent gets its own bucket and the plan degenerates to
        # exactly the per-pair grouping.
        preds, deps = config.predictor_columns, config.dependent_columns
        if n_buckets is None:
            n_buckets = packed_bucket_count(len(preds), len(deps), par)
        bucket_deps = dependent_buckets(deps, n_buckets)
        packed = build_packed_long_table(df, preds, deps, covariates, bucket_deps)
        # Map-side predictor-null drop (analysis.py:57); dependent nulls
        # ride inside the arrays as NaN and are masked per-dependent in
        # the kernel.
        packed = packed.filter(F.col(PRED_VALUE).isNotNull())
        kernel = make_packed_kernel(
            model, covariates, config.quantitative, config.min_case_count,
            bucket_deps, config.sex_restrictions, config.sex_col,
        )
        # Sized explicitly, not left to AQE: adaptive coalescing merges
        # partitions by BYTES, and regression groups are byte-small but
        # compute-heavy, so it would serialize many fits into one
        # Python worker. One partition per group up to the parallelism
        # also leaves no empty partition to launch a worker for.
        n_groups = len(preds) * len(bucket_deps)
        n_parts = max(1, min(n_groups, par))
        packed = packed.repartition(n_parts, "predictor", PACKED_BUCKET)
        fitted = packed.groupBy("predictor", PACKED_BUCKET).applyInPandas(
            kernel, schema=result_schema(model)
        )
        return _complete_pairs(fitted, config)
    raise ValueError(
        f"unknown strategy {strategy!r}; valid: {'/'.join(STRATEGIES)}"
    )


def _complete_pairs(fitted: DataFrame, config: MASConfig) -> pa.Table:
    """Collect the fitted rows with one ``toArrow()`` and finish them on
    the driver. Pairs whose rows were all null-dropped produce no fit
    row at all; the full P x D pair list (id ``i`` is ``(predictors[i //
    D], dependents[i % D])``, as in [[_pair_ids]]) is left-filled with
    the reference sentinels and "No data after dropping nulls."
    (analysis.py:113-124). Rows come back sorted by pval, NaN last."""
    got = fitted.toArrow()
    preds, deps = config.predictor_columns, config.dependent_columns
    n_deps = len(deps)
    n_pairs = len(preds) * n_deps
    key_type = got.schema.field("predictor").type

    def index_of(col: str, names: list[str]) -> np.ndarray:
        idx = pc.index_in(got[col], value_set=pa.array(names, key_type))
        return idx.to_numpy(zero_copy_only=False).astype(np.int64)

    row_of = np.full(n_pairs, -1, dtype=np.int64)
    row_of[index_of("predictor", preds) * n_deps + index_of("dependent", deps)] = (
        np.arange(got.num_rows)
    )
    absent = row_of < 0
    taken = got.take(pa.array(row_of, mask=absent))
    defaults = dict(
        _LINEAR_DEFAULTS if config.model in _QUANT_MODELS else _BINARY_DEFAULTS
    )
    defaults["failed_reason"] = "No data after dropping nulls."
    columns = {
        "predictor": pa.array(np.repeat(np.array(preds, dtype=object), n_deps), key_type),
        "dependent": pa.array(np.tile(np.array(deps, dtype=object), len(preds)), key_type),
    }
    for c, default in defaults.items():
        col = taken[c]
        if pa.types.is_floating(col.type):
            # NaN/NULL failure representation — the single place it is
            # decided. The pandas kernels emit float NaN for every unfit
            # statistic (reference analysis.py:228-260 sentinels), but
            # the Arrow boundary into Spark turns pandas NaN into NULL.
            # No kernel emits a true null double, so every NULL double
            # (an absent pair's too; its defaults are all NaN) IS a NaN:
            # restore it. Output files then show NaN like the reference,
            # and bonferroni's non-null count matches polars'
            # is_not_null() (True for NaN) — failed fits count toward
            # num_tests exactly as in reference postprocessing.py:18.
            columns[c] = pc.fill_null(col, math.nan)
        else:
            columns[c] = pc.if_else(pa.array(absent), pa.scalar(default, col.type), col)
    table = pa.table(columns)
    order = np.argsort(table["pval"].to_numpy(), kind="stable")
    return table.take(order)


def reusable_scan_files(
    df: DataFrame, refusals: list[str] | None = None
) -> list[str] | None:
    """If ``df`` is nothing but a (projected) parquet scan, return its
    local data files so the columnar fan-out can read the SOURCE directly
    instead of writing a redundant checkpoint copy. Conservative: any
    computed expression, filter, projected hive partition column or
    non-parquet source returns None. When a parquet scan is refused,
    the reason is appended to ``refusals`` (if given)."""

    def refuse(why: str) -> None:
        if refusals is not None:
            refusals.append(f"{why}; columnar writes a checkpoint copy")

    try:
        # Render the plan with field-list truncation disabled: the
        # default spark.sql.debug.maxToStringFields=25 elides projection
        # entries past the 25th as "... N more fields", which would hide
        # a computed or renamed column from the guards below and reuse
        # the WRONG source files — silently wrong statistics at exactly
        # the ~1,800-column scale this path exists for.
        conf = df.sparkSession.conf
        key = "spark.sql.debug.maxToStringFields"
        old = conf.get(key, None)
        conf.set(key, "1000000")
        try:
            optimized = df._jdf.queryExecution().optimizedPlan()
            plan = optimized.toString()
        finally:
            if old is None:
                conf.unset(key)
            else:
                conf.set(key, old)
    except Exception:
        return None
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    if not lines:
        return None
    rel = lines[-1].strip(" +-:")
    if not rel.startswith("Relation") or "parquet" not in rel.lower():
        return None
    if "more fields" in plan:
        refuse("the parquet scan's plan rendered truncated")
        return None
    for ln in lines[:-1]:
        stripped = ln.strip(" +-:")
        if not stripped.startswith("Project ["):
            refuse(f"the parquet scan is under a {stripped.split(' ', 1)[0]}")
            return None
        inner = stripped[len("Project ["): stripped.rindex("]")]
        if "(" in inner or " AS " in inner:
            refuse("the parquet scan has a computed or renamed column")
            return None
    try:
        partition_cols = set(
            optimized.collectLeaves().head().relation().partitionSchema().fieldNames()
        )
        files = [
            f[len("file:"):] if f.startswith("file:") else f
            for f in df.inputFiles()
        ]
    except Exception:
        return None
    used = sorted(partition_cols & set(df.columns))
    if used:
        # Hive partition values live in directory names, not in the
        # files a pyarrow read of the columns would open.
        names = ", ".join(repr(c) for c in used)
        plural = "s" if len(used) > 1 else ""
        refuse(f"hive partition column{plural} {names} "
               f"{'are study columns' if plural else 'is a study column'}")
        return None
    if not files:
        return None
    if any("://" in f for f in files):
        refuse("the parquet files are not on local storage")
        return None  # non-local storage: fall back to checkpoint
    return sorted(files)


def input_row_count(files: list[str] | None, df: DataFrame | None = None) -> int:
    """How many rows an input has. ``files`` are the local parquet files
    of a plain scan (reusable_scan_files): their footers' ``num_rows``
    are summed locally with pyarrow, so no Spark job runs and no row is
    read. Without files, ``df`` is counted by Spark — persist it first
    if the rows are needed again."""
    if files is None:
        return df.count()
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def _parquet_files(path: str) -> list[str]:
    """Driver-side listing of the data files in a parquet directory, so
    task readers never trip over _SUCCESS / .crc sidecar files."""
    import os

    if os.path.isfile(path):
        return [path]
    return sorted(
        f"{path}/{f}"
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _pair_tasks(n_pairs: int, parallelism: int) -> int:
    """The fewest tasks that keep the best makespan for ``n_pairs`` on
    ``parallelism`` cores: ``ceil(N / ceil(N / parallelism))``. 6 pairs
    on 4 cores make 3 tasks of 2 (a fourth task would read the design
    once more and finish no sooner)."""
    per_task = -(-n_pairs // max(1, parallelism))
    return max(1, -(-n_pairs // max(1, per_task)))


def _pair_ids(spark: SparkSession, n_pairs: int) -> DataFrame:
    """Pair ids ``0 .. n_pairs - 1`` as ``spark.range`` slices: pure JVM,
    no shuffle, each task a contiguous run of ids whose sizes differ by
    at most 1 across [[_pair_tasks]] tasks. Id ``i`` is the pair
    ``(predictors[i // D], dependents[i % D])`` for D dependents."""
    n_tasks = _pair_tasks(n_pairs, spark.sparkContext.defaultParallelism)
    return spark.range(0, n_pairs, 1, n_tasks)


def _numeric_rows(data: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """The columns ``cols`` of ``data`` as rows of a float64 matrix
    (len(cols) x len(data)). A numpy bool, integer or float column is
    cast; any other column goes through ``pd.to_numeric(errors="coerce")``,
    so a value that is not a number becomes NaN, as a null does."""
    out = np.empty((len(cols), len(data)))
    for row, col in zip(out, cols):
        s = data[col]
        if isinstance(s.dtype, np.dtype) and s.dtype.kind in "biuf":
            row[:] = s.to_numpy()
        else:
            row[:] = pd.to_numeric(s, errors="coerce").to_numpy(
                dtype=np.float64, na_value=np.nan
            )
    return out


def _fit_columnar(
    df: DataFrame | None,
    config: MASConfig,
    checkpoint_path: str | None = None,
    recipe=None,
    source_files: list[str] | None = None,
) -> DataFrame:
    """Column-parallel fan-out: checkpoint the table to parquet (via
    checkpoint_wide, unless the caller already has parquet files), slice
    the pair ids with ``spark.range`` ([[_pair_ids]]: balanced
    contiguous runs, no shuffle; the closure carries the P + D names and
    each task decodes its ids), and let every task column-prune its own
    parquet read (design columns + its run's dependents, one read per
    predictor in the run).

    This is the Spark-native re-expression of the reference's physical
    strategy — sink_ipc + per-worker memory-mapped column reads
    (preprocessing.py:111-132, analysis.py:54-59) — and moves zero
    sample data through a shuffle. Parquet being columnar, each task's
    read is proportional to the columns it fits, exactly like the
    reference's mmap column access.

    With ``recipe`` (a PrepRecipe), ``df``/the files hold the RAW
    included table and each task applies preprocessing to its slice in
    pandas — the preprocessed wide table never exists as a JVM schema.
    Without one, the input must already be preprocessed.

    Each task hands a predictor's whole run of dependents to the group
    kernel ([[make_array_kernel]]) in one call, so the Firth dependents
    that share a row mask are fitted together (stats.firth_fit_many)."""
    spark = SparkSession.active() if df is None else df.sparkSession
    model = config.model
    covariates = list(config.covariate_columns)
    cov_pairs = safe_covariate_pairs(covariates)
    predictors = list(config.predictor_columns)
    dependents = list(config.dependent_columns)

    if source_files is None:
        # Keep every column under its original (possibly dotted) name —
        # parquet has no column-name restrictions and pyarrow reads by
        # exact name, so no rename dance is needed.
        path = checkpoint_path or checkpoint_wide(df, config.checkpoint_dir)
        source_files = _parquet_files(path)

    akernel = make_array_kernel(
        model, covariates, config.quantitative, config.min_case_count,
        config.sex_restrictions, config.sex_col,
    )
    schema = result_schema(model)
    columns = [f.name for f in schema.fields]
    n_deps = len(dependents)
    pair_ids = _pair_ids(spark, len(predictors) * n_deps)

    cov_names = cov_pairs
    extra_cols = list(recipe.read_cols) if recipe is not None else []

    def fit_partition(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.dataset as pads

        from polars_mas_spark.functions.native_threads import prepare_worker

        prepare_worker()

        by_pred: dict[str, list[str]] = {}
        for pdf in batches:
            for i in pdf["id"].tolist():
                by_pred.setdefault(predictors[i // n_deps], []).append(
                    dependents[i % n_deps]
                )
        for p, deps in by_pred.items():
            cols = [p, *[orig for _, orig in cov_names], *extra_cols, *deps]
            # use_threads=False: with one Python worker already pinned to
            # every core, pyarrow's own thread pool (default = all cores)
            # only adds contention — same reasoning as the BLAS cap in
            # session._BLAS_ENV.
            dummy_names = (
                {f"{c}_{lv}" for c, lvs in recipe.onehot.items() for lv in lvs[1:]}
                if recipe is not None
                else set()
            )
            read_cols = [c for c in dict.fromkeys(cols) if c not in dummy_names]
            tbl = pads.dataset(source_files).to_table(
                columns=read_cols, use_threads=False
            )
            data = tbl.to_pandas(use_threads=False)
            # True-null vs NaN must be distinguished BEFORE to_pandas
            # erases the difference: nulls are missing rows (dropped,
            # like every other path), while NaN predictors must reach
            # the kernel and fail the pair as a row (packed
            # parity). The arrow validity bitmap still knows which is
            # which; carry it as a column so the recipe's row filters
            # keep it aligned.
            import pyarrow.compute as pc

            data["__pred_isnull__"] = pc.is_null(tbl[p]).to_numpy(
                zero_copy_only=False
            )
            if recipe is not None:
                if recipe.sex_filter is not None:
                    # Same validity-bitmap trick for the sex filter:
                    # Spark keeps float-NaN sex under `sex != code` but
                    # drops true NULLs — apply_pandas needs to know
                    # which NaN is which (strategy parity).
                    data["__sex_isnull__"] = pc.is_null(
                        tbl[recipe.sex_filter[0]]
                    ).to_numpy(zero_copy_only=False)
                data = recipe.apply_pandas(data)
            # The group kernel fetches a dependent's column a few times
            # (see make_array_kernel): convert each column once, into one
            # row of a dependents x rows matrix, which takes the place of
            # the arrow table in memory.
            del tbl
            values = _numeric_rows(data, deps)
            row_of = {d: i for i, d in enumerate(deps)}
            rows = akernel(
                p, _numeric_rows(data, [p])[0],
                [(safe, orig, data[orig].to_numpy()) for safe, orig in cov_names],
                deps, lambda dep: values[row_of[dep]],
                keep=~data["__pred_isnull__"].to_numpy(),
            )
            yield pd.DataFrame(
                [{c: r[c] for c in columns} for r in rows], columns=columns
            )

    return pair_ids.mapInPandas(fit_partition, schema=schema)
