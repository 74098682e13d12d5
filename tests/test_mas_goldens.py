"""Value goldens for the MAS entry points, each bound to an independent
oracle.

Every golden runs one MAS step (a preprocessing operator, a fill, a
correction, a transform, or a whole fan-out through ``run_associations``
/ ``run_pipeline``) over the sf0.01 test tables and compares its rows
with a DuckDB SQL oracle over the same parquet files. The comparison is
order-insensitive on canonical rows: columns sorted by name, floats
rounded to 6 decimals, DuckDB DECIMAL kept distinct from integers (an
oracle missing a ``::BIGINT`` cast fails rather than passing by luck).

Iterative fits have no SQL closed form, so those goldens use planted
designs whose MLE does (2x2 tables: Haldane-Anscombe for Firth, the log
odds ratio for logistic, the log rate ratio for Poisson), or published
reference fits (logistf's sex2, R's mtcars). These self-filter: a row
survives only if the distributed fit matches the closed form within
tolerance, and the oracle returns exact integer cells, so any drift
drops rows and fails the compare without a cross-engine float compare.

Spark's Arrow conversion is disabled while the goldens run, so the
results cannot depend on how ``createDataFrame`` converts NaN/None.
"""

from __future__ import annotations

import decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from polars_mas_spark.config import MASConfig
from polars_mas_spark.functions.transforms import blom_fractions, rint
from polars_mas_spark.operators.association import run_associations
from polars_mas_spark.operators.fills import backward_fill, forward_fill
from polars_mas_spark.operators.postprocessing import benjamini_hochberg, bonferroni
from polars_mas_spark.operators.preprocessing import covariate_correlations
from polars_mas_spark.pipeline import run_pipeline
from tests.conftest import SF_DIR

TABLES = ("customer", "events", "lineitem", "orders", "part")


def _t(spark, name, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def no_arrow(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, before)


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        return "nan" if v != v else round(v, 6)
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def assert_matches_oracle(sdf, con, sql):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    tbl = con.execute(sql).fetch_arrow_table()
    ocols = tbl.column_names
    orows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _canon_rows(scols, srows) == _canon_rows(ocols, orows)


GOLDENS: dict = {}


def golden(name, oracle):
    def deco(fn):
        GOLDENS[name] = (fn, oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Preprocessing: sex restriction, prep statistics, fills, null drop,
# one-hot, unpivot, constant and correlated covariates
# ---------------------------------------------------------------------------


@golden(
    "sex_restrict_filter",
    "SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey <> 3",
)
def q_sex_restrict(spark):
    """The male_only filter shape: keep rows whose code column is not
    the excluded code."""
    return (
        _t(spark, "customer")
        .filter(F.col("c_nationkey") != F.lit(3))
        .select("c_custkey", "c_nationkey")
    )


@golden(
    "prep_stats",
    """SELECT
         (SELECT count(*) FROM orders) AS n_rows,
         (SELECT count(*) FILTER (WHERE o_orderpriority IN ('URGENT','HIGH'))
          FROM orders) AS n_null_priority,
         (SELECT count(DISTINCT l_returnflag) FROM lineitem) AS n_returnflag,
         (SELECT count(DISTINCT l_linestatus) FROM lineitem) AS n_linestatus,
         (SELECT count(DISTINCT l_suppkey) FROM lineitem) AS n_suppkey,
         (SELECT round(min(l_quantity), 6) FROM lineitem) AS min_qty,
         (SELECT round(max(l_quantity), 6) FROM lineitem) AS max_qty,
         (SELECT round(avg(l_quantity), 6) FROM lineitem) AS mean_qty,
         (SELECT round(avg(l_discount), 6) FROM lineitem) AS mean_disc,
         (SELECT string_agg(level, '|' ORDER BY level)
          FROM (SELECT DISTINCT o_orderpriority AS level FROM orders))
           AS priority_levels""",
)
def q_prep_stats(spark):
    """The preprocessing statistics in one row: row and null counts over
    a null-token-rewritten column, exact distinct counts, fill-value
    statistics and sorted categorical levels."""
    o = _t(spark, "orders")
    li = _t(spark, "lineitem")
    cleaned = F.when(
        F.col("o_orderpriority").isin("URGENT", "HIGH"), F.lit(None)
    ).otherwise(F.col("o_orderpriority"))
    o_agg = o.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(cleaned.isNull(), 1)).alias("n_null_priority"),
        F.concat_ws(
            "|", F.sort_array(F.collect_set("o_orderpriority"))
        ).alias("priority_levels"),
    )
    li_agg = li.agg(
        F.countDistinct("l_returnflag").alias("n_returnflag"),
        F.countDistinct("l_linestatus").alias("n_linestatus"),
        F.countDistinct("l_suppkey").alias("n_suppkey"),
        F.round(F.min("l_quantity"), 6).alias("min_qty"),
        F.round(F.max("l_quantity"), 6).alias("max_qty"),
        F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        F.round(F.avg("l_discount"), 6).alias("mean_disc"),
    )
    return o_agg.crossJoin(F.broadcast(li_agg)).select(
        "n_rows", "n_null_priority", "n_returnflag", "n_linestatus",
        "n_suppkey", "min_qty", "max_qty", "mean_qty", "mean_disc",
        "priority_levels",
    )


_NULLIFIED_DISC = "CASE WHEN l_discount < 0.03 THEN NULL ELSE l_discount END"


@golden(
    "fill_strategies",
    f"""WITH base AS (
          SELECT l_orderkey, l_linenumber, {_NULLIFIED_DISC} AS disc FROM lineitem)
        SELECT l_orderkey, l_linenumber,
               round(coalesce(disc, (SELECT avg(disc) FROM base)), 6)
                 AS disc_mean_filled,
               round(coalesce(disc, (SELECT min(disc) FROM base)), 6)
                 AS disc_min_filled,
               round(coalesce(disc, 0.0), 6) AS disc_zero_filled
        FROM base""",
)
def q_fill_strategies(spark):
    """Mean / min / zero imputation: one aggregate, then a
    column-scoped ``na.fill``."""
    li = _t(spark, "lineitem")
    nulled = F.when(F.col("l_discount") < 0.03, F.lit(None)).otherwise(
        F.col("l_discount")
    )
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        nulled.alias("disc_mean_filled"),
        nulled.alias("disc_min_filled"),
        nulled.alias("disc_zero_filled"),
    )
    stats = base.agg(
        F.avg("disc_mean_filled").alias("m"),
        F.min("disc_min_filled").alias("mn"),
    ).first()
    fills: dict = {"disc_zero_filled": 0.0}
    if stats["m"] is not None:
        fills["disc_mean_filled"] = stats["m"]
    if stats["mn"] is not None:
        fills["disc_min_filled"] = stats["mn"]
    return base.na.fill(fills).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("disc_mean_filled"), 6).alias("disc_mean_filled"),
        F.round(F.col("disc_min_filled"), 6).alias("disc_min_filled"),
        F.round(F.col("disc_zero_filled"), 6).alias("disc_zero_filled"),
    )


@golden(
    "bidirectional_fill",
    """SELECT event_id,
              round(last_value(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
                    OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS value_ffilled,
              round(first_value(CASE WHEN value < 10 THEN NULL ELSE value END IGNORE NULLS)
                    OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6)
                AS value_bfilled
       FROM events""",
)
def q_bidirectional_fill(spark):
    """Ordered forward and backward fill through the distributed
    block-prefix algorithm (operators/fills.py); the oracle is the
    sequential IGNORE NULLS window."""
    ev = _t(spark, "events")
    nulled = F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("value"))
    base = ev.select("event_id", nulled.alias("vf"), nulled.alias("vb"))
    filled = backward_fill(forward_fill(base, ["vf"], "event_id"), ["vb"], "event_id")
    return filled.select(
        "event_id",
        F.round(F.col("vf"), 6).alias("value_ffilled"),
        F.round(F.col("vb"), 6).alias("value_bfilled"),
    )


@golden(
    "drop_null_covariates",
    f"""SELECT l_orderkey, l_linenumber, round(disc, 6) AS disc
        FROM (SELECT l_orderkey, l_linenumber, {_NULLIFIED_DISC} AS disc FROM lineitem)
        WHERE disc IS NOT NULL""",
)
def q_drop_null_covariates(spark):
    """Drop rows with a null covariate."""
    li = _t(spark, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") < 0.03, F.lit(None))
        .otherwise(F.col("l_discount"))
        .alias("disc"),
    )
    return base.na.drop(subset=["disc"]).select(
        "l_orderkey", "l_linenumber", F.round(F.col("disc"), 6).alias("disc")
    )


@golden(
    "one_hot",
    """SELECT o_orderkey,
              CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS "prio_2-HIGH",
              CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS "prio_3-MEDIUM",
              CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END
                AS "prio_4-NOT SPECIFIED",
              CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS "prio_5-LOW"
       FROM orders""",
)
def q_one_hot(spark):
    """Drop-first one-hot over sorted levels; the first sorted level is
    the reference level and NULL is not a level."""
    o = _t(spark, "orders")
    levels = sorted(
        r[0]
        for r in o.select("o_orderpriority").distinct().collect()
        if r[0] is not None
    )
    return o.select(
        "o_orderkey",
        *[
            F.when(F.col("o_orderpriority") == lv, 1).otherwise(0).alias(f"prio_{lv}")
            for lv in levels[1:]
        ],
    )


@golden(
    "unpivot_long",
    """SELECT l_orderkey, l_linenumber, measure, round(value, 6) AS value
       FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                             l_discount, l_tax FROM lineitem)
             ON l_quantity, l_extendedprice, l_discount, l_tax
             INTO NAME measure VALUE value)""",
)
def q_unpivot_long(spark):
    """The wide->long unpivot behind the moments fan-out's long table."""
    li = _t(spark, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value_raw",
    ).select(
        "l_orderkey", "l_linenumber", "measure",
        F.round(F.col("value_raw"), 6).alias("value"),
    )


@golden(
    "drop_constant_diag",
    """SELECT 'l_returnflag' AS column_name, count(DISTINCT l_returnflag) AS n_distinct,
              count(DISTINCT l_returnflag) <= 1 AS is_constant FROM lineitem
       UNION ALL
       SELECT 'l_linestatus', count(DISTINCT l_linestatus),
              count(DISTINCT l_linestatus) <= 1 FROM lineitem
       UNION ALL
       SELECT 'l_tax', count(DISTINCT l_tax), count(DISTINCT l_tax) <= 1 FROM lineitem""",
)
def q_drop_constant_diag(spark):
    """The constant-column diagnostic behind drop_constant_covariates."""
    li = _t(spark, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_tax"]
    agg = li.agg(*[F.countDistinct(c).alias(c) for c in cols])
    rows = [
        agg.select(
            F.lit(c).alias("column_name"),
            F.col(c).alias("n_distinct"),
            (F.col(c) <= 1).alias("is_constant"),
        )
        for c in cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIR = """SELECT '{a}' AS col_a, '{b}' AS col_b,
       round(corr({a}, {b}), 6) + 0.0 AS corr FROM lineitem"""


@golden(
    "covariate_corr",
    " UNION ALL ".join(
        _CORR_PAIR.format(a=a, b=b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ),
)
def q_covariate_corr(spark):
    """Pairwise Pearson correlations of the design columns (the
    diagnostic behind drop_correlated_covariates); the oracle is
    DuckDB's corr(). ``+ 0.0`` maps -0.0 to +0.0 on both engines."""
    li = _t(spark, "lineitem").select(*_CORR_COLS)
    out = covariate_correlations(li, _CORR_COLS)
    return out.select(
        "col_a", "col_b", (F.round("corr", 6) + F.lit(0.0)).alias("corr")
    )


# ---------------------------------------------------------------------------
# Postprocessing: Bonferroni and Benjamini-Hochberg
# ---------------------------------------------------------------------------

# Per-test "p-values" from integer cents: the sums are exact in doubles,
# so both engines produce bit-identical values with no rounding step.
_PVAL_PROXY = """SELECT p_partkey AS test_id,
                        CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                             AS DOUBLE) / (100.0 * count(*)) AS pval
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 GROUP BY p_partkey"""


def _pval_proxy_tests(spark):
    li = _t(spark, "lineitem")
    p = _t(spark, "part")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_partkey").alias("test_id"))
        .agg(
            (
                F.sum(F.round(F.col("l_discount") * 100, 0).cast("long"))
                .cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("pval")
        )
    )


@golden(
    "bonferroni",
    f"""WITH tests AS ({_PVAL_PROXY})
        SELECT test_id, pval,
               pval < 0.05 / (SELECT count(*) FROM tests WHERE pval IS NOT NULL)
                 AS bonferroni_significant
        FROM tests""",
)
def q_bonferroni(spark):
    return spark.createDataFrame(bonferroni(_pval_proxy_tests(spark).toArrow()))


@golden(
    "bh_fdr",
    f"""WITH tests AS ({_PVAL_PROXY}),
        ranked AS (
          SELECT test_id, pval,
                 count(*) OVER (ORDER BY pval ASC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk,
                 count(*) OVER () AS n
          FROM tests WHERE pval IS NOT NULL)
        SELECT test_id, pval,
               round(min(least(pval * n / rk, 1.0))
                 OVER (ORDER BY pval DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                 AS pval_bh
        FROM ranked""",
)
def q_bh_fdr(spark):
    out = spark.createDataFrame(
        benjamini_hochberg(_pval_proxy_tests(spark).toArrow())
    )
    return out.select(
        "test_id", "pval", F.round(F.col("pval_bh"), 6).alias("pval_bh")
    )


# ---------------------------------------------------------------------------
# Dependent-variable transform: RINT
# ---------------------------------------------------------------------------

_BLOM_CTE = """WITH v AS (SELECT p_partkey, p_retailprice FROM part),
       r AS (SELECT p_partkey,
                    avg(rn) OVER (PARTITION BY p_retailprice) AS avg_rank,
                    (SELECT count(*) FROM v) AS n
             FROM (SELECT p_partkey, p_retailprice,
                          row_number() OVER (ORDER BY p_retailprice ASC) AS rn
                   FROM v))"""


@golden(
    "rint_blom",
    f"""{_BLOM_CTE}
       SELECT p_partkey, round((avg_rank - 0.375) / (n + 0.25), 6) AS blom_frac
       FROM r""",
)
def q_rint_blom(spark):
    """RINT's rank step: the Blom fraction through the distributed
    two-phase rank (no single-partition global sort)."""
    p = _t(spark, "part").select("p_partkey", "p_retailprice")
    out = blom_fractions(p, "p_retailprice", "blom_frac")
    return out.select(
        "p_partkey", F.round(F.col("blom_frac"), 6).alias("blom_frac")
    )


def _sql_horner(coeffs, v: str) -> str:
    """DuckDB Horner ``((c0*v + c1)*v + c2)...`` in numpy's evaluation
    order (same IEEE doubles out)."""
    e = coeffs[0] if isinstance(coeffs[0], str) else repr(coeffs[0])
    for c in coeffs[1:]:
        cc = c if isinstance(c, str) else repr(c)
        e = f"({e} * {v} + {cc})"
    return e


def _sql_horner_monic(coeffs, v: str) -> str:
    """Horner with an implicit leading coefficient of 1."""
    e = f"({v} + {repr(coeffs[0])})"
    for c in coeffs[1:-1]:
        e = f"({e} * {v} + {repr(c)})"
    return f"({e} * {v} + {repr(coeffs[-1])})"


def _probit_x0_sql(p: str) -> str:
    """Acklam 3-branch inverse-normal start value, generated from the
    coefficient tuples functions/distributions.norm_ppf_vec uses."""
    from polars_mas_spark.functions.distributions import (
        _ACKLAM_A, _ACKLAM_B, _ACKLAM_C, _ACKLAM_D,
    )

    ql = f"sqrt(-2.0 * ln({p}))"
    low = f"({_sql_horner(_ACKLAM_C, ql)} / {_sql_horner(list(_ACKLAM_D) + ['1.0'], ql)})"
    qm = f"({p} - 0.5)"
    rm = f"({qm} * {qm})"
    mid = (
        f"({_sql_horner(_ACKLAM_A, rm)} * {qm} / "
        f"{_sql_horner(list(_ACKLAM_B) + ['1.0'], rm)})"
    )
    qh = f"sqrt(-2.0 * ln(1.0 - {p}))"
    high = f"(-({_sql_horner(_ACKLAM_C, qh)} / {_sql_horner(list(_ACKLAM_D) + ['1.0'], qh)}))"
    return (
        f"CASE WHEN {p} < 0.02425 THEN {low} "
        f"WHEN {p} <= (1.0 - 0.02425) THEN {mid} "
        f"ELSE {high} END"
    )


def _erfc_pos_sql(ax: str) -> str:
    """Cody/CALERF erfc for a non-negative argument, replaying
    functions/distributions.erfc_vec branch by branch."""
    from polars_mas_spark.functions.distributions import (
        _CODY_A, _CODY_B, _CODY_C, _CODY_D, _CODY_P, _CODY_Q,
    )

    z1 = f"({ax} * {ax})"
    num1 = (
        f"({_sql_horner((_CODY_A[4], _CODY_A[0], _CODY_A[1], _CODY_A[2], _CODY_A[3]), z1)}"
        f" * {ax})"
    )
    b1 = f"(1.0 - {num1} / {_sql_horner_monic(_CODY_B, z1)})"
    num2 = _sql_horner(
        (_CODY_C[8], _CODY_C[0], _CODY_C[1], _CODY_C[2], _CODY_C[3],
         _CODY_C[4], _CODY_C[5], _CODY_C[6], _CODY_C[7]),
        ax,
    )
    b2 = f"(exp(-{ax} * {ax}) * {num2} / {_sql_horner_monic(_CODY_D, ax)})"
    z3 = f"(1.0 / ({ax} * {ax}))"
    num3 = _sql_horner(
        (_CODY_P[5], _CODY_P[0], _CODY_P[1], _CODY_P[2], _CODY_P[3], _CODY_P[4]),
        z3,
    )
    r3 = f"({z3} * {num3} / {_sql_horner_monic(_CODY_Q, z3)})"
    b3 = (
        f"(CASE WHEN {ax} > 26.5 THEN 0.0 "
        f"ELSE exp(-{ax} * {ax}) * (1.0 / sqrt(pi()) - {r3}) / {ax} END)"
    )
    return (
        f"CASE WHEN {ax} <= 0.46875 THEN {b1} "
        f"WHEN {ax} <= 4.0 THEN {b2} "
        f"ELSE {b3} END"
    )


def _probit_sql(source: str) -> str:
    """CTEs over ``source`` (columns ``p_partkey, p``) ending in ``u``,
    where ``x0 - uu / (1 + x0 * uu / 2)`` is the engine's probit:
    Acklam start plus one Halley step via Cody erfc."""
    x0 = _probit_x0_sql("p")
    erfc = _erfc_pos_sql("a")
    return f"""ack AS (SELECT p_partkey, p, {x0} AS x0 FROM {source}),
       az AS (SELECT p_partkey, p, x0,
                     (-x0) / sqrt(2.0) AS z,
                     abs((-x0) / sqrt(2.0)) AS a
              FROM ack),
       ec AS (SELECT p_partkey, p, x0,
                     CASE WHEN z < 0 THEN 2.0 - ({erfc})
                          ELSE ({erfc}) END AS e
              FROM az),
       u AS (SELECT p_partkey, p, x0,
                    (0.5 * e - p) * sqrt(2.0 * pi()) * exp(0.5 * x0 * x0)
                        AS uu
             FROM ec)"""


@golden(
    "rint_full",
    f"""{_BLOM_CTE},
       fr AS (SELECT p_partkey, (avg_rank - 0.375) / (n + 0.25) AS p FROM r),
       {_probit_sql("fr")}
    SELECT p_partkey,
           round(x0 - uu / (1.0 + 0.5 * x0 * uu), 6) + 0.0 AS price_rint
    FROM u""",
)
def q_rint_full(spark):
    """Full RINT: Blom fractions through the probit. DuckDB has no
    inverse-normal builtin, so the oracle replays the engine's probit
    in SQL from the same coefficient constants."""
    p = _t(spark, "part")
    out = rint(p.select("p_partkey", "p_retailprice"), "p_retailprice", "price_rint")
    return out.select(
        "p_partkey",
        (F.round(F.col("price_rint"), 6) + F.lit(0.0)).alias("price_rint"),
    )


# ---------------------------------------------------------------------------
# Fan-out: closed-form linear fits on every tall strategy
# ---------------------------------------------------------------------------

_OLS_PAIR = """SELECT '{x}' AS predictor, '{y}' AS dependent,
       round(regr_slope({y}, {x}), 6) AS beta,
       round(sqrt((regr_syy({y}, {x}) - regr_slope({y}, {x}) * (regr_syy({y}, {x})
                    - regr_syy({y}, {x}) + regr_slope({y}, {x}) * regr_sxx({y}, {x})))
                  / (regr_count({y}, {x}) - 2) / regr_sxx({y}, {x})), 6) AS se,
       regr_count({y}, {x})::BIGINT AS n_observations
       FROM lineitem"""
_OLS_ORACLE = " UNION ALL ".join(
    _OLS_PAIR.format(x="l_quantity", y=y)
    for y in ("l_extendedprice", "l_discount", "l_tax")
)


def _linear_fanout(spark, strategy):
    li = _t(spark, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    cfg = MASConfig(
        predictors="l_quantity",
        dependents=["l_extendedprice", "l_discount", "l_tax"],
        model="linear", quantitative=True, min_case_count=10,
    )
    res = spark.createDataFrame(
        run_associations(li, cfg.resolve(li.columns), strategy=strategy)
    )
    return res.select(
        "predictor", "dependent",
        F.round("beta", 6).alias("beta"),
        F.round("se", 6).alias("se"),
        "n_observations",
    )


@golden("mas_linear_fanout", _OLS_ORACLE)
def q_mas_linear_fanout(spark):
    """The columnar fan-out's OLS kernel against DuckDB's closed-form
    regression: beta = regr_slope, se = sqrt(SSE/(n-2)/Sxx)."""
    return _linear_fanout(spark, "columnar")


@golden("mas_linear_moments", _OLS_ORACLE)
def q_mas_linear_moments(spark):
    """The same fits through the sufficient-statistics strategy."""
    return _linear_fanout(spark, "moments")


@golden(
    "mas_sex_specific_linear",
    " UNION ALL ".join(
        f"""SELECT 'l_quantity' AS predictor, '{y}' AS dependent,
       round(regr_slope({y}, l_quantity), 6) AS beta,
       regr_count({y}, l_quantity)::BIGINT AS n_observations
       FROM lineitem WHERE l_suppkey % 2 = {code}"""
        for y, code in (("l_extendedprice", 1), ("l_discount", 0), ("l_tax", 1))
    ),
)
def q_mas_sex_specific_linear(spark):
    """Sex-restricted dependents on the packed path: each is fitted only
    on rows whose sex code matches, where the sex covariate is constant
    and dropped, so a simple regression over the same WHERE clause is
    exact."""
    li = _t(spark, "lineitem").select(
        "l_quantity",
        (F.col("l_suppkey") % 2).alias("sexc"),
        "l_extendedprice", "l_discount", "l_tax",
    )
    cfg = MASConfig(
        predictors="l_quantity",
        dependents=["l_extendedprice", "l_discount", "l_tax"],
        covariates=["sexc"], sex_col="sexc",
        sex_restrictions={"l_extendedprice": 1, "l_discount": 0, "l_tax": 1},
        model="linear", quantitative=True, min_case_count=10,
    )
    res = spark.createDataFrame(
        run_associations(li, cfg.resolve(li.columns), strategy="packed")
    )
    return res.select(
        "predictor", "dependent",
        F.round("beta", 6).alias("beta"),
        "n_observations",
    )


# ---------------------------------------------------------------------------
# Fan-out: planted 2x2 designs with closed-form Firth / logistic MLEs
# ---------------------------------------------------------------------------

# (dependent, noise key column, modulus, negate x): y = xbin XOR
# (key % m == 0), an odds ratio large enough that Bonferroni
# significance is overwhelming by construction.
_PLANTED = [
    ("y1", "l_orderkey", 20, False),
    ("y2", "l_orderkey", 10, False),
    ("y3", "l_suppkey", 15, True),
    ("y4", "l_partkey", 12, False),
    ("y5", "l_orderkey", 25, False),
    ("y6", "l_suppkey", 11, True),
    ("y7", "l_partkey", 18, False),
    ("y8", "l_partkey", 22, False),
]


def _cells_oracle(long_sql: str) -> str:
    """Exact 2x2 cells and margins per dependent of ``long_sql`` (rows
    of ``dep, y, x``), in the shape the self-filtered goldens return."""
    return f"""WITH u AS ({long_sql}),
c AS (
  SELECT dep,
         sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS cc,
         sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS d
  FROM u GROUP BY dep)
SELECT 'xbin' AS predictor, dep AS dependent,
       a AS cell_a, b AS cell_b, cc AS cell_c, d AS cell_d,
       (a + b) AS cases, (cc + d) AS controls,
       (a + b + cc + d) AS total_n,
       TRUE AS converged, TRUE AS bonferroni_significant
FROM c"""


def _planted_oracle(deps) -> str:
    ys = ",\n         ".join(
        f"CASE WHEN (l_quantity {'<=' if neg else '>'} 25) <> ({k} % {m} = 0) "
        f"THEN 1 ELSE 0 END AS {d}"
        for d, k, m, neg in deps
    )
    u = "\n  UNION ALL ".join(f"SELECT '{d}' AS dep, {d} AS y, x FROM t" for d, *_ in deps)
    return _cells_oracle(
        f"""WITH t AS (
  SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS x,
         {ys}
  FROM lineitem)
  {u}"""
    )


def _self_filtered_cells(wide, res, deps, model):
    """Keep a fitted row only if it converged, reproduces the closed-form
    MLE within 1e-5 (Haldane-Anscombe +1/2 log odds ratio for Firth; log
    odds ratio and its Wald SE for logistic), has margins equal to its
    contingency cells, and is Bonferroni significant. Returns the exact
    integer cells."""
    stack = "stack({n}, {args}) AS (dep, y)".format(
        n=len(deps), args=", ".join(f"'{d}', {d}" for d in deps)
    )
    long = wide.select("xbin", F.expr(stack))

    def cell(xv, yv):
        return F.sum(F.when((F.col("xbin") == xv) & (F.col("y") == yv), 1).otherwise(0))

    cont = long.groupBy(F.col("dep").alias("dependent")).agg(
        cell(1.0, 1.0).alias("a"), cell(0.0, 1.0).alias("b"),
        cell(1.0, 0.0).alias("cc"), cell(0.0, 0.0).alias("d"),
    )
    a, b, c, d = (F.col(k) for k in ("a", "b", "cc", "d"))
    if model == "firth":
        fit_ok = F.abs(F.col("beta") - F.log((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))) < 1e-5
    else:
        fit_ok = (F.abs(F.col("beta") - F.log(a * d / (b * c * F.lit(1.0)))) < 1e-5) & (
            F.abs(F.col("se") - F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)) < 1e-5
        )
    ok = res.join(F.broadcast(cont), "dependent").filter(
        F.col("converged")
        & fit_ok
        & (F.col("cases") == a + b)
        & (F.col("controls") == c + d)
        & (F.col("total_n") == a + b + c + d)
        & F.col("bonferroni_significant")
    )
    return ok.select(
        "predictor", "dependent",
        a.alias("cell_a"), b.alias("cell_b"), c.alias("cell_c"), d.alias("cell_d"),
        (a + b).alias("cases"), (c + d).alias("controls"),
        (a + b + c + d).alias("total_n"),
        "converged", "bonferroni_significant",
    )


def _planted_golden(spark, deps, model, strategy):
    li = _t(spark, "lineitem")
    x = F.col("l_quantity") > 25
    wide = li.select(
        x.cast("double").alias("xbin"),
        *[
            (((~x) if neg else x) != (F.col(k) % m == 0)).cast("double").alias(d)
            for d, k, m, neg in deps
        ],
    )
    names = [d for d, *_ in deps]
    cfg = MASConfig(predictors="xbin", dependents=names, model=model, min_case_count=10)
    res = run_pipeline(spark, cfg, df=wide, strategy=strategy)
    return _self_filtered_cells(wide, res, names, model)


@golden("mas_firth_fanout_golden", _planted_oracle(_PLANTED[:3]))
def q_mas_firth_fanout_golden(spark):
    """The packed Firth fan-out through run_pipeline: pair packing, the
    grouped kernel, case/control accounting and Bonferroni wiring."""
    return _planted_golden(spark, _PLANTED[:3], "firth", "packed")


@golden("mas_logistic_fanout_golden", _planted_oracle(_PLANTED[:3]))
def q_mas_logistic_fanout_golden(spark):
    """The packed unpenalized logistic fan-out: beta = ln(ad/bc) and
    se = sqrt(1/a + 1/b + 1/c + 1/d) are exact on all-positive cells."""
    return _planted_golden(spark, _PLANTED[:3], "logistic", "packed")


@golden("mas_firth_columnar_golden", _planted_oracle(_PLANTED))
def q_mas_firth_columnar_golden(spark):
    """The columnar fan-out end to end: checkpoint_wide's parquet
    writers, the PrepRecipe stats, per-task column-pruned reads, the
    Firth kernel and an 8-test Bonferroni."""
    return _planted_golden(spark, _PLANTED, "firth", "columnar")


# 180 planted dependents over two key columns x 90 moduli (i % 90 + 3).
_PHEWAS_GOLDEN_WIDTH = 180


@golden(
    "mas_phewas_firth_180_golden",
    _cells_oracle(
        f"""WITH t AS (
  SELECT CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS x,
         o_orderkey AS k1, o_custkey AS k2
  FROM orders),
deps AS (SELECT i::BIGINT AS i FROM range({_PHEWAS_GOLDEN_WIDTH}) r(i))
  SELECT printf('dep_%03d', i) AS dep, x,
         CASE WHEN (x = 1) <>
                   ((CASE WHEN i < 90 THEN k1 ELSE k2 END) % (i % 90 + 3) = 0)
              THEN 1 ELSE 0 END AS y
  FROM t CROSS JOIN deps"""
    ),
)
def q_mas_phewas_firth_180_golden(spark):
    """The columnar fan-out at PheWAS width: one run_pipeline call over
    180 planted 2x2 dependents and a 180-test Bonferroni."""
    orders = _t(spark, "orders")
    x = F.col("o_totalprice") > 250000
    names, cols = [], []
    for i in range(_PHEWAS_GOLDEN_WIDTH):
        key = F.col("o_orderkey") if i < 90 else F.col("o_custkey")
        names.append(f"dep_{i:03d}")
        cols.append((x != (key % (i % 90 + 3) == 0)).cast("double").alias(names[-1]))
    wide = orders.select(x.cast("double").alias("xbin"), *cols)
    cfg = MASConfig(predictors="xbin", dependents=names, model="firth", min_case_count=10)
    res = run_pipeline(spark, cfg, df=wide, strategy="columnar")
    return _self_filtered_cells(wide, res, names, "firth")


@golden(
    "mas_firth_2x2_haldane",
    """WITH t AS (
         SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS x,
                CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS y
         FROM lineitem),
       c AS (
         SELECT sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
                sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS b,
                sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS cc,
                sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS d,
                count(*)::BIGINT AS n
         FROM t)
       SELECT 'xbin' AS predictor, 'ybin' AS dependent,
              round(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (cc + 0.5))), 4)
                AS beta,
              (a + b) AS cases, (cc + d) AS controls, n AS total_n,
              TRUE AS converged
       FROM c""",
)
def q_mas_firth_2x2_haldane(spark):
    """The Firth solver on one 2x2 table through the packed fan-out: its
    estimate is exactly the Haldane-Anscombe +1/2 log odds ratio."""
    li = _t(spark, "lineitem").select(
        (F.col("l_quantity") > 25).cast("double").alias("xbin"),
        (F.col("l_discount") > 0.05).cast("double").alias("ybin"),
    )
    cfg = MASConfig(
        predictors="xbin", dependents=["ybin"],
        model="firth", min_case_count=10,
    )
    res = spark.createDataFrame(
        run_associations(li, cfg.resolve(li.columns), strategy="packed")
    )
    return res.select(
        "predictor", "dependent",
        F.round("beta", 4).alias("beta"),
        "cases", "controls", "total_n", "converged",
    )


# ---------------------------------------------------------------------------
# Fan-out: published reference fits and the Poisson closed form
# ---------------------------------------------------------------------------

# logistf's published Firth fits of the sex2 data (Heinze & Schemper
# 2002): beta within 2e-5 (the published rounding), profile CI within
# 2e-3 (logistf's bound-search tolerance), LRT p-value (published only
# for age) within 1e-5.
_SEX2_PUBLISHED = [
    # (term, beta, ci_low, ci_high, pval or None)
    ("age", -1.1059740, -1.9731003, -0.3074811, 6.148205e-03),
    ("oc", -0.0688167, -0.9414205, 0.7891819, None),
    ("vic", 2.2688664, 1.2730214, 3.4371827, None),
    ("vicl", -2.1114140, -3.2596825, -1.1173943, None),
    ("vis", -0.7883200, -1.6080510, 0.0151846, None),
    ("dia", 3.0960104, 0.7745682, 8.0302808, None),
]


@golden(
    "mas_firth_sex2_golden",
    " UNION ALL ".join(
        f"SELECT '{t}' AS predictor, {b!r}::DOUBLE AS beta_published"
        for t, b, _, _, _ in _SEX2_PUBLISHED
    ),
)
def q_mas_firth_sex2_golden(spark):
    """Each sex2 term fitted through the columnar fan-out (Firth, profile
    CIs, LRT p-value) and kept only if it reproduces logistf."""
    import csv

    from polars_mas_spark.sources.readers import bundled_sex2_path

    with open(bundled_sex2_path(), newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        rows = [tuple(int(v) for v in row) for row in reader]
    sdf = spark.createDataFrame(
        rows, schema=", ".join(f"`{c}` bigint" for c in header)
    )
    terms = [t for t, *_ in _SEX2_PUBLISHED]
    fitted = None
    for t in terms:
        cfg = MASConfig(
            predictors=t, dependents=["case"],
            covariates=[x for x in terms if x != t],
            model="firth", min_case_count=5,
        )
        part = spark.createDataFrame(
            run_associations(sdf, cfg.resolve(sdf.columns), strategy="columnar")
        )
        fitted = part if fitted is None else fitted.unionByName(part)
    # Tuples with an explicit schema map None to NULL whatever the
    # session's Arrow setting.
    pub = spark.createDataFrame(
        [tuple(row) for row in _SEX2_PUBLISHED],
        schema=(
            "predictor string, pub_beta double, pub_lo double, "
            "pub_hi double, pub_pval double"
        ),
    )
    ok = fitted.join(F.broadcast(pub), "predictor").filter(
        F.col("converged")
        & (F.abs(F.col("beta") - F.col("pub_beta")) < 2e-5)
        & (F.abs(F.col("ci_low") - F.col("pub_lo")) < 2e-3)
        & (F.abs(F.col("ci_high") - F.col("pub_hi")) < 2e-3)
        & (
            F.col("pub_pval").isNull()
            | F.isnan("pub_pval")
            | (F.abs(F.col("pval") - F.col("pub_pval")) < 1e-5)
        )
    )
    return ok.select("predictor", F.col("pub_beta").alias("beta_published"))


# R's mtcars (wt, hp, am) and glm(am ~ wt + hp, binomial)'s published
# (term, beta, se, Wald pval).
_MTCARS = [
    (2.620, 110, 1), (2.875, 110, 1), (2.320, 93, 1), (3.215, 110, 0),
    (3.440, 175, 0), (3.460, 105, 0), (3.570, 245, 0), (3.190, 62, 0),
    (3.150, 95, 0), (3.440, 123, 0), (3.440, 123, 0), (4.070, 180, 0),
    (3.730, 180, 0), (3.780, 180, 0), (5.250, 205, 0), (5.424, 215, 0),
    (5.345, 230, 0), (2.200, 66, 1), (1.615, 52, 1), (1.835, 65, 1),
    (2.465, 97, 0), (3.520, 150, 0), (3.435, 150, 0), (3.840, 245, 0),
    (3.845, 175, 0), (1.935, 66, 1), (2.140, 91, 1), (1.513, 113, 1),
    (3.170, 264, 1), (2.770, 175, 1), (3.570, 335, 1), (2.780, 109, 1),
]
_MTCARS_PUBLISHED = [
    ("wt", -8.08348, 3.06868, 0.00843),
    ("hp", 0.03626, 0.01773, 0.04091),
]


@golden(
    "mas_logistic_mtcars_golden",
    " UNION ALL ".join(
        f"SELECT '{t}' AS predictor, {b!r}::DOUBLE AS beta_published, "
        f"{s!r}::DOUBLE AS se_published"
        for t, b, s, _ in _MTCARS_PUBLISHED
    ),
)
def q_mas_logistic_mtcars_golden(spark):
    """Both mtcars terms through the packed logistic fan-out, kept only
    if beta, SE and Wald p-value match R within 1e-5."""
    mt = spark.createDataFrame(
        [(w, float(h), float(a)) for w, h, a in _MTCARS],
        schema="wt double, hp double, am double",
    )
    fitted = None
    for term, other in (("wt", "hp"), ("hp", "wt")):
        cfg = MASConfig(
            predictors=term, dependents=["am"], covariates=[other],
            model="logistic", min_case_count=5,
        )
        part = spark.createDataFrame(
            run_associations(mt, cfg.resolve(mt.columns), strategy="packed")
        )
        fitted = part if fitted is None else fitted.unionByName(part)
    pub = spark.createDataFrame(
        _MTCARS_PUBLISHED,
        schema="predictor string, pub_beta double, pub_se double, pub_pval double",
    )
    ok = fitted.join(F.broadcast(pub), "predictor").filter(
        F.col("converged")
        & (F.abs(F.col("beta") - F.col("pub_beta")) < 1e-5)
        & (F.abs(F.col("se") - F.col("pub_se")) < 1e-5)
        & (F.abs(F.col("pval") - F.col("pub_pval")) < 1e-5)
    )
    return ok.select(
        "predictor",
        F.col("pub_beta").alias("beta_published"),
        F.col("pub_se").alias("se_published"),
    )


@golden(
    "mas_poisson_rate_golden",
    """SELECT 'exposure' AS predictor, 'y' AS dependent,
              round(ln(avg(CASE WHEN x = 1 THEN y END)
                       / avg(CASE WHEN x = 0 THEN y END)), 6) AS beta,
              round(sqrt(1.0 / sum(CASE WHEN x = 1 THEN y END)
                         + 1.0 / sum(CASE WHEN x = 0 THEN y END)), 6) AS se,
              count(*)::BIGINT AS n_observations
       FROM (SELECT (event_id % 7)::DOUBLE AS y,
                    (user_id % 2)::DOUBLE AS x FROM events)""",
)
def q_mas_poisson_rate_golden(spark):
    """The packed Poisson fan-out: with one binary predictor the MLE is
    beta = ln(mean1/mean0), se = sqrt(1/S1 + 1/S0)."""
    ev = _t(spark, "events").select(
        (F.col("event_id") % 7).cast("double").alias("y"),
        (F.col("user_id") % 2).cast("double").alias("exposure"),
    )
    cfg = MASConfig(
        predictors="exposure", dependents=["y"], model="poisson",
        quantitative=True, min_case_count=10,
    )
    res = spark.createDataFrame(
        run_associations(ev, cfg.resolve(ev.columns), strategy="packed")
    )
    return res.select(
        "predictor", "dependent",
        F.round("beta", 6).alias("beta"),
        F.round("se", 6).alias("se"),
        "n_observations",
    )


@pytest.mark.parametrize("name", list(GOLDENS))
def test_golden_matches_oracle(no_arrow, duck, name):
    fn, oracle = GOLDENS[name]
    assert_matches_oracle(fn(no_arrow), duck, oracle)


# ---------------------------------------------------------------------------
# The whole pipeline: CSV in, parquet out
# ---------------------------------------------------------------------------

_E2E_SQL = """WITH src AS (
    SELECT o_totalprice / 1000.0 AS price_k,
           ln(o_totalprice) + (o_orderkey % 7) AS d1,
           (o_orderkey % 97)::DOUBLE / 10.0 + o_totalprice / 20000.0 AS d2,
           5.0::DOUBLE AS d3
    FROM orders
    WHERE o_orderkey % 13 <> 0
),
fits AS (
    SELECT '008.5' AS dependent, regr_slope(d1, price_k) AS beta_raw,
           regr_count(d1, price_k)::BIGINT AS n,
           regr_syy(d1, price_k) AS syy, regr_sxx(d1, price_k) AS sxx
    FROM src
    UNION ALL
    SELECT '250.1', regr_slope(d2, price_k), regr_count(d2, price_k)::BIGINT,
           regr_syy(d2, price_k), regr_sxx(d2, price_k)
    FROM src
    UNION ALL
    SELECT '401.0', regr_slope(d3, price_k), regr_count(d3, price_k)::BIGINT,
           regr_syy(d3, price_k), regr_sxx(d3, price_k)
    FROM src
)
SELECT 'price_k' AS predictor, dependent,
       round(beta_raw, 6) + 0.0 AS beta,
       round(sqrt((syy - beta_raw * beta_raw * sxx) / (n - 2) / sxx), 6) + 0.0
         AS se,
       n AS n_observations,
       dependent || ' ~ price_k + ' AS equation,
       syy > 0 AS bonferroni_significant,
       syy > 0 AS bh_usable,
       CASE dependent WHEN '008.5' THEN 'Intestinal infection'
                      WHEN '250.1' THEN 'Type 1 diabetes' END AS description
FROM fits"""


def test_mas_pipeline_e2e_matches_oracle(no_arrow, duck, tmp_path):
    """CSV input with ``NA`` tokens and dotted phecode names -> read ->
    null-covariate row drop + constant-covariate drop -> linear fan-out
    (auto-picked moments) -> Bonferroni + BH -> PheWAS annotation join
    -> parquet -> read back. n_observations binds the null drop, the
    equation the constant drop, beta/se the fit, the booleans the
    correction wiring (the constant dependent yields a NaN p-value) and
    description the left annotation join, including its miss."""
    spark = no_arrow
    wide = _t(spark, "orders").select(
        (F.col("o_totalprice") / 1000.0).alias("price_k"),
        (F.log(F.col("o_totalprice")) + (F.col("o_orderkey") % 7)).alias("008.5"),
        ((F.col("o_orderkey") % 97) / 10.0 + F.col("o_totalprice") / 20000.0).alias("250.1"),
        F.lit(5.0).alias("401.0"),
        F.when(F.col("o_orderkey") % 13 == 0, None).otherwise(1.0).alias("cov_const"),
    )
    (wide.coalesce(1).write.mode("overwrite")
         .option("header", True).option("nullValue", "NA")
         .csv(f"{tmp_path}/in.csv"))
    cfg = MASConfig(
        predictors="price_k",
        dependents=["008.5", "250.1", "401.0"],
        covariates=["cov_const"],
        model="linear", quantitative=True, min_case_count=10,
        null_values="NA", missing_covariate_values="drop",
        correction="bh", is_phewas=True,
    )
    defs = spark.createDataFrame(
        [("008.5", "Intestinal infection"), ("250.1", "Type 1 diabetes")],
        schema="phecode string, description string",
    )
    out_path = f"{tmp_path}/out.parquet"
    run_pipeline(
        spark, cfg, input_path=f"{tmp_path}/in.csv",
        output_path=out_path, phecode_defs=defs,
    )
    res = spark.read.parquet(out_path).select(
        "predictor", "dependent",
        (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        (F.round("se", 6) + F.lit(0.0)).alias("se"),
        "n_observations", "equation", "bonferroni_significant",
        F.col("pval_bh").isNotNull().alias("bh_usable"),
        "description",
    )
    assert_matches_oracle(res, duck, _E2E_SQL)
