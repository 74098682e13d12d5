"""Golden-value tests for the pure-Python distribution functions.

Reference values are standard published quantiles/probabilities (R /
scipy agree on all of them to the digits given).
"""

import math

import pytest

from polars_mas_spark.functions import distributions as d


@pytest.mark.parametrize(
    "func,args,expected,tol",
    [
        (d.norm_ppf, (0.975,), 1.959963984540054, 1e-12),
        (d.norm_ppf, (0.025,), -1.959963984540054, 1e-12),
        (d.norm_ppf, (0.5,), 0.0, 1e-15),
        (d.norm_sf, (1.959963984540054,), 0.025, 1e-12),
        (d.norm_cdf, (0.0,), 0.5, 1e-15),
        (d.chi2_sf, (3.841458820694124, 1.0), 0.05, 1e-12),
        (d.chi2_sf, (6.634896601021213, 1.0), 0.01, 1e-12),
        (d.t_sf, (2.2281388519649385, 10), 0.025, 1e-10),
        (d.t_ppf, (0.975, 10), 2.2281388519649385, 1e-9),
        (d.t_ppf, (0.975, 3), 3.182446305284263, 1e-9),
        (d.t_ppf, (0.975, 1000), 1.9623390808264078, 1e-8),
    ],
)
def test_golden_values(func, args, expected, tol):
    assert func(*args) == pytest.approx(expected, abs=tol)


def test_ppf_cdf_roundtrip():
    for p in [1e-10, 1e-6, 0.01, 0.3, 0.5, 0.7, 0.99, 1 - 1e-6]:
        assert d.norm_cdf(d.norm_ppf(p)) == pytest.approx(p, rel=1e-10)
    for p in [0.001, 0.05, 0.5, 0.95, 0.999]:
        for df in [1, 5, 30, 200]:
            assert 1 - d.t_sf(d.t_ppf(p, df), df) == pytest.approx(p, rel=1e-7)


def test_t_approaches_normal():
    assert d.t_sf(1.96, 1e7) == pytest.approx(d.norm_sf(1.96), abs=1e-6)


def test_chi2_sf_general_df():
    # chi2.sf(10, 3) from standard tables
    assert d.chi2_sf(10, 3) == pytest.approx(0.018565812, abs=5e-7)
    assert d.chi2_sf(0.0, 5) == 1.0
    assert math.isnan(d.chi2_sf(float("nan")))


def test_erfc_vec_matches_math_erfc():
    import numpy as np

    from polars_mas_spark.functions.distributions import erfc_vec

    xs = np.linspace(-28.0, 28.0, 50001)
    ref = np.array([math.erfc(float(v)) for v in xs])
    got = erfc_vec(xs)
    assert np.abs(got - ref).max() < 1e-13
    nz = ref > 1e-280
    assert (np.abs(got[nz] - ref[nz]) / ref[nz]).max() < 1e-12


def test_norm_ppf_vec_matches_scalar():
    import numpy as np

    from polars_mas_spark.functions.distributions import norm_ppf, norm_ppf_vec

    ps = np.linspace(1e-10, 1 - 1e-10, 20001)
    scal = np.array([norm_ppf(float(p)) for p in ps])
    vec = norm_ppf_vec(ps)
    assert np.abs(scal - vec).max() < 1e-12
    edge = norm_ppf_vec(np.array([0.0, 1.0, np.nan, -0.1, 1.1]))
    assert edge[0] == -math.inf and edge[1] == math.inf
    assert all(math.isnan(v) for v in edge[2:])


def test_sql_probit_replay_matches_numpy():
    """The rint_full oracle's generated-SQL probit (test_mas_goldens) must
    track norm_ppf_vec exactly enough that round(6) can never diverge:
    same Acklam/Cody coefficients (imported, not copied), same Horner
    order, Halley-contracted. Probes cover every branch boundary of
    both the Acklam start and the Cody erfc, plus 1e-12 tails."""
    import duckdb
    import numpy as np

    from polars_mas_spark.functions.distributions import norm_ppf_vec
    from tests.test_mas_goldens import _erfc_pos_sql, _probit_x0_sql

    rng = np.random.default_rng(42)
    ps = np.unique(np.concatenate([
        rng.uniform(1e-12, 1.0 - 1e-12, 4000),
        np.array([1e-12, 1e-9, 0.02424999, 0.02425, 0.024251, 0.5,
                  0.97574999, 1 - 0.02425, 0.9757500001, 1 - 1e-9,
                  1 - 1e-12]),
        rng.uniform(0, 0.001, 500),
        1.0 - rng.uniform(0, 0.001, 500),
    ]))
    x0 = _probit_x0_sql("p")
    erfc = _erfc_pos_sql("a")
    sql = f"""
    WITH ack AS (SELECT p, {x0} AS x0 FROM t),
    az AS (SELECT p, x0, (-x0) / sqrt(2.0) AS z,
                  abs((-x0) / sqrt(2.0)) AS a FROM ack),
    ec AS (SELECT p, x0, CASE WHEN z < 0 THEN 2.0 - ({erfc})
                              ELSE ({erfc}) END AS e FROM az),
    u AS (SELECT p, x0, (0.5 * e - p) * sqrt(2.0 * pi())
                        * exp(0.5 * x0 * x0) AS uu FROM ec)
    SELECT p, x0 - uu / (1.0 + 0.5 * x0 * uu) AS x FROM u
    """
    con = duckdb.connect()
    con.execute("CREATE TABLE t (p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(float(v),) for v in ps])
    got = dict(con.execute(sql).fetchall())
    sql_vals = np.array([got[float(v)] for v in ps])
    want = norm_ppf_vec(ps)
    assert np.abs(sql_vals - want).max() < 1e-12
    assert (np.round(sql_vals, 6) == np.round(want, 6)).all()
