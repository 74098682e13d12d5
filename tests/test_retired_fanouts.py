"""Row-accounting checks for the MAS fan-out on real sf data.

Iterative MLE has no SQL closed form, so these shapes carry no oracle;
their numerics are value-bound by the planted goldens in
``test_mas_goldens`` (``mas_logistic_fanout_golden``,
``mas_firth_fanout_golden``, ``mas_phewas_firth_180_golden``). These
tests keep the real-data shapes executing: the full pipeline over an
orders-derived wide table (packed strategy) and the columnar PheWAS
path, asserting one result row per predictor x dependent with
consistent case/control/total counts.
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

from polars_mas_spark.config import MASConfig
from polars_mas_spark.pipeline import run_pipeline
from tests.conftest import SF_DIR_SMALL
from tests.test_mas_goldens import _t


def _mas_wide_table(spark):
    """One row per order with binary dependents and continuous
    covariates, checkpointed so the pipeline's several passes do not
    re-derive the join."""
    orders = _t(spark, "orders", SF_DIR_SMALL)
    li = _t(spark, "lineitem", SF_DIR_SMALL)
    li_agg = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_discount").alias("avg_disc"),
        F.count("*").alias("n_lines"),
    )
    return (
        orders.join(li_agg, orders["o_orderkey"] == li_agg["l_orderkey"], "inner")
        .select(
            (F.col("o_totalprice") / 1000.0).alias("price_k"),
            (F.col("o_orderstatus") == "F").cast("long").alias("is_returned"),
            F.col("o_orderpriority").isin("URGENT", "HIGH").cast("long")
            .alias("is_urgent"),
            (F.col("n_lines") >= 4).cast("long").alias("many_lines"),
            "sum_qty", "avg_disc",
        )
        .localCheckpoint(eager=True)
    )


def _packed_fanout(spark, model):
    cfg = MASConfig(
        predictors="price_k",
        dependents=["is_returned", "is_urgent", "many_lines"],
        covariates=["sum_qty", "avg_disc"],
        model=model, min_case_count=10,
    )
    return run_pipeline(spark, cfg, df=_mas_wide_table(spark), strategy="packed")


def _check_fanout(res_df, n_deps):
    rows = res_df.collect()
    assert len(rows) == n_deps
    ok = [r for r in rows if r["failed_reason"] is None]
    # every dependent yields exactly one row; failed ones carry a reason
    for r in ok:
        assert r["total_n"] > 0
        assert r["cases"] + r["controls"] == r["total_n"]
        assert r["converged"] is True
        assert r["pval"] is not None and 0.0 <= r["pval"] <= 1.0
    for r in rows:
        if r not in ok:
            assert r["failed_reason"]


def test_mas_logistic_fanout_shape(spark):
    _check_fanout(_packed_fanout(spark, "logistic"), 3)


def test_mas_firth_fanout_shape(spark):
    _check_fanout(_packed_fanout(spark, "firth"), 3)


def _phewas_wide_parquet(spark, path, n_phecodes, n_samples=5000, n_covariates=5):
    """A PheWAS-shaped wide parquet table written straight from
    mapInArrow tasks (the wide schema never exists in the JVM). Every
    cell is a splitmix64 hash of o_orderkey, so the table is
    reproducible."""
    import hashlib

    orders = _t(spark, "orders", SF_DIR_SMALL).select("o_orderkey", "o_totalprice")
    base = orders.orderBy("o_orderkey").limit(n_samples).repartition(8)

    def _salt64(salt: str) -> int:
        return int.from_bytes(
            hashlib.blake2b(salt.encode(), digest_size=8).digest(), "big"
        )

    def gen_write(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        def h(keys, salt):
            z = keys + np.uint64(_salt64(salt))
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
            return (z % np.uint64(1000)).astype(np.float64)

        pid = TaskContext.get().partitionId()
        writer = None
        n = 0
        with np.errstate(over="ignore"):
            for batch in batches:
                keys = batch.column("o_orderkey").to_numpy().astype(np.uint64)
                tp = batch.column("o_totalprice").to_numpy().astype(np.float64)
                names = ["exposure"]
                arrays = [pa.array(h(keys, "pred") / 500.0 - 1.0 + tp / 400000.0)]
                for c in range(n_covariates):
                    names.append(f"cov_{c}")
                    arrays.append(pa.array(h(keys, f"cov{c}") / 1000.0))
                # ~6% base prevalence, with the predictor leaking into a
                # 10% slice of phecodes so the run has true hits to rank.
                signal = tp > 250000.0
                for i in range(n_phecodes):
                    prev = h(keys, f"dep{i}")
                    hit = (prev < 50) if i % 10 else ((prev < 50) | (signal & (prev < 250)))
                    names.append(f"phecode_{i:04d}")
                    arrays.append(pa.array(hit.astype(np.int64)))
                out = pa.RecordBatch.from_arrays(arrays, names=names)
                if writer is None:
                    writer = pq.ParquetWriter(f"{path}/part-{pid:05d}.parquet", out.schema)
                writer.write_batch(out)
                n += out.num_rows
        if writer is not None:
            writer.close()
        yield pa.RecordBatch.from_arrays([pa.array([n], type=pa.int64())], ["rows"])

    base.mapInArrow(gen_write, "rows long").groupBy().sum("rows").collect()


def test_mas_phewas_firth_180_shape(spark, tmp_path):
    """The columnar Firth PheWAS at 180 phecodes: one row per phecode,
    pval sorted ascending with nulls last."""
    n_phecodes, n_covariates = 180, 5
    _phewas_wide_parquet(spark, str(tmp_path), n_phecodes, n_covariates=n_covariates)
    ddl = ", ".join(
        ["exposure DOUBLE"]
        + [f"cov_{c} DOUBLE" for c in range(n_covariates)]
        + [f"phecode_{i:04d} BIGINT" for i in range(n_phecodes)]
    )
    wide = spark.read.schema(ddl).parquet(str(tmp_path))
    cfg = MASConfig(
        predictors="exposure",
        dependents=[c for c in wide.columns if c.startswith("phecode_")],
        covariates=[c for c in wide.columns if c.startswith("cov_")],
        model="firth", min_case_count=20,
    )
    res = run_pipeline(spark, cfg, df=wide, strategy="columnar").select(
        "predictor", "dependent",
        F.round("beta", 6).alias("beta"),
        F.round("pval", 6).alias("pval"),
        "cases", "controls", "converged", "failed_reason",
        "bonferroni_significant",
    )
    assert isinstance(res.schema["pval"].dataType, T.DoubleType)
    rows = res.collect()
    assert len(rows) == n_phecodes
    pvals = [r["pval"] for r in rows]
    non_null = [p for p in pvals if p is not None]
    assert non_null == sorted(non_null)
    assert pvals[: len(non_null)] == non_null
