"""Size-gated stage materialization (staging.materialize_stage, r13):
localCheckpoint below the threshold, recomputable DISK_ONLY persist
above it, identical results either way — and the small-data plans of
the gated operators keep the checkpoint."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.test_plans import plan_of as formatted_plan

from polars_mas_spark.staging import materialize_stage

_CONF = "spark.polars_mas.localCheckpointMaxBytes"


def _df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.length("text").alias("n")
    )


def test_below_threshold_checkpoints(spark):
    out = materialize_stage(_df(spark), "t")
    # localCheckpoint truncates the plan to an RDD scan.
    assert "Scan ExistingRDD" in formatted_plan(out)
    assert out.count() == _df(spark).count()


def test_above_threshold_persists_disk_only(spark):
    old = spark.conf.get(_CONF, None)
    spark.conf.set(_CONF, "1")  # force the large branch
    try:
        base = _df(spark)
        out = materialize_stage(base, "t")
        # persist keeps lineage (recomputable) — no RDD-scan truncation,
        # and the storage level is DISK_ONLY.
        assert out.storageLevel == StorageLevel.DISK_ONLY
        assert "Scan ExistingRDD" not in formatted_plan(out)
        assert sorted(r.doc_id for r in out.collect()) == sorted(
            r.doc_id for r in base.collect()
        )
        out.unpersist()
    finally:
        if old is None:
            spark.conf.unset(_CONF)
        else:
            spark.conf.set(_CONF, old)


def test_gated_operators_keep_local_checkpoint_plan(spark):
    """The gated corpus-width stage (paragraph passages) must still
    plan as localCheckpoint at bench SFs — the r12 measured wins rest
    on that shape."""
    from polars_mas_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = docs.select("doc_id", "text")
    base = pairs.unionByName(
        pairs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        pairs.filter(F.col("doc_id") % 40 == 20).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" pz0 pz1 pz2 pz3 pz4 pz5")).alias(
                "text"
            ),
        )
    )
    for name, q in (
        ("paragraph_neardup_dedup", dd.paragraph_neardup_dedup(
            base, "doc_id", "text",
            max_words=16, num_hashes=16, bands=4, rows_per_band=4,
        )),
    ):
        plan = formatted_plan(q)
        assert "Scan ExistingRDD" in plan, name
        assert "InMemoryTableScan" not in plan, name
