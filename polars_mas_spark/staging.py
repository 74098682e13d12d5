"""Size-gated materialization for multi-consumer intermediates.

A corpus-width intermediate with several consumers (such as dedup's
paragraph passage table) wants ``localCheckpoint`` locally and at
bench scale — it truncates the plan so N consumers share one
computation — but its blocks are NON-fault-tolerant executor-local
storage with no lineage: at 100 TB a corpus-sized copy means an
executor loss fails the whole job, and storage is O(corpus) per query
(guide §5). ``materialize_stage`` keeps the checkpoint below a size
threshold and switches to an EAGER ``persist(StorageLevel.DISK_ONLY)``
above it: blocks are spill-managed and the retained lineage lets Spark
recompute lost partitions instead of failing; on a multi-node cluster
with strict durability needs, write the stage to its own parquet path
per epoch instead.

The gate reads Catalyst's optimized-plan size estimate — no extra job.
Estimates scale with the source file bytes, so the gate is
scale-adaptive by construction: at bench SFs every gated frame sits
orders of magnitude below the default 8 GiB threshold (test_plans pins
the local plan shape unchanged), while a 100 TB corpus blows past it
from the scan estimate alone. Threshold knob:
``spark.polars_mas.localCheckpointMaxBytes`` (bytes).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_DEFAULT_MAX_BYTES = 8 * 1024**3  # 8 GiB of executor-local checkpoint


def _estimated_bytes(df: DataFrame) -> int:
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        # Unknown estimate: treat as large — the conservative side is
        # the recomputable persist, never the lineage-free checkpoint.
        return 1 << 62


def materialize_stage(df: DataFrame, label: str = "") -> DataFrame:
    """Eagerly materialize an intermediate that feeds several subtrees.

    Below the size threshold (default 8 GiB, conf
    ``spark.polars_mas.localCheckpointMaxBytes``): eager
    ``localCheckpoint`` — plan truncation, one computation shared by
    every consumer. Above it: eager ``persist(DISK_ONLY)`` — same
    share-one-computation effect via cache substitution, but blocks are
    spill-managed and recomputable from lineage on executor loss.
    Results are identical either way; only the storage/fault contract
    changes. ``label`` names the stage in errors/UI contexts."""
    spark = df.sparkSession
    try:
        max_bytes = int(
            spark.conf.get(
                "spark.polars_mas.localCheckpointMaxBytes",
                str(_DEFAULT_MAX_BYTES),
            )
        )
    except Exception:
        max_bytes = _DEFAULT_MAX_BYTES
    if _estimated_bytes(df) <= max_bytes:
        return df.localCheckpoint(eager=True)
    staged = df.persist(StorageLevel.DISK_ONLY)
    staged.count()  # materialize now, like the eager checkpoint
    return staged
