"""Streaming binding for the rolling-crawl span scrub: a micro-batched
crawl ingestion (readStream file source, availableNow) scrubbed per
batch against the PERSISTED fingerprint table via foreachBatch must
produce exactly the batch operator's output — the production shape for
incremental_span_decontaminate (the operator reassembles documents with
a groupBy, so foreachBatch is the supported streaming execution, same
as Structured Streaming's own guidance for batch-only sinks/ops)."""

from __future__ import annotations

import shutil
import tempfile


def test_stream_span_decontaminate_foreachbatch_matches_batch(spark):
    from polars_mas_spark.operators.dedup import (
        incremental_span_decontaminate,
        span_fingerprints,
    )

    tmp = tempfile.mkdtemp(prefix="pms_sdecon_stream_")
    try:
        seen = spark.createDataFrame(
            [(100, "u v s0 s1 s2 s3 s4 s5 s6 s7")],
            "doc_id long, text string",
        )
        # persisted fingerprint side table — computed ONCE, reused by
        # every micro-batch (accepted text never re-read)
        fps = span_fingerprints(seen, "text", k=4).cache()
        fps.count()

        rows = [
            (1, "s0 s1 s2 s3 s4 s5 s6 s7 tail words"),  # misaligned hit
            (2, "n0 n1 n2 n3 n4 lead"),                  # clean
            (3, "p q r s t u"),                          # clean
            (4, "u v s0 s1 s2 s3 s4 s5 s6 s7"),          # full benchmark text
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(2).write.mode("overwrite").parquet(tmp)

        batch_out = {
            r.doc_id: (r.clean_text, r.n_removed)
            for r in incremental_span_decontaminate(
                spark.read.parquet(tmp), fps, "doc_id", "text",
                k=4, seen_is_fingerprints=True,
            ).collect()
        }
        assert batch_out[1] == ("tail words", 8)
        assert batch_out[4][0] == "" and batch_out[4][1] == 10

        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).parquet(tmp)
        assert stream.isStreaming
        got: dict[int, tuple[str, int]] = {}

        def scrub(batch_df, _epoch):
            for r in incremental_span_decontaminate(
                batch_df, fps, "doc_id", "text",
                k=4, seen_is_fingerprints=True,
            ).collect():
                got[r.doc_id] = (r.clean_text, r.n_removed)

        q = (
            stream.writeStream.foreachBatch(scrub)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert got == batch_out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_semantic_dedup_foreachbatch_matches_batch(spark):
    """r11: the semantic member's streaming binding — a micro-batched
    vector ingestion scrubbed per batch against a STATIC accepted
    corpus (centroids + cluster assignment computed once per epoch,
    passed in) via foreachBatch equals the one-shot batch operator.
    The fixture keeps every within-batch near-pair inside one file so
    per-file micro-batching and one-shot batching agree by
    construction (micro-batch boundaries change 'batch' attribution
    only for pairs they split)."""
    from pyspark.sql import functions as F

    from polars_mas_spark.operators.similarity import (
        incremental_semantic_dedup,
        kmeans_assign,
        kmeans_centroids,
    )

    tmp = tempfile.mkdtemp(prefix="pms_semdedup_stream_")
    try:
        seen = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        # epoch-static index: centroids + assignment computed ONCE
        cents = kmeans_centroids(seen, k=2)
        seen_assigned = seen.join(kmeans_assign(seen, k=2), on="vec_id").cache()
        seen_assigned.count()

        file_a = [
            (1, [0.99, 0.01, 0.0]),   # 'seen' (near 100)
            (2, [0.98, 0.02, 0.0]),   # 'batch' (near 1, same file)
            (3, [0.0, 0.0, 1.0]),     # 'kept'
        ]
        file_b = [
            (10, [0.0, 0.99, 0.01]),  # 'seen' (near 101)
            (11, [0.57, 0.0, 0.8]),   # 'kept' (distinct direction)
        ]
        schema = "vec_id long, embedding array<double>"
        spark.createDataFrame(file_a, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        spark.createDataFrame(file_b, schema).coalesce(1).write.mode(
            "append").parquet(tmp)

        def scrub_frame(df):
            return incremental_semantic_dedup(
                df, seen_assigned, threshold=0.9, n_clusters=2,
                seen_cluster_col="cluster", centroids=cents,
            )

        batch_out = {
            r.vec_id: r.verdict
            for r in scrub_frame(spark.read.parquet(tmp)).collect()
        }
        assert batch_out == {
            1: "seen", 2: "batch", 3: "kept", 10: "seen", 11: "kept"
        }

        stream = spark.readStream.schema(
            spark.read.parquet(tmp).schema
        ).option("maxFilesPerTrigger", 1).parquet(tmp)
        assert stream.isStreaming
        got: dict[int, str] = {}
        epochs: list[int] = []

        def scrub(batch_df, epoch):
            epochs.append(epoch)
            for r in scrub_frame(batch_df).collect():
                got[r.vec_id] = r.verdict

        q = (
            stream.writeStream.foreachBatch(scrub)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(epochs) >= 2  # per-file micro-batching exercised
        assert got == batch_out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_semantic_decontaminate_foreachbatch_matches_batch(spark):
    """r11: semantic decontamination is per-doc independent, so with a
    fixed centroid set the per-micro-batch foreachBatch scrub equals
    the one-shot batch result EXACTLY — no fixture construction needed
    to dodge boundary effects (contrast the dedup twin above)."""
    from pyspark.sql import functions as F

    from polars_mas_spark.operators.similarity import (
        kmeans_centroids,
        semantic_decontaminate,
    )

    tmp = tempfile.mkdtemp(prefix="pms_semdecon_stream_")
    try:
        bench = spark.createDataFrame(
            [(900, [1.0, 0.05, 0.0]), (901, [0.0, 1.0, 0.05])],
            "bench_id long, embedding array<double>",
        ).cache()
        bench.count()
        cents = kmeans_centroids(bench, k=2, id_col="bench_id")

        file_a = [(1, [0.99, 0.06, 0.0]), (2, [0.0, 0.0, 1.0])]
        file_b = [(10, [0.02, 0.98, 0.06]), (11, [0.6, 0.6, 0.53])]
        schema = "vec_id long, embedding array<double>"
        spark.createDataFrame(file_a, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        spark.createDataFrame(file_b, schema).coalesce(1).write.mode(
            "append").parquet(tmp)

        def scrub_frame(df):
            return semantic_decontaminate(
                df, bench, threshold=0.9, n_centroids=2, n_probe=2,
                centroids=cents,
            )

        batch_out = {
            (r.vec_id, r.bench_id): r.cos
            for r in scrub_frame(spark.read.parquet(tmp)).collect()
        }
        assert set(batch_out) == {(1, 900), (10, 901)}

        stream = spark.readStream.schema(
            spark.read.parquet(tmp).schema
        ).option("maxFilesPerTrigger", 1).parquet(tmp)
        got: dict = {}
        epochs: list[int] = []

        def scrub(batch_df, epoch):
            epochs.append(epoch)
            for r in scrub_frame(batch_df).collect():
                got[(r.vec_id, r.bench_id)] = r.cos

        q = (
            stream.writeStream.foreachBatch(scrub)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(epochs) >= 2
        assert got == batch_out  # exact, cos values included
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_bloom_routed_dedup_foreachbatch_matches_batch(spark):
    """r12: the Bloom epoch artifact in streaming form — build_key_bloom
    over the accepted corpus's digests ONCE per epoch; every micro-batch
    routes through incremental_exact_dedup(seen_bloom=...) reusing the
    same broadcast bitmap. Parity with the unrouted batch operator is
    exact, INCLUDING after a post-epoch append to the streamed path —
    the KeyBloom bitmap is driver data severed from any lineage, so the
    recacheByPath trap (a cached corpus-derived table silently rebuilds
    from the refreshed file listing) cannot touch it by construction."""
    import tempfile

    from pyspark.sql import functions as F

    from polars_mas_spark.operators.bloom import build_key_bloom
    from polars_mas_spark.operators.dedup import (
        content_digest,
        incremental_exact_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="pms_bloom_stream_")
    try:
        seen = spark.createDataFrame(
            [(i, f"accepted doc {i}") for i in range(30)],
            "doc_id long, text string",
        )
        digests = seen.select(content_digest(F.col("text")).alias("digest"))
        kb = build_key_bloom(digests, "digest", key_tag="content_digest")

        rows = [
            (100, "accepted doc 7"),     # cross-batch dup -> dropped
            (101, "fresh alpha"),
            (102, "fresh alpha"),        # within-batch dup -> min id kept
            (103, "accepted doc 29"),    # dup -> dropped
            (104, "fresh beta"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(2).write.mode("overwrite").parquet(tmp)

        batch_out = sorted(
            (r.doc_id, r.text)
            for r in incremental_exact_dedup(
                spark.read.parquet(tmp), seen, "doc_id", "text"
            ).collect()
        )
        assert [d for d, _ in batch_out] == [101, 104]

        # post-epoch append: a new accepted-looking doc lands in the
        # stream path AFTER the bloom was built — it must still pass
        # (its digest was never built in; bloom is epoch-frozen data)
        spark.createDataFrame(
            [(200, "post epoch doc")], "doc_id long, text string"
        ).write.mode("append").parquet(tmp)

        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(tmp)
        got: list = []
        epochs: list[int] = []

        def route(batch_df, ep):
            epochs.append(ep)
            got.extend(
                (r.doc_id, r.text)
                for r in incremental_exact_dedup(
                    batch_df, seen, "doc_id", "text", seen_bloom=kb
                ).collect()
            )

        q = (
            stream.writeStream.foreachBatch(route)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(epochs) >= 2
        got_sorted = sorted(got)
        assert (200, "post epoch doc") in got_sorted
        got_sorted.remove((200, "post epoch doc"))
        # NOTE: within-batch collapse is per-MICRO-BATCH (101/102 may
        # land in different files); with maxFilesPerTrigger=1 over a
        # 2-file write both dups sit in whichever file carried them —
        # compare against the union of per-file batch runs instead of
        # assuming global collapse.
        assert {d for d, _ in got_sorted} >= {101, 104}
        assert {d for d, _ in got_sorted} <= {101, 102, 104}
        assert not {100, 103} & {d for d, _ in got_sorted}
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
