"""r11 semantic family: semantic_decontaminate, incremental_semantic_dedup,
classifier_eval, and the cascade's optional semantic stage.

Binds the claims the driver gate can't: the n-gram-miss/semantic-catch
separation, the plan shapes (corpus never broadcasts / seen embeddings
never shuffle), the planted verdict taxonomy, and the AUC /
precision / recall quotient identities behind classifier_eval's
all-integer projection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_mas_spark.operators import similarity as sim
from polars_mas_spark.operators import text as tx
from polars_mas_spark.operators import dedup as dd
from tests.test_plans import _op_count as op_count
from tests.test_plans import plan_of as formatted_plan


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def _vec_df(spark, rows, id_name="vec_id"):
    return spark.createDataFrame(
        rows, f"{id_name} long, embedding array<double>"
    )


# ---------------------------------------------------------------------------
# semantic_decontaminate
# ---------------------------------------------------------------------------


def test_semantic_catches_what_ngram_misses(spark):
    """A PARAPHRASED benchmark item (zero shared 3-grams with its corpus
    source, near-identical embedding) is invisible to
    ngram_contamination and flagged by semantic_decontaminate — the
    separation the operator exists for."""
    corpus_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about cooking pasta sauce"),
        ],
        "doc_id long, text string",
    )
    bench_docs = spark.createDataFrame(
        # Paraphrase of doc 1: no 3-gram in common.
        [(100, "a fast auburn vulpine leaps above some idle canine")],
        "doc_id long, text string",
    )
    ngram = tx.ngram_contamination(corpus_docs, bench_docs, "doc_id", "text")
    assert all(
        r.n_contaminated == 0 for r in ngram.collect()
    ), "paraphrase unexpectedly shares an n-gram"

    corpus_vecs = _vec_df(
        spark,
        [
            (1, [1.0, 0.2, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.1]),
        ],
    )
    bench_vecs = _vec_df(
        spark, [(100, [0.98, 0.21, 0.01, 0.0])], id_name="bench_id"
    )
    flagged = sim.semantic_decontaminate(
        corpus_vecs, bench_vecs, threshold=0.9, n_centroids=2, n_probe=2
    ).collect()
    assert [(r.vec_id, r.bench_id) for r in flagged] == [(1, 100)]
    assert flagged[0].cos > 0.99


def test_semantic_decontaminate_best_match_ties(spark):
    """Max-cos match wins; exact cosine ties go to the LOWEST bench id
    (two identical benchmark vectors -> deterministic winner)."""
    corpus = _vec_df(spark, [(7, [1.0, 0.0])])
    bench = _vec_df(
        spark,
        [(301, [2.0, 0.0]), (300, [2.0, 0.0]), (400, [0.9, 0.1])],
        id_name="bench_id",
    )
    out = sim.semantic_decontaminate(
        corpus, bench, threshold=0.5, n_centroids=1, n_probe=1
    ).collect()
    assert len(out) == 1
    assert (out[0].vec_id, out[0].bench_id, out[0].cos) == (7, 300, 1.0)


def test_semantic_decontaminate_zero_norm_excluded(spark):
    corpus = _vec_df(spark, [(1, [0.0, 0.0]), (2, [1.0, 0.0])])
    bench = _vec_df(spark, [(9, [1.0, 0.0])], id_name="bench_id")
    out = sim.semantic_decontaminate(
        corpus, bench, threshold=0.5, n_centroids=1, n_probe=1
    ).collect()
    assert [r.vec_id for r in out] == [2]


def _hash_exchange_keys(plan: str) -> list[str]:
    """First key column of every shuffle Exchange in a formatted plan
    (the detail section renders as 'Arguments: hashpartitioning(col#id,
    ...)')."""
    import re

    return [
        m.split("#")[0]
        for m in re.findall(r"hashpartitioning\(([^,#)]+)", plan)
    ]


def test_semantic_decontaminate_corpus_never_broadcasts(spark, sf_small):
    """Scale contract: exactly ONE BroadcastExchange (the benchmark
    probe side) and no corpus-sized shuffle — the only hash exchange
    feeds the per-doc max aggregate over already-thresholded hits."""
    emb = _embeddings(spark, sf_small)
    bench = emb.filter(F.col("vec_id") % 37 == 5).select(
        F.col("vec_id").alias("bench_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
    )
    plan = formatted_plan(sim.semantic_decontaminate(
        emb, bench, threshold=0.42, n_centroids=16, n_probe=4
    ))
    assert op_count(plan, "BroadcastExchange") == 1
    assert op_count(plan, "CartesianProduct") == 0
    # corpus rows reach the join via scan -> project (assign/norm) only
    assert op_count(plan, "BroadcastHashJoin") == 1
    keys = _hash_exchange_keys(plan)
    assert set(keys) <= {"__cid__"}, keys


# ---------------------------------------------------------------------------
# incremental_semantic_dedup
# ---------------------------------------------------------------------------


def test_incremental_semantic_verdicts_planted(spark):
    """All three verdicts + the bypasses on a planted micro-corpus."""
    seen = _vec_df(
        spark,
        [
            (10, [1.0, 0.0, 0.0]),
            (11, [0.0, 1.0, 0.0]),
        ],
    )
    batch = _vec_df(
        spark,
        [
            (1, [0.99, 0.01, 0.0]),   # near seen 10 -> 'seen'
            (2, [0.98, 0.02, 0.0]),   # near seen 10 AND batch 1 -> 'batch'
            (3, [0.0, 0.0, 1.0]),     # orthogonal -> 'kept'
            (4, [0.0, 0.0, 0.0]),     # zero norm: no pairs -> 'kept'
        ],
    )
    out = {
        r.vec_id: r.verdict
        for r in sim.incremental_semantic_dedup(
            batch, seen, threshold=0.9, n_clusters=2
        ).collect()
    }
    assert out == {1: "seen", 2: "batch", 3: "kept", 4: "kept"}


def test_incremental_semantic_batch_before_seen_attribution(spark):
    """A batch doc near BOTH a smaller batch peer and the accepted
    corpus reads 'batch' — within-batch collapse attributes first,
    composing with incremental_dedup_cascade's rule."""
    seen = _vec_df(spark, [(50, [1.0, 0.0])])
    batch = _vec_df(spark, [(1, [1.0, 0.01]), (2, [1.0, 0.02])])
    out = {
        r.vec_id: r.verdict
        for r in sim.incremental_semantic_dedup(
            batch, seen, threshold=0.9, n_clusters=1
        ).collect()
    }
    assert out == {1: "seen", 2: "batch"}


def test_incremental_semantic_seen_never_shuffles(spark, sf_small):
    """Scale contract: the accepted corpus streams map-side into a
    BroadcastHashJoin whose build side is the BATCH. No Exchange sits
    between the seen-side scan and that join; every hash exchange in
    the plan moves batch/loser ids, never accepted vectors."""
    emb = _embeddings(spark, sf_small)
    seen = emb.filter(F.col("vec_id") % 3 != 0)
    planted = seen.filter(F.col("vec_id") % 41 == 1)
    m = emb.agg(F.max("vec_id")).first()[0] + 1
    batch = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    for k, shift in ((1, 0.02), (2, 0.03)):
        batch = batch.unionByName(planted.select(
            (F.lit(k * m) + F.col("vec_id")).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(shift)).alias("embedding"),
        ))
    plan = formatted_plan(sim.incremental_semantic_dedup(
        batch, seen, threshold=0.8, n_clusters=8, refine_iters=1
    ))
    assert op_count(plan, "CartesianProduct") == 0
    assert op_count(plan, "BroadcastHashJoin") >= 2  # peers + seen-vs-batch
    # Structural proxy bound tight by the implementation: every shuffle
    # Exchange in the plan moves batch/loser ids (__bid__), never
    # accepted vectors.
    keys = _hash_exchange_keys(plan)
    assert keys and set(keys) <= {"__bid__"}, keys


def test_incremental_semantic_seen_cluster_col(spark):
    """A precomputed seen-side assignment column is honored (the
    persisted SemDeDup layout): results match the recomputed path."""
    seen = _vec_df(spark, [(10, [1.0, 0.0]), (11, [0.0, 1.0])])
    batch = _vec_df(spark, [(1, [0.99, 0.01]), (2, [0.0, 0.0, ][:2])])
    base = sim.incremental_semantic_dedup(
        batch, seen, threshold=0.9, n_clusters=2
    )
    pre = sim.kmeans_assign(seen, k=2, id_col="vec_id", vec_col="embedding")
    seen_pre = seen.join(pre, on="vec_id")
    again = sim.incremental_semantic_dedup(
        batch, seen_pre, threshold=0.9, n_clusters=2,
        seen_cluster_col="cluster",
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_cascade_semantic_stage(spark):
    """The optional fourth cascade stage: a doc surviving url/exact/near
    but embedding-near the accepted corpus reads ('semantic', 'seen');
    without vectors the cascade output is unchanged ('kept'); a doc
    with no vector row bypasses."""
    seen_docs = spark.createDataFrame(
        [(100, "the accepted reference document about gardening")],
        "doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            (1, "a wholly new take on tending plants and soil"),
            (2, "quarterly financial report for the steel division"),
        ],
        "doc_id long, text string",
    )
    base = {
        r.doc_id: (r.stage, r.vs)
        for r in dd.incremental_dedup_cascade(
            new_docs, seen_docs, "doc_id", "text"
        ).collect()
    }
    assert base == {1: ("kept", None), 2: ("kept", None)}

    seen_vecs = _vec_df(spark, [(100, [1.0, 0.0])])
    new_vecs = _vec_df(spark, [(1, [0.99, 0.01])])  # doc 2 has no vector
    out = {
        r.doc_id: (r.stage, r.vs)
        for r in dd.incremental_dedup_cascade(
            new_docs, seen_docs, "doc_id", "text",
            new_vectors=new_vecs, seen_vectors=seen_vecs,
            vec_threshold=0.9, n_clusters=1,
        ).collect()
    }
    assert out == {1: ("semantic", "seen"), 2: ("kept", None)}


# ---------------------------------------------------------------------------
# classifier_eval
# ---------------------------------------------------------------------------


def _eval_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, "id long, score double, label int")
    out = tx.classifier_eval(df, "id", "score", "label", **kw)
    return {r.split: r.asDict() for r in out.collect()}


def test_classifier_eval_separable(spark):
    """Perfectly separated scores: AUC == 1 (auc_num == auc_den) and a
    clean confusion at threshold 0.5."""
    rows = [(i, 0.9, 1) for i in range(1, 6)] + [
        (i, 0.1, 0) for i in range(6, 11)
    ]
    got = _eval_rows(spark, rows, threshold=0.5, n_buckets=10, holdout_mod=100)
    tr = got["train"]
    assert tr["n"] == 10 and tr["n_pos"] == 5
    assert tr["auc_num"] == tr["auc_den"] == 2 * 5 * 5
    assert (tr["tp"], tr["fp"], tr["fn"]) == (5, 0, 0)


def test_classifier_eval_quotient_identities(spark):
    """The r7 lesson as a unit test: the integer projection's implied
    quotients equal a direct pairwise computation on the quantized
    scores (AUC) and the classic definitions (precision/recall)."""
    rows = [
        (1, 0.95, 1), (2, 0.72, 1), (3, 0.55, 1), (4, 0.31, 1),
        (5, 0.81, 0), (6, 0.52, 0), (7, 0.12, 0), (8, 0.07, 0),
        (9, 0.55, 0),  # exact tie with id 3 in bucket terms
    ]
    n_buckets, thr = 20, 0.5
    got = _eval_rows(
        spark, rows, threshold=thr, n_buckets=n_buckets, holdout_mod=1000
    )["train"]

    def bucket(s):
        return max(0, min(n_buckets - 1, int(s * n_buckets)))

    pos = [bucket(s) for _, s, y in rows if y == 1]
    neg = [bucket(s) for _, s, y in rows if y == 0]
    num = sum(
        2 * sum(1 for nb in neg if pb > nb) + sum(1 for nb in neg if pb == nb)
        for pb in pos
    )
    assert got["auc_num"] == num
    assert got["auc_den"] == 2 * len(pos) * len(neg)
    tb = int(thr * n_buckets)
    tp = sum(1 for b in pos if b >= tb)
    fp = sum(1 for b in neg if b >= tb)
    assert (got["tp"], got["fp"], got["fn"]) == (tp, fp, len(pos) - tp)
    # the quotients the caller derives
    assert got["auc_num"] / got["auc_den"] == pytest.approx(
        num / (2 * len(pos) * len(neg))
    )
    assert got["tp"] / (got["tp"] + got["fp"]) == pytest.approx(tp / (tp + fp))


def test_classifier_eval_split_and_clamp(spark):
    """doc_id % holdout_mod routes the split; out-of-range scores clamp
    into the boundary buckets instead of vanishing."""
    rows = [(5, 1.7, 1), (10, -0.3, 0), (3, 0.5, 1), (7, 0.4, 0)]
    got = _eval_rows(spark, rows, threshold=0.5, n_buckets=10, holdout_mod=5)
    assert got["holdout"]["n"] == 2 and got["train"]["n"] == 2
    # 1.7 clamps to bucket 9 (tp), -0.3 to bucket 0 (not fp)
    assert got["holdout"]["tp"] == 1 and got["holdout"]["fp"] == 0


def test_classifier_eval_validates_holdout_mod(spark):
    df = spark.createDataFrame([(1, 0.5, 1)], "id long, score double, label int")
    with pytest.raises(ValueError, match="holdout_mod"):
        tx.classifier_eval(df, "id", "score", "label", holdout_mod=1)


def test_connected_min_labels_validates_max_rounds(spark):
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_rounds"):
        dd.connected_min_labels(pairs, max_rounds=0)


# ---------------------------------------------------------------------------
# decontaminate_cascade
# ---------------------------------------------------------------------------


def test_decontaminate_cascade_stage_taxonomy(spark):
    """One doc per channel + precedence + NULL-text and no-vector
    bypasses. The benchmark text is 'b0 b1 ... b9'; doc 1 quotes an
    8-word window verbatim ('span'), doc 2 contains most benchmark
    3-grams but never 8 consecutive words ('ngram'), doc 3 shares no
    text but sits next to a benchmark vector ('semantic'), doc 4 is
    clean, doc 5 has NULL text ('clean' through text stages; no vector
    row so the semantic stage bypasses too)."""
    bench_text = " ".join(f"b{i}" for i in range(10))
    benchmark = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "intro words " + " ".join(f"b{i}" for i in range(8)) + " outro"),
            # 3-gram coverage without any 8-run: two 5-word halves,
            # separated by noise
            (2, "b0 b1 b2 b3 b4 zz b5 b6 b7 b8 b9"),
            (3, "a completely different paraphrased question"),
            (4, "nothing shared with anything at all"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    corpus_vecs = _vec_df(
        spark,
        [(1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [0.99, 0.01]),
         (4, [0.0, -1.0])],
        id_name="vec_id",
    )
    bench_vecs = _vec_df(spark, [(900, [1.0, 0.0])], id_name="vec_id")

    out = {
        r.doc_id: r.stage
        for r in tx.decontaminate_cascade(
            docs, benchmark, "doc_id", "text",
            span_k=8, ngram_n=3, ngram_threshold=0.5,
            corpus_vectors=corpus_vecs, benchmark_vectors=bench_vecs,
            cos_threshold=0.9, n_centroids=2, n_probe=2,
        ).collect()
    }
    assert out == {1: "span", 2: "ngram", 3: "semantic", 4: "clean", 5: "clean"}

    # precedence: doc 1 also clears the ngram threshold, but reads span;
    # doc 2's vector is ALSO within tau of the benchmark vector
    # (cos([1,1],[1,0]) ~ 0.707 < 0.9 -> not actually; use the explicit
    # check that text channels win by running without vectors)
    no_vec = {
        r.doc_id: r.stage
        for r in tx.decontaminate_cascade(
            docs, benchmark, "doc_id", "text",
            span_k=8, ngram_n=3, ngram_threshold=0.5,
        ).collect()
    }
    assert no_vec == {1: "span", 2: "ngram", 3: "clean", 4: "clean", 5: "clean"}


def test_decontaminate_cascade_null_id_raises(spark):
    docs = spark.createDataFrame(
        [(None, "some text")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(1, "b words")], "doc_id long, text string")
    with pytest.raises(Exception, match="NULL doc_id"):
        tx.decontaminate_cascade(docs, bench, "doc_id", "text").collect()


def test_classifier_eval_null_score_and_label_excluded(spark):
    """Review r11: NULL scores previously slid through greatest/least
    (both skip NULLs) into the TOP bucket, inflating tp and AUC; NULL
    labels counted in neither class but still in no row. Both are now
    excluded up front."""
    rows = [
        (1, 0.9, 1), (2, None, 1), (3, 0.1, 0), (4, 0.8, None),
    ]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = {
        r.split: r.asDict()
        for r in tx.classifier_eval(
            df, "id", "score", "label",
            threshold=0.5, n_buckets=10, holdout_mod=1000,
        ).collect()
    }["train"]
    assert got["n"] == 2 and got["n_pos"] == 1
    assert (got["tp"], got["fp"], got["fn"]) == (1, 0, 0)
    assert got["auc_num"] == got["auc_den"] == 2


def test_classifier_eval_threshold_edge_rounding(spark):
    """Review r11: threshold*n_buckets one ulp below an integer
    (0.29*100 = 28.999999999999996) must land on the 0.29 edge, not
    one bucket early."""
    rows = [(1, 0.285, 0), (2, 0.295, 1)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = {
        r.split: r.asDict()
        for r in tx.classifier_eval(
            df, "id", "score", "label",
            threshold=0.29, n_buckets=100, holdout_mod=1000,
        ).collect()
    }["train"]
    # bucket(0.285)=28 < 29 -> predicted negative (fp=0);
    # bucket(0.295)=29 >= 29 -> predicted positive (tp=1)
    assert (got["tp"], got["fp"], got["fn"]) == (1, 0, 0)


def test_cascade_one_sided_vectors_raise(spark):
    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "b")], "doc_id long, text string")
    vecs = _vec_df(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError, match="together"):
        tx.decontaminate_cascade(
            docs, bench, "doc_id", "text", corpus_vectors=vecs
        )
    with pytest.raises(ValueError, match="together"):
        dd.incremental_dedup_cascade(
            docs, bench, "doc_id", "text", new_vectors=vecs
        )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


def test_quantize_roundtrip_error_bound(spark):
    """Per-component round-trip error <= scale/2 = max|x|/254; zero and
    empty vectors restore exactly; codes stay in [-127, 127]."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8) * (10 ** (i % 4))])
            for i in range(20)]
    rows += [(100, [0.0, 0.0, 0.0]), (101, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = sim.quantize_embeddings(df)
    deq = {r.vec_id: r.embedding for r in
           sim.dequantize_embeddings(q).collect()}
    qrows = {r.vec_id: (r.qvec, r.qscale) for r in q.collect()}
    orig = dict(rows)
    for vid, v in orig.items():
        qv, scale = qrows[vid]
        assert all(-127 <= int(c) <= 127 for c in qv)
        if not v or max(abs(x) for x in v) == 0:
            assert scale == 0.0 and all(c == 0 for c in qv)
            assert deq[vid] == [0.0] * len(v)
            continue
        assert scale == max(abs(x) for x in v) / 127.0
        for x, y in zip(v, deq[vid]):
            assert abs(x - y) <= scale / 2 + 1e-12


def test_quantize_null_elements_roundtrip(spark):
    """A NULL component must quantize to a NULL code (not get silently
    clamped to +127 — F.greatest/F.least skip NULL operands, ADVICE r11
    #1), be skipped by the scale's array_max, and round-trip to NULL
    through dequantize; dotted user id columns go through qcol."""
    df = spark.createDataFrame(
        [(1, [2.54, None, -1.0]), (2, [None, None])],
        "`250.1` long, embedding array<double>",
    )
    q = sim.quantize_embeddings(df, id_col="250.1")
    qrows = {r["250.1"]: (r.qvec, r.qscale) for r in q.collect()}
    codes, scale = qrows[1]
    assert scale == 2.54 / 127.0  # array_max skipped the NULL
    assert codes[0] == 127 and codes[1] is None and codes[2] == -50
    codes2, scale2 = qrows[2]
    assert scale2 == 0.0 and list(codes2) == [None, None]
    deq = {
        r["250.1"]: r.embedding
        for r in sim.dequantize_embeddings(q, id_col="250.1").collect()
    }
    assert deq[1][1] is None and abs(deq[1][0] - 2.54) < scale / 2 + 1e-12
    assert deq[2] == [None, None]


def test_quantized_ann_recall(spark):
    """brute_force_topk over the dequantized corpus reproduces the
    float top-k on well-separated planted clusters (cosine is
    per-vector-scale invariant, so quantization only perturbs by the
    bounded rounding error)."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = np.eye(4)
    rows = []
    for i in range(40):
        c = centers[i % 4]
        rows.append((i, [float(x) for x in c + rng.randn(4) * 0.05]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.brute_force_topk(df, queries, k=5).collect()
    }
    deq = sim.dequantize_embeddings(sim.quantize_embeddings(df))
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.brute_force_topk(deq, queries, k=5).collect()
    }
    # set-level recall per query (ranks may swap within rounding error)
    for qid in range(4):
        e = {exact[(qid, r)] for r in range(1, 6)}
        a = {approx[(qid, r)] for r in range(1, 6)}
        assert len(e & a) >= 4, (qid, e, a)


def test_quantize_plan_is_map_only(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    plan = formatted_plan(
        sim.dequantize_embeddings(sim.quantize_embeddings(df))
    )
    assert op_count(plan, "Exchange") == 0
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
