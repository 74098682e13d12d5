"""Deterministic sampling invariants."""

import pytest
from pyspark.sql import functions as F

from polars_mas_spark.operators import sampling as smp


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "key").withColumn(
        "grp", (F.col("key") % 4).cast("string")
    )


def test_sample_reproducible_and_rate(ids):
    a = smp.deterministic_sample(ids, "key", 0.2)
    b = smp.deterministic_sample(ids, "key", 0.2)
    rows_a = {r.key for r in a.collect()}
    rows_b = {r.key for r in b.collect()}
    assert rows_a == rows_b
    # 32-bit hash over 2000 keys: rate within a loose binomial band.
    assert 0.15 < len(rows_a) / 2000 < 0.25


def test_sample_nesting_monotone(ids):
    """A 10% sample is a subset of the 20% sample at the same salt —
    the bucket-threshold property rate ramps rely on."""
    small = {r.key for r in smp.deterministic_sample(ids, "key", 0.1).collect()}
    large = {r.key for r in smp.deterministic_sample(ids, "key", 0.2).collect()}
    assert small <= large


def test_salt_decorrelates(ids):
    a = {r.key for r in smp.deterministic_sample(ids, "key", 0.2, salt="a").collect()}
    b = {r.key for r in smp.deterministic_sample(ids, "key", 0.2, salt="b").collect()}
    assert a != b


def test_stratified_rates(ids):
    out = smp.stratified_sample(
        ids, "key", "grp", {"0": 1.0, "1": 0.0}, default_fraction=0.5
    )
    by_grp = {
        r.grp: r.n
        for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert by_grp["0"] == 500
    assert "1" not in by_grp
    for g in ("2", "3"):
        assert 0.35 * 500 < by_grp[g] < 0.65 * 500


def test_split_partitions_everything(ids):
    out = smp.train_eval_split(ids, "key", eval_fraction=0.1)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "eval"}
    assert counts["train"] + counts["eval"] == 2000


def test_mixture_sample_hits_target_proportions(ids):
    """Largest no-upsampling output honoring 50/25/25 over four equal
    strata of 500: the scarce stratum caps the total, so the 0.5-share
    stratum keeps everything and the 0.25 shares keep about half."""
    out = smp.mixture_sample(ids, "key", "grp", {"0": 0.5, "1": 0.25, "2": 0.25})
    by = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert "3" not in by  # unlisted stratum excluded
    assert by["0"] == 500  # share 0.5 * feasible 1000 / 500 = rate 1.0
    assert 0.4 < by["1"] / 500 < 0.6
    assert 0.4 < by["2"] / 500 < 0.6


def test_mixture_sample_deterministic(ids):
    w = {"0": 0.6, "1": 0.4}
    a = {r.key for r in smp.mixture_sample(ids, "key", "grp", w).collect()}
    b = {r.key for r in smp.mixture_sample(ids, "key", "grp", w).collect()}
    assert a == b and a


def test_mixture_sample_absent_stratum_skipped(ids):
    """A weighted stratum with no rows must not zero out the whole mix
    (ADVICE r2): it is skipped, present strata keep their original
    relative weights — identical to the SQL oracle's inner join."""
    with_ghost = smp.mixture_sample(
        ids, "key", "grp", {"0": 0.5, "1": 0.25, "ghost": 0.25}
    )
    without = smp.mixture_sample(ids, "key", "grp", {"0": 0.5, "1": 0.25})
    a = {r.key for r in with_ghost.collect()}
    b = {r.key for r in without.collect()}
    assert a == b and a  # ghost stratum contributes nothing, removes nothing
    with pytest.raises(ValueError, match="no stratum"):
        smp.mixture_sample(ids, "key", "grp", {"ghost": 1.0})


def test_cap_tokens_requires_order_col(ids):
    df = ids.withColumn("n_tokens", F.lit(10))
    with pytest.raises(ValueError, match="order_col"):
        smp.cap_tokens_per_source(df, "grp", "n_tokens", budget=100)
    # With a stable order the cap admits ~budget/tokens rows per source
    # including the crossing document.
    out = smp.cap_tokens_per_source(
        df, "grp", "n_tokens", budget=95, order_col="key"
    )
    by = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in by.values())  # 9 full + the crossing doc


def test_threshold_matches_sql_round_half_up():
    """Review r4: Python round() is banker's rounding; the bucket
    threshold must use floor(x+0.5) so the DuckDB oracle (SQL ROUND
    half-up) selects the identical row set at .5 boundaries."""
    from polars_mas_spark.operators.sampling import _threshold

    assert _threshold(0.00125, 10_000) == 13   # round() would give 12
    assert _threshold(0.1, 10_000) == 1000
    assert _threshold(0.0, 10_000) == 0


def test_null_keys_sample_consistently(spark):
    """Review r4: null keys must bucket deterministically (sentinel
    hash), never silently drop from samples while landing in 'train'."""
    from polars_mas_spark.operators.sampling import (
        deterministic_sample,
        train_eval_split,
    )

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], "k long, v string"
    )
    full = deterministic_sample(df, "k", 1.0)
    assert full.count() == 3  # fraction 1.0 keeps EVERY row, nulls included
    split = train_eval_split(df, "k", eval_fraction=0.5)
    labels = {r["v"]: r["split"] for r in split.collect()}
    # Null keys all get the SAME deterministic side, not unconditionally
    # 'train' — and sampling at the same fraction agrees with the split.
    assert labels["a"] == labels["b"]
    half = {r["v"] for r in deterministic_sample(df, "k", 0.5, salt="split").collect()}
    for v in ("a", "b"):
        assert (v in half) == (labels[v] == "eval")


def test_mixture_sample_zero_weights_clear_error(spark):
    from polars_mas_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame([(1, "web")], "doc_id long, source string")
    import pytest
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "doc_id", "source", weights={})
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "doc_id", "source", weights={"web": 0.0})


def test_select_until_budget_prefix_and_ties(spark):
    """Global budget cut: selection is exactly the prefix of
    (score desc, id asc); ties order by id; cum_weight matches the
    naive single-window computation; NULL score/weight rows are never
    selected and carry NULL cum_weight."""
    from polars_mas_spark.operators.sampling import select_until_budget

    rows = [
        # (id, score, weight) -> rank order: 3(9), 1(7), 4(7), 2(5), 5(1)
        (1, 7.0, 10), (2, 5.0, 10), (3, 9.0, 10), (4, 7.0, 10), (5, 1.0, 10),
        (6, None, 10), (7, 3.0, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, w long")
    out = (
        select_until_budget(df, "score", "w", budget=30, id_col="doc_id",
                            num_blocks=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(out["selected"]) == [True, False, True, True, False, False,
                                     False]
    assert out.loc[3, "cum_weight"] == 10          # best score first
    assert out.loc[1, "cum_weight"] == 20          # tie at 7: id 1 < id 4
    assert out.loc[4, "cum_weight"] == 30
    assert out.loc[2, "cum_weight"] == 40
    assert out.loc[5, "cum_weight"] == 50
    import pandas as pd
    assert pd.isna(out.loc[6, "cum_weight"]) and pd.isna(out.loc[7, "cum_weight"])


def test_select_until_budget_rejects_negative_weight(spark):
    """Negative weights break the prefix property (cum no longer
    monotone) — must raise, not silently mis-cut."""
    import pytest

    from polars_mas_spark.operators.sampling import select_until_budget

    df = spark.createDataFrame(
        [(1, 2.0, 10), (2, 1.0, -3)], "doc_id long, score double, w long"
    )
    with pytest.raises(Exception, match="weights must be >= 0"):
        select_until_budget(df, "score", "w", 100, "doc_id").collect()


def test_select_top_fraction_per_group(spark):
    """Per-group nucleus cut: within each group selection is the
    (score desc, id) prefix bounded by fraction * group_total; small
    groups keep their share (no global starvation); NULLs unselected."""
    from polars_mas_spark.operators.sampling import (
        select_top_fraction_per_group,
    )

    rows = [
        # big group: total 100 -> floor(0.5*100)=50 -> top 2 by score
        ("big", 1, 9.0, 25), ("big", 2, 7.0, 25), ("big", 3, 5.0, 25),
        ("big", 4, 3.0, 25),
        # small group: total 10 -> 5 -> only the best one (weight 5)
        ("small", 5, 2.0, 5), ("small", 6, 1.0, 5),
        # invalid rows
        ("big", 7, None, 10), ("small", 8, 1.0, None),
    ]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, score double, w long"
    )
    out = (
        select_top_fraction_per_group(df, "source", "score", "w", 0.5, "doc_id")
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(out["selected"]) == [True, True, False, False, True, False,
                                     False, False]
    assert out.loc[2, "cum_weight"] == 50 and out.loc[3, "cum_weight"] == 75
    assert out.loc[5, "group_weight"] == 10
    import pandas as pd
    assert pd.isna(out.loc[7, "cum_weight"]) and pd.isna(out.loc[8, "cum_weight"])


def test_temperature_mixture_sample(spark):
    """T = 1 reproduces the natural distribution (keeps every row); a
    high temperature flattens a skewed mix toward uniform (the dominant
    stratum is downsampled toward the smallest's scale); T <= 0 raises."""
    import pytest

    from polars_mas_spark.operators.sampling import temperature_mixture_sample

    rows = [(i, "big" if i % 10 < 8 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    assert temperature_mixture_sample(df, "doc_id", "src", 1.0).count() == 1000

    flat = temperature_mixture_sample(df, "doc_id", "src", 100.0)
    by = {r[0]: r[1] for r in flat.groupBy("src").count().collect()}
    # near-uniform target: big should shrink toward small's count (200);
    # hash-rate noise at 10k buckets is small.
    assert by["small"] >= 190
    assert by["big"] < 300

    with pytest.raises(ValueError, match="temperature"):
        temperature_mixture_sample(df, "doc_id", "src", 0.0)


def test_budget_selection_null_group_and_nan_weight(spark):
    """Review r5: a NULL-group row must be REPORTED unselected, not
    silently vanish in the totals join; a NaN weight must land in the
    invalid branch instead of poisoning the block sums / crashing the
    driver's offset int()."""
    import pandas as pd

    from polars_mas_spark.operators.sampling import (
        select_top_fraction_per_group, select_until_budget,
    )

    rows = [
        ("a", 1, 5.0, 10.0), ("a", 2, 4.0, 10.0),
        (None, 3, 9.0, 10.0),            # NULL group
        ("a", 4, 3.0, float("nan")),     # NaN weight
    ]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, score double, w double"
    )
    out = (
        select_top_fraction_per_group(df, "source", "score", "w", 1.0, "doc_id")
        .toPandas().set_index("doc_id").sort_index()
    )
    assert len(out) == 4                       # nothing vanished
    assert not out.loc[3, "selected"] and pd.isna(out.loc[3, "cum_weight"])
    assert not out.loc[4, "selected"] and pd.isna(out.loc[4, "cum_weight"])
    assert out.loc[1, "selected"] and out.loc[2, "selected"]
    assert out.loc[2, "group_weight"] == 20    # NaN row not in the total

    gout = (
        select_until_budget(df, "score", "w", 100, "doc_id", num_blocks=2)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert len(gout) == 4
    assert not gout.loc[4, "selected"] and pd.isna(gout.loc[4, "cum_weight"])


def test_temperature_mixture_counts_passed_once(spark):
    """temperature_mixture_sample must hand its counts to
    mixture_sample (one corpus count scan, not two)."""
    from unittest import mock

    from polars_mas_spark.operators import sampling as smp_mod

    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(20)],
        "doc_id long, src string",
    )
    with mock.patch.object(
        smp_mod, "mixture_sample", wraps=smp_mod.mixture_sample
    ) as spy:
        smp_mod.temperature_mixture_sample(df, "doc_id", "src", 2.0).count()
        assert spy.call_args.kwargs.get("counts") == {"x": 10, "y": 10}


def test_sample_n_per_group_exact_and_stable(spark):
    """Exactly min(n, group_size) per group; same key set across
    reruns; NULL group gets its own slice."""
    from polars_mas_spark.operators.sampling import sample_n_per_group

    rows = [(i, ["a", "b", None][i % 3]) for i in range(90)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out1 = sample_n_per_group(df, "doc_id", "src", 7).toPandas()
    sizes = {
        (k if isinstance(k, str) else None): v
        for k, v in out1.groupby("src", dropna=False).size().items()
    }
    assert sizes == {"a": 7, "b": 7, "tiny": 1, None: 7}
    out2 = sample_n_per_group(df, "doc_id", "src", 7).toPandas()
    assert set(out1["doc_id"]) == set(out2["doc_id"])
    # n=0 -> empty; negative raises
    assert sample_n_per_group(df, "doc_id", "src", 0).count() == 0
    import pytest
    with pytest.raises(ValueError, match="n must be"):
        sample_n_per_group(df, "doc_id", "src", -1)


def test_bpe_and_span_dedup_input_validation(spark):
    """Malformed inputs fail loudly at plan-build time, not with
    silently-wrong results: k < 1 span windows."""
    import pytest

    from polars_mas_spark.operators.dedup import span_dedup

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="k >= 1"):
        span_dedup(df, "doc_id", "text", k=0)


def test_dsir_select_domain_affinity_and_topk(spark):
    """In-domain vocabulary gets higher importance weights than
    off-domain; exactly k rows are selected; n_ngrams counts
    unigrams + bigrams; reruns are bit-identical."""
    rows = []
    # target slice (is_t=True): distinctive "genomics" vocabulary
    for i in range(10):
        rows.append((i, "gene allele variant exon intron gene allele", True))
    # raw candidates: 5 in-domain lookalikes, 5 off-domain
    for i in range(10, 15):
        rows.append((i, "gene variant exon allele", False))
    for i in range(15, 20):
        rows.append((i, "truck gravel asphalt diesel", False))
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = smp.dsir_select(df, "doc_id", "text", F.col("is_t"), k=12).cache()
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 20
    # n_ngrams = n_tokens + (n_tokens - 1)
    assert got[10].n_ngrams == 4 + 3
    assert got[0].n_ngrams == 7 + 6
    in_dom = min(got[i].logw for i in range(10, 15))
    off_dom = max(got[i].logw for i in range(15, 20))
    assert in_dom > off_dom
    assert sum(1 for r in got.values() if r.selected) == 12
    # deterministic: a fresh plan reproduces every value bit-for-bit
    again = {r.doc_id: r for r in smp.dsir_select(
        df, "doc_id", "text", F.col("is_t"), k=12).collect()}
    for i, r in got.items():
        assert (r.logw, r.gumbel, r.select_key, r.selected) == (
            again[i].logw, again[i].gumbel, again[i].select_key,
            again[i].selected)
    out.unpersist()


def test_dsir_select_validation_and_degenerate(spark):
    df = spark.createDataFrame(
        [(1, "a b", True), (2, None, False)],
        "doc_id long, text string, is_t boolean",
    )
    with pytest.raises(ValueError, match="k must be"):
        smp.dsir_select(df, "doc_id", "text", F.col("is_t"), k=0)
    with pytest.raises(ValueError, match="alpha"):
        smp.dsir_select(df, "doc_id", "text", F.col("is_t"), k=1, alpha=0.0)
    # NULL text degrades to zero n-grams / logw 0.0, never a crash;
    # with k >= n every row is selected.
    got = {r.doc_id: r for r in smp.dsir_select(
        df, "doc_id", "text", F.col("is_t"), k=5).collect()}
    assert got[2].n_ngrams == 0 and got[2].logw == 0.0
    assert all(r.selected for r in got.values())


def test_quantile_buckets_grouped_planted(spark):
    """Per-group thirds on a planted distribution: each group's cut is
    independent (same score can land in different buckets per group);
    ties share a bucket; NULL scores get a NULL bucket; a NULL GROUP is
    a legal group (eqNullSafe offsets join); labels resolve."""
    from polars_mas_spark.functions.transforms import quantile_buckets

    rows = (
        # group a: 9 values 0..8 -> exact thirds [0,1,2],[3,4,5],[6,7,8]
        [(f"a{i}", "a", float(i)) for i in range(9)]
        # group b: 6 values 100..105 -> thirds of 2 each; note b's
        # minimum (100) far exceeds a's maximum — per-group cut, not
        # global
        + [(f"b{i}", "b", 100.0 + i) for i in range(6)]
        # group c: a 3-way tie straddling what would be the 1/3 cut of
        # 4 values -> all three share a bucket
        + [("c0", "c", 1.0), ("c1", "c", 2.0), ("c2", "c", 2.0),
           ("c3", "c", 2.0)]
        # NULL group with 3 values; NULL/NaN scores
        + [("n0", None, 5.0), ("n1", None, 6.0), ("n2", None, 7.0),
           ("x0", "a", None), ("x1", "b", float("nan"))]
    )
    df = spark.createDataFrame(rows, "id string, g string, score double")
    got = {
        r.id: (r.bucket, r.bucket_label)
        for r in quantile_buckets(
            df, "score", "g", n_buckets=3,
            labels=("head", "middle", "tail"), num_blocks=4,
        ).collect()
    }
    assert len(got) == len(rows)
    for i in range(9):
        assert got[f"a{i}"] == (i // 3, ("head", "middle", "tail")[i // 3])
    for i in range(6):
        assert got[f"b{i}"][0] == i // 2
    assert got["c0"][0] == 0 and len({got[f"c{i}"][0] for i in (1, 2, 3)}) == 1
    assert [got[f"n{i}"][0] for i in range(3)] == [0, 1, 2]
    assert got["x0"] == (None, None) and got["x1"] == (None, None)
    with pytest.raises(ValueError, match="labels"):
        quantile_buckets(df, "score", "g", n_buckets=3, labels=("a", "b"))
    with pytest.raises(ValueError, match="n_buckets"):
        quantile_buckets(df, "score", "g", n_buckets=0)
    # all-invalid short-circuit
    empty = spark.createDataFrame([(1, "a", None)], "id long, g string, score double")
    assert quantile_buckets(empty, "score", "g").collect()[0].bucket is None


def test_perplexity_thirds_planted(spark):
    """Planted corpus: per language, gibberish docs (trigrams the LM
    saw once) land in the tail, repeated-boilerplate docs in the head;
    short docs (<3 chars) get NULL buckets; thirds are balanced."""
    from polars_mas_spark.operators.text import perplexity_thirds

    common = "the cat sat on the mat and the dog sat on the log "
    rows = []
    for lang in ("en", "xx"):
        # 3 boilerplate docs (all trigrams frequent), 3 mid docs,
        # 3 rare-trigram docs per language
        for i in range(3):
            rows.append((f"{lang}_head{i}", lang, common * 4))
        for i in range(3):
            rows.append((f"{lang}_mid{i}", lang, common + f"zw{i}qx{i}vb"))
        for i in range(3):
            rows.append(
                (f"{lang}_tail{i}", lang,
                 f"q{i}zxj wvk{i}qp zzq{i} xqv jjw{i}kz qqx{i}")
            )
    rows.append(("short", "en", "ab"))
    rows.append(("nulltext", "en", None))
    df = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    got = {
        r.doc_id: r
        for r in perplexity_thirds(df, num_blocks=4).collect()
    }
    assert len(got) == len(rows)
    for lang in ("en", "xx"):
        for i in range(3):
            assert got[f"{lang}_head{i}"].bucket_label == "head", (
                lang, i, got[f"{lang}_head{i}"])
            assert got[f"{lang}_tail{i}"].bucket_label == "tail", (
                lang, i, got[f"{lang}_tail{i}"])
    assert got["short"].bucket is None and got["short"].n_trigrams == 0
    assert got["nulltext"].bucket is None
    # nll_q is the exact integer micro-nat sum: reproducible across runs
    again = {
        r.doc_id: r.nll_q
        for r in perplexity_thirds(df, num_blocks=4).collect()
    }
    assert again == {k: v.nll_q for k, v in got.items()}
