"""Deterministic hash-based sampling: reproducible corpus subsets,
stratified rates, and train/eval splits keyed on a stable id.

Why not ``df.sample()`` / ``rand()`` at 100 TB: Spark may recompute a
lost partition at any time, and a ``rand()``-derived sample resamples
*different rows* on recomputation — downstream joins against the sample
silently see a shifting row set. A hash-bucket sample is a pure
projection of the key: the same rows are selected on every
recomputation, every rerun, every engine (the DuckDB oracles compute
the identical bucket), and the filter is map-only — zero shuffle, fully
pushdown-friendly (Catalyst folds it into the scan's data filters).

Bucket function (engine-portable): the first 8 hex digits of
``md5(salt || cast(key as string))`` read as an integer, mod ``buckets``.
DuckDB mirror: ``('0x' || substring(md5(salt || CAST(k AS VARCHAR)),1,8))::BIGINT % buckets``.

The salt decorrelates independent samples drawn from the same keys
(e.g. a 10% eval split and a 1% debug sample must not nest).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_mas_spark.colutils import nonempty_words, qcol

DEFAULT_BUCKETS = 10_000


def _threshold(fraction: float, buckets: int) -> int:
    """floor(x + 0.5), NOT Python round(): banker's rounding diverges
    from SQL ROUND at .5 boundaries (round(12.5) = 12 in Python, 13 in
    SQL), and a diverging threshold means the Spark sample and its
    DuckDB oracle select DIFFERENT row sets — the exact cross-engine
    reproducibility this module exists to guarantee."""
    return int(math.floor(fraction * buckets + 0.5))


def md5_u32(key: Column, salt: str = "", null_sentinel: bool = True) -> Column:
    """THE engine-portable hash primitive shared by every deterministic
    sampler/digest in this engine: the first 8 hex digits of
    ``md5(salt || cast(key as string))`` as a BIGINT in [0, 2^32).
    Single definition on purpose — the cross-engine oracle parity story
    requires every consumer (hash_bucket, weighted_sample_n) to use
    byte-identical construction; DuckDB mirror:
    ``('0x' || substring(md5(...), 1, 8))::BIGINT``.
    ``null_sentinel`` hashes NULL as a \x01 sentinel; pass False when
    the caller guarantees/filters non-NULL keys and wants NULL to
    propagate."""
    ks = key.cast("string")
    if null_sentinel:
        ks = F.coalesce(ks, F.lit("\x01"))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), ks)), 1, 8), 16, 10
    ).cast("bigint")


def hash_bucket(key: Column, buckets: int = DEFAULT_BUCKETS, salt: str = "") -> Column:
    """Deterministic bucket in ``[0, buckets)`` from a key column.

    Stays entirely in whole-stage codegen (md5/conv/pmod are JVM
    built-ins); 8 hex digits = 32 bits of hash, so per-bucket rate error
    at 10k buckets is ~2^-18 — far below any sampling use case's noise.

    NULL keys bucket deterministically too (hashed as a NUL sentinel
    string): without the coalesce, md5(NULL)=NULL made every sampler
    silently DROP null-key rows while train_eval_split routed them all
    to 'train' — inconsistent and invisible. The DuckDB mirror is
    ``md5('salt' || coalesce(CAST(k AS VARCHAR), chr(1)))``.
    """
    return md5_u32(key, salt) % buckets


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Keep rows whose bucket falls below ``fraction`` of the bucket
    space. Same key ⇒ same verdict, forever — a document sampled into a
    training mix stays sampled when the corpus is re-run."""
    k = _threshold(fraction, buckets)
    return df.filter(hash_bucket(qcol(key_col), buckets, salt) < F.lit(k))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. downweight a crawl source,
    upweight curated text) as ONE map-only filter: the threshold is a
    when/otherwise ladder over the strata column, so there is no join,
    no shuffle, and unlisted strata fall back to ``default_fraction``.

    ``df.sampleBy`` offers the same semantics but via ``rand()`` —
    irreproducible under partition recomputation (module docstring).
    """
    thresh: Column = F.lit(_threshold(default_fraction, buckets))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            qcol(strata_col) == F.lit(value), F.lit(_threshold(frac, buckets))
        ).otherwise(thresh)
    return df.filter(hash_bucket(qcol(key_col), buckets, salt) < thresh)


def mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict[str, float],
    salt: str = "mix",
    buckets: int = DEFAULT_BUCKETS,
    counts: dict[str, int] | None = None,
) -> DataFrame:
    """Resample strata to a TARGET MIXTURE (domain weighting for a
    pretraining mix: "40% web, 30% code, 30% curated"): compute the
    largest output that honors the target proportions WITHOUT
    upsampling any stratum, derive each stratum's acceptance rate, and
    apply it as one deterministic hash filter. Strata not named in
    ``weights`` are excluded. A weighted stratum with NO rows in the
    data is skipped — it does not constrain the feasible total (the
    remaining strata keep their original relative weights, mirroring
    the SQL oracle's inner join of counts to weights); if no weighted
    stratum has any rows, this raises rather than silently returning
    an empty sample.

    The only non-map work is one tiny per-stratum count aggregation
    (rows = number of distinct strata — driver-safe at any corpus
    size); the sample itself is the same zero-shuffle bucket filter as
    ``stratified_sample``. Thresholds are integers computed as
    ``floor(x + 0.5)`` so an engine-portable oracle reproduces the
    exact row set. ``counts``: precomputed per-stratum row counts —
    pass them when the caller already aggregated them
    ([[temperature_mixture_sample]] does) to skip a second full-corpus
    count scan.
    """
    if counts is None:
        counts = {
            row[0]: row[1]
            for row in df.groupBy(qcol(strata_col)).count().collect()
        }
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError(
            "mixture_sample: weights must contain at least one positive "
            f"weight (got {dict(sorted(weights.items()))!r})"
        )
    shares = {s: w / total_w for s, w in weights.items()}
    # Largest total honoring every PRESENT stratum's share with the rows
    # it has. Absent strata are skipped (not treated as 0/share = 0,
    # which would zero out the whole mix).
    ratios = [
        counts[s] / share
        for s, share in shares.items()
        if share > 0 and counts.get(s, 0) > 0
    ]
    if not ratios:
        raise ValueError(
            "mixture_sample: no stratum named in `weights` has any rows "
            f"in the data (weights={sorted(weights)})"
        )
    feasible = min(ratios)
    thresh: Column = F.lit(0)
    for value, share in sorted(shares.items()):
        n = counts.get(value, 0)
        k = int(math.floor(share * feasible / n * buckets + 0.5)) if n else 0
        thresh = F.when(qcol(strata_col) == F.lit(value), F.lit(k)).otherwise(thresh)
    return df.filter(hash_bucket(qcol(key_col), buckets, salt) < thresh)


def sample_n_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    n: int,
    salt: str = "npg",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exactly ``min(n, group_size)`` rows per group, deterministically:
    rank each group's rows by ``(hash_bucket(key), key)`` and keep the
    first ``n`` — the "fixed eval slice per domain" sampler (a rate
    sampler can't promise exact counts; an unordered ``limit`` per
    group isn't stable across runs). Same key ⇒ same verdict until the
    group's membership changes near the boundary.

    One hash shuffle on the group; the per-group sort is bounded by the
    group's own size. NULL groups form their own group (window
    partitions treat NULL as a key, unlike equi-joins) — unlabeled rows
    get a deterministic slice too rather than vanishing."""
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    w = Window.partitionBy(qcol(group_col)).orderBy(
        hash_bucket(qcol(key_col), buckets, salt).asc(), qcol(key_col).asc()
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def temperature_mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    temperature: float,
    salt: str = "tmix",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Temperature-flattened domain mixture (the UniMax/multilingual-
    sampling shape): target shares proportional to ``count^(1/T)``
    instead of hand-picked weights — T = 1 reproduces the natural
    distribution exactly (every non-NULL-stratum row kept: the
    feasible total is the corpus itself), larger T flattens toward
    uniform, downsampling dominant domains toward the smallest one's
    scale. Rows with a NULL stratum are EXCLUDED at every temperature
    (mixture_sample's weight ladder cannot name NULL; assign unlabeled
    rows a sentinel domain upstream to keep them). Delegates to
    [[mixture_sample]]'s no-upsampling threshold machinery with the
    counts passed through, so the corpus is scanned once and the
    sample stays a zero-shuffle deterministic hash filter."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = {
        row[0]: row[1]
        for row in df.groupBy(qcol(strata_col)).count().collect()
    }
    weights = {
        s: float(n) ** (1.0 / temperature)
        for s, n in counts.items()
        if s is not None and n > 0
    }
    if not weights:
        raise ValueError(
            "temperature_mixture_sample: no non-NULL stratum has any rows"
        )
    return mixture_sample(
        df, key_col, strata_col, weights, salt, buckets, counts=counts
    )


def cap_tokens_per_source(
    df: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: int,
    order_col: str | None = None,
) -> DataFrame:
    """Cap each source at a token BUDGET: documents are admitted in
    ``order_col`` order (a stable id — deterministic, re-ingestion-safe)
    until the source's running token total passes the budget; the
    document that crosses the line is still admitted (budgets are
    targets, not hard container sizes), everything after it is cut.
    This is the per-domain data-budget allocation step of a pretraining
    mix — "at most N tokens of web, M of code" — downstream of rate
    sampling (``mixture_sample`` sets proportions, this sets absolute
    ceilings).

    ``order_col`` is REQUIRED: ordering the running sum by anything
    that is not unique per row within a source (in particular the
    source column itself, constant per window partition) would make
    the admitted row set depend on physical row order — a different
    answer per shuffle, breaking the determinism this operator exists
    to provide.

    One hash shuffle on the source column; the running sum is a
    partitioned window, so a hot source is bounded by its own row
    count. At extreme single-source skew, pre-aggregate candidates with
    [[deterministic_sample]] first to shrink the window input."""
    if order_col is None:
        raise ValueError(
            "cap_tokens_per_source requires order_col (a stable per-row "
            "id): without it the admission order — and therefore the "
            "returned row set — is nondeterministic."
        )
    order = qcol(order_col)
    w = (
        Window.partitionBy(qcol(source_col))
        .orderBy(order.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(qcol(tokens_col)).over(w), F.lit(0))
    return df.withColumn("__prior__", prior).filter(
        F.col("__prior__") < F.lit(budget)
    ).drop("__prior__")


def _valid_numeric(df: DataFrame, col: str):
    """Non-NULL (and non-NaN for float columns) predicate — a NaN
    weight would otherwise poison the per-block sums and crash the
    driver's int() offset conversion."""
    from pyspark.sql.types import DoubleType, FloatType

    valid = qcol(col).isNotNull()
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        valid = valid & ~F.isnan(qcol(col))
    return valid


def select_until_budget(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    budget: int,
    id_col: str,
    num_blocks: int | None = None,
) -> DataFrame:
    """GLOBAL quality-ranked budget selection: rank every row by
    ``(score desc, id asc)`` across the whole corpus and select the
    prefix whose inclusive running ``weight`` stays within ``budget`` —
    the "keep the best N-tokens' worth of documents" curation step that
    sits between per-source caps ([[cap_tokens_per_source]] allocates
    per domain) and packing (the budget here is the corpus-level token
    target of a training run).

    Returns all rows plus ``cum_weight`` (inclusive running weight in
    global rank order) and ``selected`` (cum_weight <= budget). With
    non-negative weights the running sum is monotone, so the selected
    set is exactly a prefix of the ranking — deterministic and
    engine-portable (one SQL window sum reproduces it). Negative
    weights RAISE at execution time: they would break the prefix
    property and silently turn the cut into a data-order lottery. Rows
    with NULL/NaN score or NULL/NaN weight are never selected and carry
    NULL cum_weight (they have no defined rank position). Weights are
    TOKEN COUNTS — integers: a fractional weight column works but its
    per-block subtotal is truncated toward zero at the block boundary
    offsets (cum_weight stays a BIGINT), so near-boundary rows may
    differ from the fractional one-window SQL; cast/round weights
    upstream if they are not already integral.

    Scale shape — the naive ``sum() over (order by score)`` funnels
    the corpus through ONE task; this is the same two-phase
    range-block pattern as functions.transforms.blom_fractions:
    ~equi-depth descending score blocks from one approxQuantile job,
    a tiny per-block weight aggregate -> driver prefix offsets, then a
    block-partitioned window. Blocks with offset > budget could even be
    dropped before the window at 100 TB; they are kept here because the
    report (selected + rejected with positions) is the useful output."""
    from polars_mas_spark.operators.fills import range_block_column

    _BB = "__pms_budget_block__"
    score, weight, key = qcol(score_col), qcol(weight_col), qcol(id_col)
    valid = _valid_numeric(df, score_col) & _valid_numeric(df, weight_col)
    vdf = df.filter(valid)

    block_expr, n_blocks = range_block_column(
        vdf, score_col, num_blocks
        or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        descending=True,
    )
    blocked = vdf.withColumn(_BB, block_expr).repartition(n_blocks, F.col(_BB))
    totals = {
        r[_BB]: r["w"]
        for r in blocked.groupBy(_BB).agg(F.sum(weight).alias("w")).collect()
    }
    offsets, running = [0] * n_blocks, 0
    for b in range(n_blocks):  # block 0 = highest scores (descending)
        offsets[b] = running
        running += totals.get(b, 0) or 0
    offset = F.element_at(
        F.array(*[F.lit(int(o)) for o in offsets]), F.col(_BB) + 1
    )

    checked_weight = F.when(
        weight < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"select_until_budget: negative {weight_col} for "
                    f"{id_col} "
                ),
                key.cast("string"),
                F.lit(" — weights must be >= 0 for a prefix cut to exist"),
            )
        ),
    ).otherwise(weight)
    w = (
        Window.partitionBy(_BB)
        .orderBy(score.desc(), key.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum(checked_weight).over(w) + offset).cast("long")
    out_valid = (
        blocked.withColumn("cum_weight", cum)
        .withColumn("selected", F.col("cum_weight") <= F.lit(int(budget)))
        .drop(_BB)
    )
    out_invalid = df.filter(~valid).withColumn(
        "cum_weight", F.lit(None).cast("long")
    ).withColumn("selected", F.lit(False))
    return out_valid.unionByName(out_invalid)


def select_top_fraction_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    weight_col: str,
    fraction: float,
    id_col: str,
) -> DataFrame:
    """PER-GROUP quality-ranked budget selection (the nucleus/top-p
    shape applied to data curation): within each group — typically a
    source/domain — rank rows by ``(score desc, id asc)`` and select
    the prefix whose inclusive running ``weight`` stays within
    ``fraction`` of the group's total weight. "Keep the best 30% of
    every domain's tokens" — quality pressure that cannot wipe out a
    whole (small or low-scoring) domain the way a single global cut
    ([[select_until_budget]]) can.

    Returns all rows plus ``cum_weight``, ``group_weight`` and
    ``selected``. Same contracts as the global variant: non-negative
    INTEGER weights (prefix property; fractional weights truncate at
    the BIGINT cum), rows with NULL/NaN score or weight — or a NULL
    group, which has no defined "its domain's total" — are reported
    unselected with NULL cum_weight, never silently dropped.
    Scale shape: one hash shuffle on the group for the window + one
    broadcast-joined per-group total — a group's rows bound the window
    partition, so a hot domain is bounded by its own size (pre-thin
    with [[deterministic_sample]] under extreme single-domain skew)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    score, weight, key = qcol(score_col), qcol(weight_col), qcol(id_col)
    grp = qcol(group_col)
    # NULL group rows would vanish in the inner totals join (NULL keys
    # never equi-match) instead of landing in either output branch —
    # route them to the unselected branch explicitly.
    valid = (
        _valid_numeric(df, score_col)
        & _valid_numeric(df, weight_col)
        & grp.isNotNull()
    )
    vdf = df.filter(valid)
    totals = vdf.groupBy(grp.alias(group_col)).agg(
        F.sum(weight).cast("long").alias("group_weight")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(score.desc(), key.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    checked_weight = F.when(
        weight < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"select_top_fraction_per_group: negative {weight_col} "
                    f"for {id_col} "
                ),
                key.cast("string"),
                F.lit(" — weights must be >= 0 for a prefix cut to exist"),
            )
        ),
    ).otherwise(weight)
    out_valid = (
        vdf.join(F.broadcast(totals), on=group_col)
        .withColumn("cum_weight", F.sum(checked_weight).over(w).cast("long"))
        .withColumn(
            "selected",
            F.col("cum_weight")
            <= F.floor(F.col("group_weight") * F.lit(float(fraction))),
        )
    )
    out_invalid = (
        df.filter(~valid)
        .withColumn("group_weight", F.lit(None).cast("long"))
        .withColumn("cum_weight", F.lit(None).cast("long"))
        .withColumn("selected", F.lit(False))
    )
    return out_valid.unionByName(out_invalid)


def train_eval_split(
    df: DataFrame,
    key_col: str,
    eval_fraction: float = 0.01,
    salt: str = "split",
    buckets: int = DEFAULT_BUCKETS,
    out_col: str = "split",
) -> DataFrame:
    """Label every row ``train``/``eval`` by key hash. Keyed assignment
    means the split survives corpus re-ingestion: a document never
    migrates between sides, which is the property that keeps eval sets
    uncontaminated across pipeline versions."""
    k = _threshold(eval_fraction, buckets)
    b = hash_bucket(qcol(key_col), buckets, salt)
    return df.withColumn(
        out_col, F.when(b < F.lit(k), F.lit("eval")).otherwise(F.lit("train"))
    )


def weighted_sample_n(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``n`` rows:
    inclusion probability proportional to ``weight_col`` (Efraimidis &
    Spirtakis 2006 exponential-jitter keys — the standard one-pass
    distributed weighted reservoir). The uniform draw is the same
    engine-portable md5 construction as :func:`hash_bucket`, so the
    sample is a pure function of (key, salt): stable under partition
    recomputation, reruns, and engines (the DuckDB oracle replays it).

    Rank key: ``ln(u)/w`` taken LARGEST first (monotone with the
    textbook ``u^(1/w)``; log form avoids pow-overflow for tiny
    weights). Top-n is a TakeOrderedAndProject — per-partition heaps
    merged on the driver, no global sort, so this scales as a map-only
    pass + n-row merge. Rows with NULL/NaN/non-positive weight are
    excluded (a zero weight means "never sample me"; documented
    contract, same NULL philosophy as select_until_budget).

    CONTRACT: ``key_col`` must uniquely identify rows — it is the
    sampling unit. Duplicate keys share one jitter draw and an
    identical tiebreak, so which duplicates cross the selection
    boundary is unspecified (and may vary across partitionings);
    de-duplicate or synthesize a unique key first."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    w = qcol(weight_col).cast("double")
    # 32-bit md5 prefix -> u in (0,1): (h + 0.5) / 2^32 never hits 0 or
    # 1, so ln(u) is always finite.
    h = md5_u32(qcol(key_col), salt, null_sentinel=False).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    rank_key = F.log(u) / w
    eligible = df.filter(
        qcol(key_col).isNotNull() & _valid_numeric(df, weight_col) & (w > 0)
    )
    return (
        eligible.withColumn("__es_key__", rank_key)
        .orderBy(F.col("__es_key__").desc(), qcol(key_col).asc())
        .limit(n)
        .drop("__es_key__")
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    boundary,
    embargo_seconds: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe TIME-based train/test split: rows strictly before
    ``boundary - embargo`` are 'train', rows at/after ``boundary`` are
    'test', and the embargo window between them is quarantined as
    'embargo' (dropped by convention) — the purge gap that stops
    look-ahead leakage when features aggregate trailing windows (a
    train row whose rolling feature reaches into test time would
    otherwise leak labels backwards). NULL timestamps get their own
    'unknown' verdict rather than silently joining a side.

    Map-only (a pure projection — no shuffle, no state); ``boundary``
    is anything Spark can cast to timestamp (string or datetime)."""
    if embargo_seconds < 0:
        raise ValueError("embargo_seconds must be >= 0")
    ts = qcol(ts_col)
    b = F.lit(boundary).cast("timestamp")
    train_end = b.cast("long") - F.lit(int(embargo_seconds))
    verdict = (
        F.when(ts.isNull(), "unknown")
        .when(ts.cast("long") < train_end, "train")
        .when(ts >= b, "test")
        .otherwise("embargo")
    )
    return df.withColumn(out_col, verdict)


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    k: int,
    n_buckets: int = 256,
    alpha: float = 0.5,
    salt: str = "dsir",
    gumbel_salt: str = "dsir-g",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.,
    NeurIPS 2023): pick the ``k`` raw documents whose hashed-n-gram
    profile looks most like a target domain, by importance weight
    under two bag-of-n-grams bucket distributions.

    1. Featurize every document into word unigrams + bigrams, hashed
       into ``n_buckets`` portable md5 buckets (sampling.hash_bucket —
       the engine-portable primitive every sampler here shares).
    2. Fit two bucket distributions in ONE tiny aggregate over the
       exploded (doc, bucket) pairs: the target slice (rows where
       ``target`` is true — e.g. a trusted in-domain subset) and the
       raw corpus. Both get add-``alpha`` smoothing.
    3. Per-document importance weight: ``logw = sum over n-gram
       occurrences of ln(p_target[b] / p_raw[b])``. Each bucket's
       log-ratio is quantized to 6 decimals BEFORE the per-doc sum, so
       the document sum is a sum of identical doubles on both engines
       and its final round never sits on a .5e-6 boundary (sums of
       1e-6 multiples stay on the 1e-6 grid — the quotient-rounding
       trap cannot fire).
    4. Gumbel top-k resampling: ``select_key = logw + gumbel`` where
       the Gumbel noise is a pure hash of the id
       (``-ln(-ln(u))``, u = (md5_u32(id)+1)/2^32+1) — reproducible
       across reruns, recomputes, and engines, unlike ``rand()``.
       The top ``k`` keys (ties broken by id) are flagged selected.

    Returns one row per input document: ``doc_id, n_ngrams, logw,
    gumbel, select_key, selected``.

    Scale shape: two passes over the corpus n-grams (fit + score), both
    plain two-phase hash aggregates; the bucket table is ``n_buckets``
    rows broadcast back; the totals enter as a broadcast 1-row
    crossJoin, NOT an eager count (text.tf_idf precedent); the top-k is
    a TakeOrderedAndProject (never a single-task global window) whose k
    ids broadcast-join the flag back. No Python in the plan, no
    collect() on data-sized results."""
    from polars_mas_spark.colutils import stage_columns

    if k <= 0:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not alpha > 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    text = F.lower(F.coalesce(qcol(text_col).cast("string"), F.lit("")))
    toks = nonempty_words(text)
    base = stage_columns(
        df.select(
            qcol(id_col).alias("doc_id"),
            F.coalesce(target, F.lit(False)).alias("__t__"),
            qcol(text_col),
        ),
        __toks__=toks,
    )
    tk = F.col("__toks__")
    n = F.size(tk)
    empty = F.array().cast("array<string>")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat(
                F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(empty)
    grams = F.concat(tk, bigrams)
    staged = stage_columns(base, __grams__=grams)
    ex = staged.select(
        "doc_id",
        "__t__",
        F.explode(
            F.transform(
                F.col("__grams__"), lambda g: hash_bucket(g, n_buckets, salt)
            )
        ).alias("bk"),
    )

    stats = ex.groupBy("bk").agg(
        F.sum(F.when(F.col("__t__"), 1).otherwise(0)).cast("bigint").alias("c_t"),
        F.count(F.lit(1)).cast("bigint").alias("c_r"),
    )
    tot = stats.agg(
        F.sum("c_t").cast("bigint").alias("n_t"),
        F.sum("c_r").cast("bigint").alias("n_r"),
    )
    am = float(alpha) * n_buckets
    a = float(alpha)
    lr_df = stats.crossJoin(F.broadcast(tot)).select(
        "bk",
        (
            F.round(
                F.log(F.col("c_t") + F.lit(a))
                - F.log(F.col("n_t") + F.lit(am))
                - F.log(F.col("c_r") + F.lit(a))
                + F.log(F.col("n_r") + F.lit(am)),
                6,
            )
            + F.lit(0.0)
        ).alias("lr"),
    )
    scored = (
        ex.join(F.broadcast(lr_df), "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum("lr").alias("__raw__"),
        )
    )

    u = (md5_u32(F.col("doc_id"), gumbel_salt) + F.lit(1)).cast("double") / F.lit(
        4294967297.0
    )
    gumbel = F.round(-F.log(-F.log(u)), 6) + F.lit(0.0)
    out = (
        base.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_ngrams"), F.lit(0).cast("bigint")).alias(
                "n_ngrams"
            ),
            (F.round(F.coalesce(F.col("__raw__"), F.lit(0.0)), 6) + F.lit(0.0)).alias(
                "logw"
            ),
            gumbel.alias("gumbel"),
        )
        .withColumn("select_key", F.col("logw") + F.col("gumbel"))
    )
    # Break lineage before the two downstream consumers: the top-k
    # subplan AND the final flag join each reference `out`, and without
    # the checkpoint Catalyst re-derives the whole n-gram explode +
    # scoring aggregate once per branch — doubling the most expensive
    # stage (dedup_cascade precedent). The frame is corpus-sized but
    # narrow (id + four doubles).
    out = out.localCheckpoint(eager=True)
    topk = (
        out.orderBy(F.col("select_key").desc(), F.col("doc_id").asc())
        .limit(int(k))
        .select("doc_id", F.lit(True).alias("selected"))
    )
    return out.join(F.broadcast(topk), "doc_id", "left").withColumn(
        "selected", F.coalesce(F.col("selected"), F.lit(False))
    )
