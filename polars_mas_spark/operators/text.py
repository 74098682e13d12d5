"""Text analysis operators: quality and repetition signals,
decontamination, document fingerprinting, lexical retrieval.

Beyond-reference surface for the training-data pipeline. Everything is
built from replace/length/split/regexp built-ins so it stays inside
whole-stage codegen AND is reproducible in ANSI SQL for the DuckDB
oracle (stopword counting uses the replace-length trick instead of
engine-specific regex counting).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_mas_spark.colutils import nonempty_words, qcol, stage_columns

STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def occurrence_count(col: Column, needle: str) -> Column:
    """# of occurrences of a literal substring, via the replace-length
    trick (portable across Spark and DuckDB, stays in codegen)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    duplicate-word fraction, most-frequent-word fraction and
    most-frequent-bigram fraction per document.

    Computed entirely ROW-LOCAL with higher-order array functions — a
    map-only plan with zero shuffles, the best possible 100 TB shape for
    per-document signals (contrast an explode + groupBy(doc, gram)
    formulation, which shuffles every token). The distinct-gram count
    loop is O(distinct x total) per document; for book-length outliers
    cap the scan with a substring, or fall back to the explode path."""
    text = qcol(text_col)
    # Generate-boundary staging (colutils.stage_columns): the word and
    # bigram arrays are referenced inside the distinct-gram count
    # lambdas, where a collapsed projection would re-split the document
    # once per distinct gram — measured 7x on sf0.1 documents.
    staged = stage_columns(
        df.select(qcol(id_col).alias("doc_id"), text.alias("__t__")),
        __words__=nonempty_words(F.col("__t__"), lowercase=True),
    ).drop("__t__")
    w = F.col("__words__")
    n_words = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    top_word = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda u: F.size(F.filter(w, lambda x: x == u)),
        )
    )
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_words - 1, F.lit(1))),
            lambda i: F.concat(
                F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = stage_columns(staged, __bigrams__=bigrams)
    bg = F.col("__bigrams__")
    n_bigrams = F.size(bg)
    top_bigram = F.array_max(
        F.transform(
            F.array_distinct(bg),
            lambda u: F.size(F.filter(bg, lambda x: x == u)),
        )
    )
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            F.when(
                n_words > 0,
                1.0 - n_distinct.cast("double") / n_words,
            ).otherwise(0.0),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(
                n_words > 0, top_word.cast("double") / n_words
            ).otherwise(0.0),
            6,
        ).alias("top_word_frac"),
        F.round(
            F.when(
                n_bigrams > 0, top_bigram.cast("double") / n_bigrams
            ).otherwise(0.0),
            6,
        ).alias("top_bigram_frac"),
    )


# (pattern, replacement) in application order; patterns restricted to
# syntax that Java regex and RE2 (DuckDB) interpret identically so the
# SQL oracle reproduces the scrub byte-for-byte.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?[0-9][0-9 .-]{7,}[0-9]", "<PHONE>"),
]


# Engine-portable strip classes (explicit code ranges behave identically
# in Java regex and RE2, unlike named \p{Cntrl}/\p{Cc} whose sets differ):
# C0 controls minus \t\n\r, DEL, and the zero-width Cf characters
# (ZWSP/ZWNJ/ZWJ/BOM) that survive NFC and corrupt tokenization.
_CTRL_RANGES: tuple[tuple[int, int], ...] = (
    (0x00, 0x08), (0x0B, 0x0C), (0x0E, 0x1F), (0x7F, 0x7F),
    (0x200B, 0x200D), (0xFEFF, 0xFEFF),
)


def _ctrl_class(esc) -> str:
    parts = []
    for lo, hi in _CTRL_RANGES:
        parts.append(esc(lo) if lo == hi else f"{esc(lo)}-{esc(hi)}")
    return "[" + "".join(parts) + "]"


_CTRL_JAVA = _ctrl_class(
    lambda cp: f"\\x{cp:02X}" if cp <= 0xFF else f"\\u{cp:04X}"
)


def unicode_normalize_col(text, form: str = "NFC"):
    """COLUMN form of [[unicode_normalize]] — the one normalize+strip
    implementation behind the batch operator: NFC/NFKC/NFD/NFKD via the
    Arrow-batched pandas UDF (NULL -> ''), then the explicit code-range
    strip."""
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.fillna("").str.normalize(form)

    return F.regexp_replace(_norm(text), _CTRL_JAVA, "")


def unicode_normalize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    out_col: str = "text_norm",
) -> DataFrame:
    """Unicode normalization + non-printing strip — the CCNet-style
    cleanup at the head of a crawl pipeline (Wenzek et al. 2020 §3.1
    normalize before everything else): canonicalize combining
    sequences to ``form`` (NFC/NFKC/NFD/NFKD) so 'e'+U+0301 and U+00E9
    dedup/tokenize identically, then delete C0 controls (keeping tab/
    newline/CR), DEL, and zero-width Cf characters (ZWSP/ZWNJ/ZWJ/BOM —
    they survive normalization and silently split tokens).

    Returns ``(id, out_col, changed, n_chars_norm)`` for every row;
    NULL text normalizes to ``''`` (the decoder/scorer contract).

    This is the repo's documented SLOW-PATH exception: Spark has no
    JVM Unicode normalizer, so the normalize step is an Arrow-batched
    pandas UDF over pandas' vectorized ``Series.str.normalize`` — one
    map-only pass, no shuffle, ~batch-sized Python cost; the strip is
    a JVM regexp with an EXPLICIT code-range class (identical
    semantics in Java regex and DuckDB's RE2, so the oracle replays
    the strip natively and the NFC step via ``nfc_normalize``)."""
    raw = F.coalesce(qcol(text_col), F.lit(""))
    staged = stage_columns(
        df.select(qcol(id_col).alias("doc_id"), raw.alias("__raw__")),
        **{out_col: unicode_normalize_col(F.col("__raw__"), form)},
    )
    return staged.select(
        "doc_id",
        out_col,
        (F.col(out_col) != F.col("__raw__")).alias("changed"),
        F.length(out_col).cast("bigint").alias("n_chars_norm"),
    )


def pii_scrub(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Mask email addresses, URLs and phone-number-shaped digit runs —
    the masking pass every training-data pipeline runs before a corpus
    leaves curation. Pure regexp_replace chain: row-local, map-only,
    stays in whole-stage codegen."""
    col = qcol(text_col)
    for pat, rep in PII_PATTERNS:
        col = F.regexp_replace(col, pat, rep)
    return df.withColumn(out_col or text_col, col)


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    keep_lang: str = "en",
    min_words: int = 20,
    max_words: int = 50_000,
    min_stopword_ratio: float = 0.01,
    max_dup_word_frac: float = 0.9,
) -> DataFrame:
    """FineWeb/C4-style document filter chain: language, length band,
    stopword floor, repetition ceiling. Returns one row per document
    with each rule's verdict and the final ``kept`` flag — keeping the
    per-rule flags is deliberate (corpus curation wants removal-reason
    histograms, not just the survivor set). Map-only plan."""
    text = qcol(text_col)
    words = nonempty_words(text, lowercase=True)
    staged = df.select(
        qcol(id_col).alias("doc_id"),
        *( [qcol(lang_col).alias("__lang__")] if lang_col else [F.lit(keep_lang).alias("__lang__")] ),
        words.alias("__words__"),
        _padded(text).alias("__padded__"),
    )
    w = F.col("__words__")
    n_words = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    stop_hits = sum(
        occurrence_count(F.col("__padded__"), f" {s} ") for s in STOPWORDS_EN
    )
    stopword_ratio = F.when(
        n_words > 0, stop_hits.cast("double") / n_words
    ).otherwise(0.0)
    dup_word_frac = F.when(
        n_words > 0, 1.0 - n_distinct.cast("double") / n_words
    ).otherwise(0.0)
    lang_ok = F.col("__lang__") == keep_lang
    len_ok = (n_words >= min_words) & (n_words <= max_words)
    stop_ok = stopword_ratio >= min_stopword_ratio
    rep_ok = dup_word_frac <= max_dup_word_frac
    return staged.select(
        "doc_id",
        lang_ok.alias("lang_ok"),
        len_ok.alias("len_ok"),
        stop_ok.alias("stop_ok"),
        rep_ok.alias("rep_ok"),
        (lang_ok & len_ok & stop_ok & rep_ok).alias("kept"),
    )


def token_histogram(df: DataFrame, text_col: str, top_n: int = 100) -> DataFrame:
    """Corpus-wide token frequency top-N (the vocabulary report every
    tokenizer-training / corpus-QA run starts from). Explode -> ONE
    hash aggregation with map-side combine (each task pre-counts its
    tokens, so the shuffle carries one row per distinct token per task,
    not one per occurrence) -> global top-N via a single-partition sort
    of the aggregated (tiny) table. Ties break lexicographically for
    determinism."""
    toks = df.select(
        F.explode(
            nonempty_words(qcol(text_col), lowercase=True)
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(top_n)
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, scikit-learn's smooth_idf). Term
    frequencies explode once and aggregate per (doc, token); document
    frequencies aggregate from the SAME (doc, token) table (one
    additional shuffle over distinct doc-token pairs, not occurrences);
    the idf join is on the token-level aggregate. Per-doc top-k is a
    bounded window. Ties -> lexicographic token order. The corpus size
    N enters as a broadcast 1-row crossJoin, NOT an eager count() —
    the whole report stays one lazy plan with no extra action."""
    n_df = df.agg(F.count("*").alias("__N__"))
    tf = (
        df.select(
            qcol(id_col).alias("doc_id"),
            F.explode(
                nonempty_words(qcol(text_col), lowercase=True)
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_df)).select(
        "token",
        (
            F.log((F.col("__N__") + 1).cast("double") / (F.col("df") + 1)) + 1.0
        ).alias("idf"),
    )
    scored = tf.join(idf, on="token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .drop("rank")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Train-test contamination check (the n-gram-overlap test every
    LLM data pipeline runs before shipping a corpus): for each corpus
    document, how many of its distinct word n-grams also appear in the
    benchmark set, plus its own n-gram count for an overlap fraction.

    Shape: both sides reduce to distinct (doc, shingle) via
    ``word_shingles``; the benchmark side collapses to a DISTINCT
    shingle set (tiny relative to the corpus — benchmarks are small by
    definition) and is BROADCAST, so the corpus side never shuffles;
    the per-doc overlap count is one map-side-combined aggregation.
    Returns (doc_id, n_grams, n_contaminated, contamination_frac)."""
    from polars_mas_spark.operators.dedup import word_shingles

    corpus_sh = word_shingles(corpus, id_col, text_col, n)
    bench_sh = (
        word_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    flagged = corpus_sh.join(
        F.broadcast(bench_sh.withColumn("__hit__", F.lit(1))),
        on="shingle",
        how="left",
    )
    grouped = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).alias("n_contaminated"),
    )
    # Documents shorter than n words have no shingles and would vanish
    # from the groupBy — report them explicitly as (0, 0, 0.0) so "for
    # each corpus document" actually holds and downstream joins/averages
    # don't silently lose short documents. The report-sized left join is
    # on the doc list, not the shingle table.
    ids = corpus.select(qcol(id_col).alias("doc_id"))
    return ids.join(grouped, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        F.coalesce(
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams"), 6
            ),
            F.lit(0.0),
        ).alias("contamination_frac"),
    )


def _ngram_stream(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The FULL-multiplicity word n-gram occurrence stream (one row per
    occurrence — unlike [[dedup.word_shingles]]' per-doc distinct set),
    same tokenization (lowercase, empty tokens dropped) and same
    Generate-boundary staging. Map-only."""
    staged = stage_columns(
        df.select(qcol(text_col).alias("__t__")),
        __toks__=nonempty_words(F.col("__t__"), lowercase=True),
    )
    toks = F.col("__toks__")
    # Explicit size guard (the span-window idiom), not a
    # bare greatest() clamp: size(NULL) is NULL and F.greatest skips
    # NULL operands (CLAUDE.md) — without the guard a NULL/short text
    # emits a window that only the trailing n-word filter catches.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select(F.explode(grams).alias("ngram")).filter(
        F.size(F.split(F.col("ngram"), " ")) == n
    )


def heavy_hitter_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int | None = None,
    min_frac: float | None = None,
) -> DataFrame:
    """EXACT corpus-wide heavy-hitter word n-grams: every n-gram whose
    total occurrence count reaches the threshold, with its exact count
    — the boilerplate-mining query (cookie banners, navigation chrome,
    license headers) LLM curation runs before writing removal rules.
    Exactly one of ``min_count`` (absolute) / ``min_frac`` (fraction of
    the occurrence stream; threshold = ceil(min_frac * total)).

    Scale shape — the naive ``groupBy(ngram).count()`` shuffles the
    ENTIRE distinct n-gram space (trillions of mostly-singleton keys
    at 100 TB: partial aggregation can't combine singletons, so ~the
    whole stream hits the wire). Instead: (1) one map-side count of
    the stream (no n-gram ever shuffles); (2) a Misra-Gries/Karp
    sketch pass (``DataFrame.freqItems``, JVM treeAggregate of
    per-partition capped maps — guaranteed SUPERSET of every item with
    frequency above the support) proposes candidates; (3) exact
    confirmation counts ONLY candidate occurrences (broadcast
    semi-join routes the stream map-side, then one small aggregation).
    The sketch can over-propose but never miss, and the exact filter
    decides — so the output equals the naive plan's exactly, and a
    plain SQL replay oracles it.

    ``min_frac`` is the scale-free contract (>= 2e-4: freqItems'
    support floor is 1e-4 and the sketch map is ~1/support entries per
    merge): "boilerplate" is a frequency statement, and the sketch
    stays feasible at ANY corpus size. An absolute ``min_count`` whose
    implied support falls below the floor voids the superset guarantee
    — there the operator falls back to the exact groupBy, which at
    that threshold (a huge heavy set) is the honest plan. Crossover,
    measured (SCALING.md r12): at fixture scale (272k distinct keys)
    the naive single shuffle beats the sketch's 3 scans ~2x — the
    sketch buys away shuffle BYTES with map CPU, and wins only when
    the distinct space is the bottleneck.

    Returns (ngram, cnt), cnt exact."""
    if (min_count is None) == (min_frac is None):
        raise ValueError("pass exactly one of min_count / min_frac")
    if min_frac is not None and not (2e-4 <= min_frac <= 1.0):
        raise ValueError(f"min_frac must be in [2e-4, 1], got {min_frac}")
    if min_count is not None and min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    stream = _ngram_stream(df, text_col, n)
    total = stream.count()
    if min_frac is not None:
        # ceil(min_frac * total) via exact integer arithmetic (min_frac
        # scaled to an integer/1e9 ratio) so an oracle can replay the
        # threshold bit-identically.
        num = int(round(min_frac * 10**9))
        min_count = max(1, -((-num * total) // 10**9))
    if total == 0 or min_count > total:
        return df.sparkSession.createDataFrame([], "ngram string, cnt bigint")
    support = (min_count - 0.5) / total
    if support < 1e-4:
        # Below the sketch's support floor: superset guarantee is void;
        # the exact aggregate is the honest plan.
        return (
            stream.groupBy("ngram")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= min_count)
        )
    spark = df.sparkSession
    cands = stream.freqItems(["ngram"], support=float(support)).collect()[0][0]
    if not cands:
        return spark.createDataFrame([], "ngram string, cnt bigint")
    cand_df = spark.createDataFrame([(c,) for c in cands], "ngram string")
    return (
        stream.join(F.broadcast(cand_df), on="ngram", how="left_semi")
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def decontaminate_cascade(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    span_k: int = 8,
    ngram_n: int = 3,
    ngram_threshold: float = 0.5,
    corpus_vectors: DataFrame | None = None,
    benchmark_vectors: DataFrame | None = None,
    cos_threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The decontamination twin of ``dedup.dedup_cascade`` (r11): one
    verdict row per corpus document naming the FIRST channel that
    flags it as benchmark leakage, precision-first —

    - ``'span'``: the document contains a VERBATIM stride-1
      ``span_k``-word window of the benchmark (the
      [[span_decontaminate]] channel; here only the any-hit flag is
      needed, so the scrub/reassembly stage is skipped — one md5
      semi-join on the window fingerprints).
    - ``'ngram'``: >= ``ngram_threshold`` of the document's distinct
      word ``ngram_n``-grams appear in the benchmark
      ([[ngram_contamination]]'s fuzzy-overlap channel — catches
      shuffled/partial copies with no long verbatim window).
    - ``'semantic'``: within cosine ``cos_threshold`` of a benchmark
      item in embedding space ([[semantic_decontaminate]]'s paraphrase
      channel — catches what neither text channel can see). Runs only
      when both vector tables are supplied; a document with no vector
      row bypasses (no embedding, no semantic key).
    - ``'clean'``: none of the above.

    Verdict precedence is cheapest- and highest-precision-first (the
    dedup_cascade ordering). The two text channels are per-doc
    properties against broadcast benchmark sets, so they are computed
    over the full corpus and precedence is resolved on the tiny hit-id
    sets (identical verdicts to survivors-scoping, with no full-text
    materialization between stages — r12); the corpus-dependent
    semantic channel still sees exactly the text-stage survivor set.
    localCheckpoint bounds lineage at each hit set. NULL ids raise
    (verdict rows need a key); NULL/short texts produce no windows or
    shingles and flow through the text stages as clean.

    Scale shape: the benchmark side of every stage is DISTINCT reduced
    keys or a broadcast probe set (window fingerprints, shingle set,
    exploded IVF probes) — corpus text shuffles only for the per-doc
    shingle aggregate; corpus embeddings never shuffle at all (see
    semantic_decontaminate)."""
    from polars_mas_spark.operators.dedup import (
        _span_window_fingerprints,
        span_fingerprints,
    )

    checked_id = F.when(
        qcol(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"decontaminate_cascade: NULL {id_col} — every document "
                "needs a stable id for verdict attribution"
            )
        ),
    ).otherwise(qcol(id_col))
    cur = corpus.select(
        checked_id.alias("doc_id"), qcol(text_col).alias("__t__")
    )
    # ngram_contamination/word_shingles resolve (id_col, text_col) on
    # BOTH frames, so the benchmark takes the same internal shape.
    bench = benchmark.select(
        qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__")
    )
    pieces = []

    fset = span_fingerprints(bench, "__t__", span_k)
    _, gpos = _span_window_fingerprints(
        cur, "doc_id", "__t__", span_k, "decontaminate_cascade"
    )
    # Each stage's hit set is checkpointed like sem_hit below (r12):
    # it has TWO consumers — the verdict union piece and the survivor
    # anti-join — and only the survivor side was truncated, so the
    # final verdict job re-ran the heavy channel subtree (window md5
    # fingerprints / shingle aggregate) a second time. The hit sets
    # are contaminated ids only — tiny at any scale.
    span_hit = (
        gpos.join(F.broadcast(fset), on="g", how="semi")
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    pieces.append(span_hit.select("doc_id", F.lit("span").alias("stage")))

    # The text channels are PER-DOC properties (a document is span-hit /
    # ngram-hit against the broadcast benchmark sets regardless of what
    # other corpus docs exist), so the ngram channel runs over the FULL
    # corpus and the span precedence is applied on the tiny hit-id sets
    # afterwards — identical verdicts (r12, guide §5): the old
    # survivors-scoped shape forced TWO eager checkpoints of the full
    # survivor TEXT between stages; now nothing wider than an id set is
    # ever materialized, and the survivor frame the (corpus-dependent)
    # semantic stage sees is the same id set as before.
    ngram_hit_full = (
        ngram_contamination(cur, bench, "doc_id", "__t__", n=ngram_n)
        .filter(F.col("contamination_frac") >= float(ngram_threshold))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    pieces.append(
        ngram_hit_full.join(span_hit, on="doc_id", how="left_anti").select(
            "doc_id", F.lit("ngram").alias("stage")
        )
    )
    cur = (
        cur.select("doc_id")
        .join(span_hit, on="doc_id", how="left_anti")
        .join(ngram_hit_full, on="doc_id", how="left_anti")
    )

    if (corpus_vectors is None) != (benchmark_vectors is None):
        # Loud guard (review r11): one-sided vectors would silently
        # skip the semantic channel and mark paraphrase leakage 'clean'.
        raise ValueError(
            "decontaminate_cascade: corpus_vectors and benchmark_vectors "
            "must be supplied together (got exactly one) — the semantic "
            "channel cannot run one-sided"
        )
    if corpus_vectors is not None and benchmark_vectors is not None:
        from polars_mas_spark.operators.similarity import (
            semantic_decontaminate,
        )

        from polars_mas_spark.staging import materialize_stage

        surv_vecs = corpus_vectors.select(
            qcol(vec_id_col).alias("doc_id"), qcol(vec_col).alias("__v__")
        ).join(cur.select("doc_id"), on="doc_id", how="left_semi")
        # Materialize the survivor-vector table ONCE (r13, VERDICT r12
        # #7): semantic_decontaminate consumes its corpus in THREE
        # driver actions (k-means seed TakeOrdered, the Lloyd means
        # aggregate, the final bucketed scoring job) and each replayed
        # this semi-join subtree — ~4 AQE stage-jobs per replay at the
        # ~0.3-1 s/job driver-latency floor. Size-gated like every
        # corpus-width stage (staging.materialize_stage).
        surv_vecs = materialize_stage(surv_vecs, "survivor vectors")
        sem_hit = semantic_decontaminate(
            surv_vecs,
            benchmark_vectors.select(
                qcol(vec_id_col).alias("bench_id"), qcol(vec_col).alias("__v__")
            ),
            threshold=cos_threshold,
            n_centroids=n_centroids,
            n_probe=n_probe,
            id_col="doc_id",
            vec_col="__v__",
        ).select("doc_id").localCheckpoint(eager=True)
        # (checkpointed: consumed by both the verdict piece and the
        # clean-survivor anti-join — review r11, same rationale as the
        # other stage boundaries)
        pieces.append(
            sem_hit.select("doc_id", F.lit("semantic").alias("stage"))
        )
        cur = cur.join(sem_hit, on="doc_id", how="left_anti")

    pieces.append(
        cur.select("doc_id", F.lit("clean").alias("stage"))
    )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS-style substring-overlap pairs: documents sharing >=
    ``min_shared`` winnowing fingerprints (i.e. sharing long character
    substrings regardless of position). The explode -> bucket self-join
    -> pair-count shape is the standard collision detector; buckets on
    COMMON substrings go quadratic, so ``max_df`` drops fingerprints
    appearing in more than that many documents (the stop-gram filter
    every plagiarism/near-dup system applies at corpus scale) before
    the join."""
    base = df.select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__"))
    fps = winnow_fingerprints(base, "__t__", k=k, window=window)
    # Materialize the exploded fingerprint table ONCE: it feeds both
    # sides of the self-join (and the max_df filter), and without
    # truncation each branch re-evaluates the md5-per-position
    # fingerprint expression — measured 35s -> 3s on 100 docs. The
    # table is tiny (a few fingerprints per document). Caveat shared
    # with the dedup CC loop: localCheckpoint blocks are executor-local
    # and unrecoverable, but the exposure window is this operator's own
    # job — a decommissioned executor fails the query loudly and a
    # retry rebuilds from source (nothing checkpointed is returned).
    ex = fps.select(
        "doc_id", F.explode("fingerprints").alias("f")
    ).localCheckpoint(eager=True)
    if max_df is not None:
        keep = (
            ex.groupBy("f")
            .agg(F.count("*").alias("__df__"))
            .filter(F.col("__df__") <= max_df)
            .select("f")
        )
        ex = ex.join(keep, on="f", how="left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def corpus_source_stats(
    df: DataFrame, source_col: str, text_col: str, lang_col: str | None = None
) -> DataFrame:
    """Per-source corpus report: document count, char-volume stats and
    language spread — the first dashboard any crawl-scale curation run
    produces. One hash aggregation with map-side combine; distinct
    language counting is exact (per-source cardinalities are tiny even
    when the corpus is not)."""
    text = qcol(text_col)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.length(text)).alias("total_chars"),
        F.round(F.avg(F.length(text)), 6).alias("avg_chars"),
        F.min(F.length(text)).alias("min_chars"),
        F.max(F.length(text)).alias("max_chars"),
    ]
    if lang_col:
        aggs.append(F.countDistinct(qcol(lang_col)).alias("n_langs"))
    return df.groupBy(qcol(source_col).alias("source")).agg(*aggs)


def passage_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_words: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping word-window passages (context
    preparation for retrieval / embedding indexing): passage *i* starts
    at word ``i * (max_words - overlap)`` and spans up to ``max_words``
    words, so consecutive passages share ``overlap`` words. Emits
    ``(doc_id, passage_idx, passage, n_words)``; empty documents emit
    nothing.

    Entirely map-side: the word array, the start-position sequence, the
    per-start slice and the explode are all JVM array expressions — no
    shuffle, no UDF, linear in corpus tokens, so at 100 TB this operator
    is bounded by the parquet scan."""
    if overlap >= max_words:
        raise ValueError("overlap must be smaller than max_words")
    stride = max_words - overlap
    words = nonempty_words(qcol(text_col))
    n = F.size(words)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    # Drop trailing starts whose window is fully contained in the
    # previous passage (the previous window already reaches the last
    # word): without this, a doc of exactly max_words words emits a
    # second passage that is a strict subset of the first, duplicating
    # content in retrieval/embedding indexes.
    starts = F.filter(
        starts, lambda s: (s == 1) | (s - stride + max_words <= n)
    )
    items = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.array_join(F.slice(words, s, max_words), " ").alias("passage"),
        ),
    )
    out = df.select(
        qcol(id_col).alias("doc_id"),
        n.alias("__n__"),
        F.posexplode(items).alias("passage_idx", "p"),
    )
    n_words = F.least(
        F.lit(max_words), F.col("__n__") - (F.col("p.start") - F.lit(1))
    )
    return out.select(
        "doc_id", "passage_idx",
        F.col("p.passage").alias("passage"),
        n_words.alias("n_words"),
    )


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Normalized-content digest: lowercase, collapse whitespace, strip
    punctuation, md5. Whitespace/punct variants of the same text map to
    the same fingerprint."""
    text = qcol(text_col)
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^\w\s]", ""), r"\s+", " "
        )
    )
    return df.withColumn(out_col, F.md5(normalized))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    k: int = 8,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """MOSS-style winnowing fingerprints: hash every character k-gram,
    then keep the minimum hash of each sliding window of ``window``
    consecutive k-grams. Two documents sharing any long-enough substring
    share fingerprints regardless of position — the rolling-hash
    document-fingerprinting primitive for near-dup detection at corpus
    scale (Schleimer, Wilkerson & Aiken, SIGMOD 2003).

    All array work is JVM-side higher-order functions (sequence /
    transform / slice / array_min); the "hash" is the md5 hex prefix of
    each k-gram, whose lexicographic min is engine-portable (identical
    in DuckDB), unlike engine-specific integer hash functions."""
    text = qcol(text_col)
    empty = F.array().cast("array<string>")
    n_grams = F.length(text) - F.lit(k - 1)
    # Guard every sequence(): Spark's sequence(1, n) with n < 1 yields a
    # DESCENDING run ([1, 0]), and slice(start=0) throws — short texts
    # must short-circuit to empty (CaseWhen evaluates lazily per row).
    hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.substring(F.md5(F.substring(text, i, k)), 1, 8),
        ),
    ).otherwise(empty)
    # Stage the k-gram hash array behind a Generate boundary before
    # windowing: a plain withColumn alias gets re-inlined by Catalyst's
    # CollapseProject into EVERY window's slice(), re-hashing the whole
    # document once per window (quadratic — measured 17 s for 100 short
    # docs vs 0.5 s with the barrier; see colutils.stage_columns).
    tmp = f"__wf_{out_col}__"
    staged = stage_columns(df, **{tmp: hashes})
    h = F.col(tmp)
    n_windows = F.size(h) - F.lit(window - 1)
    mins = F.when(
        n_windows >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
            lambda j: F.array_min(F.slice(h, j, window)),
        ),
    ).otherwise(empty)
    return staged.withColumn(
        out_col, F.array_sort(F.array_distinct(mins))
    ).drop(tmp)


def classifier_eval(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
    n_buckets: int = 20,
    holdout_mod: int = 5,
) -> DataFrame:
    """Train/holdout evaluation report for a scored corpus — the
    accept/reject gate for a document classifier: bucketed AUC plus
    the confusion counts at a score threshold, per split, in ONE
    aggregation pass over score buckets.

    Returns one row per split ('train' / 'holdout') of ALL-INTEGER
    columns — no rounded quotients can diverge cross-engine (the r9
    quotient-trap lesson):

    - ``n``, ``n_pos``: split size and positive count.
    - ``auc_num`` / ``auc_den``: the bucketed-AUC ratio held as exact
      integers. With scores quantized to ``n_buckets`` equal-width
      buckets over [0, 1], AUC = P(score_pos > score_neg) + 0.5 *
      P(tie) = sum_b pos_b * (2 * neg_below_b + neg_b) / (2 * P * N)
      — the numerator counts each (pos, neg) pair twice (ties once),
      hence the factor-2 denominator. Same-bucket pairs are ties by
      construction: this is the AUC of the quantized score, exact for
      it, and within 1/n_buckets of the raw-score AUC.
    - ``tp`` / ``fp`` / ``fn`` at ``threshold`` (predict positive iff
      bucket >= ceil(threshold * n_buckets), i.e. score >= the first
      bucket edge at or above the threshold — computed with a 1e-9
      guard so 0.29 * 100 = 28.999999999999996 still lands on edge
      0.29, review r11): precision = tp/(tp+fp) and recall =
      tp/(tp+fn) are the CALLER's division — binding the counts
      instead of the ratios keeps the oracle exact
      (tests/test_semantic_incremental.py binds the quotient
      identities).

    The split is deterministic: holdout iff ``id % holdout_mod == 0``
    (ids are stable upstream keys; a hash split would also work but is
    not needed for a held-out ESTIMATE, and the modulus is replayable
    in one SQL token). Scores are clamped into [0, 1] bucket range
    (bucket = clamp(floor(score * n_buckets), 0, n_buckets - 1)).

    Rows with a NULL/NaN score or a NULL label are EXCLUDED up front
    (review r11: NULL would otherwise slide through greatest/least —
    both skip NULLs — into the TOP bucket, silently inflating tp and
    AUC; NaN would throw on the ANSI int cast). An unscorable or
    unlabeled row carries no evaluation signal; count them upstream if
    the fraction matters.

    Scale shape: one map-side pass computes (split, bucket, is_pos);
    ONE shuffle aggregates to at most 2 * n_buckets cells (map-side
    partial combine makes per-partition traffic O(n_buckets)); the
    cumulative-negatives window and final per-split rollup run over
    those cells — driver-scale, independent of corpus size."""
    import math

    if holdout_mod < 2:
        raise ValueError(
            f"classifier_eval: holdout_mod must be >= 2, got {holdout_mod}"
        )
    t_bucket = math.ceil(threshold * n_buckets - 1e-9)
    split = F.when(
        qcol(id_col) % holdout_mod == 0, F.lit("holdout")
    ).otherwise(F.lit("train"))
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_buckets - 1),
            F.floor(qcol(score_col) * n_buckets).cast("int"),
        ),
    )
    is_pos = qcol(label_col).cast("boolean")
    cells = (
        df.filter(
            qcol(score_col).isNotNull()
            & ~F.isnan(qcol(score_col).cast("double"))
            & qcol(label_col).isNotNull()
        )
        .select(
            split.alias("split"),
            bucket.alias("bucket"),
            is_pos.alias("__pos__"),
        )
        .groupBy("split", "bucket")
        .agg(
            F.count(F.when(F.col("__pos__"), 1)).alias("pos_b"),
            F.count(F.when(~F.col("__pos__"), 1)).alias("neg_b"),
        )
    )
    w = (
        Window.partitionBy("split")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.withColumn(
        "neg_below", F.coalesce(F.sum("neg_b").over(w), F.lit(0))
    )
    pred_pos = F.col("bucket") >= t_bucket
    return (
        cum.groupBy("split")
        .agg(
            F.sum(F.col("pos_b") + F.col("neg_b")).alias("n"),
            F.sum("pos_b").alias("n_pos"),
            F.sum(
                F.col("pos_b") * (2 * F.col("neg_below") + F.col("neg_b"))
            ).alias("auc_num"),
            (2 * F.sum("pos_b") * F.sum("neg_b")).alias("auc_den"),
            F.sum(F.when(pred_pos, F.col("pos_b")).otherwise(0)).alias("tp"),
            F.sum(F.when(pred_pos, F.col("neg_b")).otherwise(0)).alias("fp"),
            F.sum(F.when(~pred_pos, F.col("pos_b")).otherwise(0)).alias("fn"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents per query under the
    Okapi/Lucene scoring function — the lexical-retrieval baseline a
    training-data platform needs next to its embedding ANN (hard-
    negative mining, eval-set construction, contamination hunting all
    start from "find the documents about X").

    score(q,d) = sum over query terms of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   (Lucene's variant —
    never negative, unlike the raw Robertson idf).

    Shape: ONE corpus pass (explode -> (doc, token, tf) aggregate, the
    same whitespace tokenization as tfidf_top_terms), then the query
    side — distinct (query, token) pairs, broadcast — filters that
    table down to query-term rows, so document frequencies (a count
    window over those rows) and scores aggregate over query-relevant
    rows only. Document lengths come map-side from the token-array
    size (== sum(tf), no second corpus aggregate); N and avgdl enter
    as broadcast 1-row aggregates (no eager action).
    Per-query top-k is a bounded window keyed on the query. Documents
    with no query term never appear (score 0 by definition); query
    term multiplicity is ignored (set semantics, the common choice).

    Precondition: ``doc_id`` must be unique per document row (ADVICE
    r12). The map-side lens table is one row per INPUT row; duplicate
    doc_id rows would fan out the lens join and double-count scored
    rows, where the pre-r12 tf-derived aggregate silently merged them.
    Corpus tables own their id uniqueness upstream (every dedup
    operator in this library assumes and preserves it)."""
    tf = (
        docs.select(
            qcol(doc_id_col).alias("doc_id"),
            F.explode(
                nonempty_words(qcol(text_col), lowercase=True)
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # dl == sum(tf) == the token-array length, so document lengths (and
    # avgdl) come MAP-SIDE from the raw text instead of re-aggregating
    # the corpus explode (r12: the tf subtree had four consumers — lens,
    # avgdl, the df broadcast, and scoring — each replaying the corpus
    # pass; the docstring's "one corpus pass" now holds physically).
    # dl > 0 keeps exactly the explode semantics: NULL/empty texts
    # produce no tf rows and contributed no lens row before.
    lens = docs.select(
        qcol(doc_id_col).alias("doc_id"),
        F.size(nonempty_words(qcol(text_col), lowercase=True)).alias("dl"),
    ).filter(F.col("dl") > 0)
    stats = lens.agg(
        F.avg("dl").alias("__avgdl__")
    ).crossJoin(docs.agg(F.count("*").alias("__N__")))
    qt = queries.select(
        qcol(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                nonempty_words(qcol(query_text_col), lowercase=True)
            )
        ).alias("token"),
    ).distinct()
    tf_q = tf.join(F.broadcast(qt.select("token").distinct()), "token")
    # Document frequency as a count window over the query-relevant rows
    # (one row per (doc, token), so count(*) per token == df): the
    # previous groupBy+broadcast-join consumed tf_q from a second
    # subtree, replaying the corpus aggregate once more.
    scored = (
        tf_q.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .join(F.broadcast(qt), "token")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("__N__") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("__avgdl__"))
                )
            ).alias("__s__"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__s__").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-keyed dedup (web-corpus pipeline stage)
# ---------------------------------------------------------------------------

# Tracking parameters every web-corpus pipeline strips before URL-keyed
# dedup (the CCNet/RefinedWeb-style canonical-URL pass). `(=|$)` also
# matches VALUELESS occurrences (?gclid, bare ?utm_source) so they
# collapse with the param-free spelling.
URL_TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|ref)(=|$)"


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL, as one pure-JVM expression
    chain (whole-stage codegen, zero Python, replayable in ANSI SQL):

    1. trim; drop the ``#fragment``;
    2. lowercase the scheme and authority (path/query case preserved);
    3. strip a leading ``www.`` and the scheme's default port
       (``:80`` http / ``:443`` https);
    4. drop tracking query params (URL_TRACKING_PARAM_RE), SORT the
       survivors (param order never carries meaning in corpus dedup),
       and drop the ``?`` when none survive;
    5. strip trailing slashes from the path (``/a/`` == ``/a``,
       ``http://x.com/`` == ``http://x.com``).

    Non-URL input degrades gracefully: no ``scheme://`` match yields
    an empty scheme and the value canonicalizes as an opaque
    authority-less string — callers filter if needed. At 100 TB this
    is a map-only projection; the dedup that follows is one keyed
    shuffle on the canonical string."""
    u = F.regexp_replace(F.trim(url), "#.*", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = F.when(
        (scheme == "http"), F.regexp_replace(auth, ":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(auth, ":443$", "")
    ).otherwise(auth)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_replace(F.regexp_extract(pathq, r"^([^?]*)", 1), "/+$", "")
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(URL_TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        F.when(scheme != "", F.concat(scheme, F.lit("://"))).otherwise(
            F.lit("")
        ),
        auth,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def url_dedup_summary(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """URL-keyed exact dedup summary: one row per canonical URL with
    the duplicate count, the representative (min id — the keep-one
    survivor rule shared with the text dedup family), and how many
    distinct RAW spellings collapsed into it. Map-only canonicalization
    + one groupBy shuffle on the canonical string; no raw-text shuffle,
    no pair join — linear at any corpus size."""
    base = df.select(
        qcol(id_col).alias("doc_id"),
        qcol(url_col).alias("__raw__"),
        canonical_url(qcol(url_col)).alias("canonical_url"),
    )
    return base.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.countDistinct("__raw__").cast("long").alias("n_raw_forms"),
    )


# Minimal named/numeric entity set decoded by extract_html_text —
# ordered, with &amp; LAST so "&amp;lt;" decodes to the literal "&lt;"
# (single-pass decode, never a double-decode). Extend here, not inline.
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def extract_html_text(
    df: DataFrame,
    html_col: str,
    text_out: str = "extracted_text",
    title_out: str = "title",
) -> DataFrame:
    """Boilerplate-stripping HTML -> text extraction (the
    trafilatura/resiliparse step at the head of a crawl curation
    pipeline, before lang-id / quality / dedup ever run): drop
    script/style blocks and comments, strip all remaining tags, decode
    the common entities (HTML_ENTITIES, &amp; last), collapse
    whitespace; the <title> is extracted separately and entity-decoded
    the same way.

    Entirely JVM map-only regexp/replace chain — zero shuffle, no
    Python, pushdown-transparent. The patterns are deliberately
    RE2-compatible (non-greedy repetition, inline (?is) flags, NO
    backreferences or lookaround) so the DuckDB oracle replays them
    byte-for-byte; NULL html degrades to empty text, never a crash.

    This is the STRUCTURAL extractor (tag/entity semantics), not a
    readability model — main-content detection (text-density scoring a
    la boilerpipe) composes on top of the per-tag split, and
    quality_filter downstream removes nav/footer residue by signal."""
    raw = F.coalesce(qcol(html_col).cast("string"), F.lit(""))
    # Title first (it lives in <head>), then the whole head block goes —
    # base/meta/link/title text is chrome, not content.
    body = F.regexp_replace(raw, r"(?is)<head(\s[^>]*)?>.*?</head>", " ")
    body = F.regexp_replace(body, r"(?is)<script(\s[^>]*)?>.*?</script>", " ")
    body = F.regexp_replace(body, r"(?is)<style(\s[^>]*)?>.*?</style>", " ")
    body = F.regexp_replace(body, r"(?s)<!--.*?-->", " ")
    body = F.regexp_replace(body, r"<[^>]+>", " ")
    title = F.regexp_extract(raw, r"(?is)<title(?:\s[^>]*)?>(.*?)</title>", 1)
    for ent, ch in HTML_ENTITIES:
        body = F.replace(body, F.lit(ent), F.lit(ch))
        title = F.replace(title, F.lit(ent), F.lit(ch))
    body = F.trim(F.regexp_replace(body, r"\s+", " "))
    title = F.trim(F.regexp_replace(title, r"\s+", " "))
    return df.withColumn(title_out, title).withColumn(text_out, body)
