"""Deduplication operators for large-scale document corpora.

Beyond-reference surface (the reference engine has no dedup; these are
the training-data-pipeline operators the 100 TB target needs). All hash
computations use md5 (JVM built-in, deterministic, dialect-portable so
DuckDB oracles can reproduce them exactly) and run JVM-side — no Python
UDFs anywhere in this module.

Scale design notes:
- exact dedup: one hash-shuffle on the content digest.
- MinHash: tokens explode map-side; ONE groupBy(id) computes all K
  min-hashes as parallel aggregates (single shuffle, map-side partial
  aggregation does the heavy lifting).
- LSH banding: band signatures explode to (band, hash) keys; the
  self-join on bucket keys is a shuffle join on small keys. Bucket skew
  (a degenerate band hash) is handled by AQE skew-join splitting.
- SimHash: 64 bit-sum aggregates over exploded tokens, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_mas_spark.colutils import nonempty_words, qcol, stage_columns

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_digest(col) -> "F.Column":
    return F.md5(col.cast("string"))


def exact_dedup_summary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content hash: representative (min) id and
    duplicate count. Hash-groupBy; single shuffle on the digest."""
    return (
        df.select(qcol(id_col).alias("doc_id"), content_digest(qcol(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact-duplicate group.

    NULL content has no digest and is never a duplicate of anything:
    such rows all pass through (otherwise md5(NULL)=NULL would group
    every failed-extraction row into one bucket and silently delete all
    but one — and diverge from incremental_exact_dedup, whose NULL
    digests never equi-match the seen side)."""
    nonnull = df.filter(qcol(text_col).isNotNull())
    keep = exact_dedup_summary(nonnull, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return nonnull.join(keep, on=id_col, how="left_semi").unionByName(
        df.filter(qcol(text_col).isNull())
    )


def normalized_digest(col) -> "F.Column":
    """CCNet-style normalization digest (Wenzek et al. 2020 §4.1
    normalizes before hashing so case/punctuation/digit variants
    collapse): lowercase, digits -> '0', every non-[a-z0] run -> one
    space, trim, then md5. Built from lower/regexp_replace/trim only —
    Java regex and RE2 read these classes identically, so the DuckDB
    oracle reproduces the digest byte-for-byte (DuckDB side needs the
    'g' flag: Spark's regexp_replace is global by default)."""
    t = F.lower(col.cast("string"))
    t = F.regexp_replace(t, "[0-9]", "0")
    t = F.trim(F.regexp_replace(t, "[^a-z0]+", " "))
    return F.md5(t)


def normalized_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup over the NORMALIZED content digest: case,
    punctuation, whitespace-shape and digit variants of the same text
    collapse to one group; the lowest-id representative survives. The
    first dedup pass of a web-corpus pipeline (cheaper than any near-dup
    method, catches the bulk of boilerplate mirrors). Same single
    digest-shuffle shape and NULL contract as [[exact_dedup]]: NULL
    text rows pass through undeduplicated."""
    nonnull = df.filter(qcol(text_col).isNotNull())
    keep = (
        nonnull.select(
            qcol(id_col).alias("doc_id"),
            normalized_digest(qcol(text_col)).alias("digest"),
        )
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias(id_col))
    )
    return nonnull.join(keep, on=id_col, how="left_semi").unionByName(
        df.filter(qcol(text_col).isNull())
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    seen_bloom=None,
    confirm: str = "shuffle",
) -> DataFrame:
    """Dedup a NEW ingestion batch against an already-accepted corpus:
    collapse within-batch exact duplicates to their lowest-id
    representative, then drop every document whose content digest is
    already present in ``seen_df``.

    Scale shape: the seen side is reduced to a distinct digest column
    before the join, so the anti-join shuffles 16-byte digests — never
    the accepted corpus's text. At 100 TB the natural layout is a
    digest-only bloom/parquet side table maintained across ingestions;
    this operator is the query against it. Both the within-batch
    collapse and the anti-join are single hash shuffles on the digest.

    ``seen_bloom`` (a [[bloom.KeyBloom]] built over the seen DIGEST
    column, once per epoch) routes the anti-join: bloom-NEGATIVE batch
    rows are definite non-members and bypass the confirm join
    map-only; only bloom-positive candidates (true dups + ~fpp false
    positives) are confirmed exactly. Output rows are EXACTLY the
    unrouted anti-join's (the filter routes, the exact join decides;
    the unit suite binds equality incl. forced false positives), so
    oracles hold verbatim. Build it with
    ``build_key_bloom(seen_digest_frame, "digest",
    key_tag="content_digest")``.

    ``confirm`` picks the candidate-confirmation plan:

    - ``"shuffle"`` (default): hash anti-join of candidates vs the
      distinct seen digests. The bloom thins the BATCH side of that
      shuffle — decisive when the batch is the big side; at small
      fixture scale the probe overhead can exceed the saving
      (measured honestly in SCALING.md r12, incl. the warm-up
      artifact the first A/B fell for).
    - ``"broadcast_hits"``: for a BIG seen side and a small candidate
      set — the candidate digests broadcast INTO a map-side semi scan
      of the raw seen digest stream (the seen table is scanned but
      NEVER shuffled, and never distinct-ed corpus-wide), the
      surviving hit set (tiny: <= candidate count) broadcasts back
      for a shuffle-free anti join. Requires the candidate digest set
      to fit broadcast comfort — low dup + fpp rates; with a huge
      overlap fall back to "shuffle". The batch subtree is evaluated
      once more for the key set; persist upstream if that matters.
    """
    if confirm not in ("shuffle", "broadcast_hits"):
        raise ValueError(f"unknown confirm strategy: {confirm!r}")
    if confirm == "broadcast_hits" and seen_bloom is None:
        raise ValueError(
            "confirm='broadcast_hits' needs seen_bloom: without the "
            "routing filter every batch row is a candidate and the "
            "broadcast key set is the whole batch"
        )
    seen_raw = seen_df.select(
        content_digest(qcol(text_col)).alias("__digest__")
    )
    batch = exact_dedup(new_df, id_col, text_col).withColumn(
        "__digest__", content_digest(qcol(text_col))
    )
    if seen_bloom is not None:
        seen_bloom.check_tag("content_digest", "incremental_exact_dedup")
        # The fresh/candidate split reads `batch` twice (three times
        # under broadcast_hits), so the digest + k hash positions +
        # bitmap gather repeat per consuming stage over the reused
        # exact_dedup exchange — cheap map-side JVM work traded for
        # the join-side volume the routing removes.
        batch = batch.withColumn(
            "__maybe__", seen_bloom.might_contain(F.col("__digest__"))
        )
        fresh = batch.filter(~F.col("__maybe__")).drop("__maybe__", "__digest__")
        cands = batch.filter(F.col("__maybe__")).drop("__maybe__")
        if confirm == "broadcast_hits":
            # Materialize the candidate set ONCE: without this the
            # whole batch pipeline (collapse shuffle + digest + probe)
            # replays inside BOTH broadcast subtrees and the final
            # anti — measured 16.0 -> see SCALING r12. Bounded by the
            # candidate volume (dup rate + fpp of the batch), small in
            # this strategy's intended regime.
            cands = cands.localCheckpoint(eager=True)
            cand_keys = cands.select("__digest__").distinct()
            # Map-side semi scan of the RAW seen digest stream: the
            # seen table is never shuffled and never distinct-ed
            # corpus-wide; the hit set is bounded by the candidate
            # count, then broadcasts back for a shuffle-free anti.
            hits = (
                seen_raw.join(
                    F.broadcast(cand_keys), on="__digest__", how="left_semi"
                )
                .distinct()
            )
            confirmed = cands.join(
                F.broadcast(hits), on="__digest__", how="left_anti"
            ).drop("__digest__")
        else:
            confirmed = cands.join(
                seen_raw.distinct(), on="__digest__", how="left_anti"
            ).drop("__digest__")
        return fresh.unionByName(confirmed)
    return batch.join(
        seen_raw.distinct(), on="__digest__", how="left_anti"
    ).drop("__digest__")


# ---------------------------------------------------------------------------
# Corpus-wide k-word span dedup (C4-style line/span dedup)
# ---------------------------------------------------------------------------


def _ordered_join(idx_col: str, val_col: str):
    """Aggregate expression reassembling a document from (position,
    piece) rows: collect, sort by position, join with single spaces.
    The ONE copy of the idiom shared by chunk_dedup / span_dedup /
    _scrub_spans / paragraph_neardup_dedup — any ordering or
    null-handling fix lands in all four at once (review r10)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(idx_col, val_col))),
            lambda s: s[val_col],
        ),
        " ",
    )


def chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Remove REPEATED k-word spans corpus-wide, keeping only the first
    occurrence (lowest ``(doc_id, chunk_idx)``) of each span — the same
    shape as C4's repeated-line/three-sentence-span dedup, adapted to
    newline-free text: documents are cut into consecutive k-word chunks
    and every later occurrence of an identical chunk is deleted from its
    document. Returns ``(doc_id, text_dedup)`` for ALL input documents
    (a document whose every chunk was seen earlier comes back empty).

    Precondition shared by every reassembling operator in this module
    (chunk_dedup, [[span_dedup]], [[span_decontaminate]],
    [[paragraph_neardup_dedup]]): ``id_col`` must be UNIQUE per
    document — a duplicated id merges two documents' pieces into one
    reassembly and multiplies output rows (review r10). The driver
    fixtures are probed for this (tools/probe_testdata.py);
    operator-side enforcement would cost an extra full aggregate.

    Scale shape: chunking is a map-only array program (split → slice →
    join, all JVM higher-order functions; one exploded row per CHUNK,
    k× fewer than per word). Global first-occurrence selection is one
    hash shuffle on the chunk text; document reassembly is one more on
    doc id. No pairwise comparisons anywhere, so cost is linear in
    corpus tokens — the property that lets line-dedup run on raw-crawl
    scale where near-dup methods (minhash et al) need candidate
    generation.
    """
    # Stage the word array behind a Generate boundary: the per-chunk
    # slice lambda would otherwise re-split the whole document once per
    # chunk (colutils.stage_columns has the measurements).
    staged = stage_columns(
        df.select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__")),
        __words__=nonempty_words(F.col("__t__")),
    )
    words = F.col("__words__")
    n_chunks = F.ceil(F.size(words) / F.lit(k)).cast("int")
    chunks = F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * k + 1, k), " "),
    )).otherwise(F.array().cast("array<string>"))
    exploded = staged.select(
        "doc_id", F.posexplode(chunks).alias("cidx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "cidx")
    kept = (
        exploded.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
    )
    reassembled = kept.groupBy("doc_id").agg(
        _ordered_join("cidx", "chunk").alias("text_dedup")
    )
    ids = df.select(qcol(id_col).alias("doc_id"))
    return ids.join(reassembled, on="doc_id", how="left").select(
        "doc_id", F.coalesce("text_dedup", F.lit("")).alias("text_dedup")
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Remove ANY repeated span >= ``k`` words corpus-wide, keeping the
    first occurrence — the Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" ExactSubstr granularity, which
    :func:`chunk_dedup` only approximates (its fixed chunk grid misses
    repeats that cross chunk boundaries or sit at a different alignment
    in each document). Here every STRIDE-1 k-word window is fingerprinted
    (md5 of the joined words, so the shuffle carries 32-hex-char keys,
    never the window text), the global first occurrence of each
    fingerprint is chosen by total order ``(doc_id, position)``, and
    every token covered by a non-first window is deleted. A repeated
    span of length L >= k therefore has ALL of its later-occurrence
    windows marked and ALL L tokens removed, regardless of alignment;
    the first occurrence survives — except tokens it SHARES with a
    later overlapping duplicate window (self-overlapping periodic
    repeats: 'a a a' at k=2 keeps only the leading 'a', because the
    second 'a a' window covers token 1 of the first; Lee et al.'s
    suffix-array formulation has the same keep-one-copy edge
    behaviour on periodic strings). Returns ``(doc_id,
    text_dedup)`` for all input documents (whitespace-normalized, empty
    string if everything was a later repeat).

    Scale shape: one exploded row per TOKEN (k times more than
    chunk_dedup — the price of alignment-free recall; Lee et al. pay
    the same linear factor via suffix arrays), one hash shuffle on the
    window fingerprint for first-occurrence ranking, one ~token-count
    distinct + anti-join on (doc, position), one reassembly shuffle on
    doc id. Everything is linear in corpus tokens; no pairwise
    comparisons. At 100 TB the fingerprint shuffle dominates — md5 can
    be swapped for xxhash64 when the corpus is small enough that
    64-bit collisions are acceptable (< ~10^9 windows), and the window
    rank needs no text either way. Reference granularity: Lee et al.
    2022 §3 (any substring >= 50 BPE tokens); the reference repo has
    no span dedup — beyond-reference operator."""
    staged, gpos = _span_window_fingerprints(df, id_col, text_col, k, "span_dedup")
    # (doc_id, p) is unique per window, so the order below is total and
    # the first-occurrence choice deterministic on both engines.
    w = Window.partitionBy("g").orderBy("doc_id", "p")
    removed = (
        gpos.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = staged.select(
        "doc_id", F.posexplode(F.col("__words__")).alias("pos", "tok")
    )
    reassembled = (
        toks.join(removed, on=["doc_id", "pos"], how="left_anti")
        .groupBy("doc_id")
        .agg(_ordered_join("pos", "tok").alias("text_dedup"))
    )
    ids = df.select(qcol(id_col).alias("doc_id"))
    return ids.join(reassembled, on="doc_id", how="left").select(
        "doc_id", F.coalesce("text_dedup", F.lit("")).alias("text_dedup")
    )


def _span_window_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int, caller: str
):
    """Shared stride-1 k-word window fingerprint front end of
    [[span_dedup]] / [[span_decontaminate]]: returns (staged docs with
    ``__words__``, (doc_id, p, g) rows) where ``g`` is the md5 of the
    space-joined window — the shuffle carries 32-hex keys, never text."""
    if k < 1:
        # Validate loudly here: k=0 would make sequence(0, size) emit
        # one window per position INCLUDING past-the-end, and slice
        # with length 0 silently yields empty grams that all collide.
        raise ValueError(f"{caller} requires k >= 1, got {k}")
    staged = stage_columns(
        df.select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__")),
        __words__=nonempty_words(F.col("__t__")),
    )
    words = F.col("__words__")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.md5(
                F.array_join(F.slice(words, i + 1, k), " ").cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gpos = staged.select("doc_id", F.posexplode(grams).alias("p", "g"))
    return staged, gpos


def span_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
) -> DataFrame:
    """Substring-granularity benchmark DECONTAMINATION (the
    GPT-3/Lee-et-al. exact-substring test-set scrub, which
    [[ngram_contamination]] only reports on at doc level): every
    stride-1 ``k``-word window of the corpus that appears ANYWHERE in
    the benchmark set is surgically deleted — all k covered tokens of
    every matching window — and the document survives with the
    contaminated spans cut out, regardless of alignment.

    Returns one row per corpus document: ``doc_id, clean_text,
    n_tokens, n_removed, contaminated`` (whitespace-normalized;
    ``clean_text = ''`` when everything was benchmark material).

    Scale shape: the benchmark side collapses to a broadcast DISTINCT
    fingerprint set (benchmarks are small by definition — the
    ngram_contamination precedent), so the corpus n-gram stream never
    shuffles for the match: one broadcast semi join marks windows, one
    ~token-count distinct on (doc, position), one anti-join + one
    reassembly shuffle on doc id. Linear in corpus tokens, no pairwise
    work; same md5-fingerprint trick as [[span_dedup]] — window text
    never leaves the map side."""
    staged, gpos = _span_window_fingerprints(
        corpus, id_col, text_col, k, "span_decontaminate"
    )
    bench_g = span_fingerprints(benchmark, text_col, k)
    return _scrub_spans(staged, gpos, F.broadcast(bench_g), k)


def span_fingerprints(df: DataFrame, text_col: str, k: int = 10) -> DataFrame:
    """DISTINCT md5 fingerprints (column ``g``) of every stride-1
    ``k``-word window of ``df[text_col]`` — the persistable side table
    for span-granularity scrubbing. Map-only fingerprinting + one
    distinct that shuffles 32-hex keys, never text; at 100 TB this is
    the table an ingestion pipeline maintains across batches (append
    each accepted batch's fingerprints) so
    :func:`incremental_span_decontaminate` never re-reads accepted
    text. Doc ids are never used (only the fingerprint set is kept), so
    any held-out text list works (review r9)."""
    shaped = df.select(
        F.lit(0).cast("long").alias("__fid__"),
        qcol(text_col).alias("__ftxt__"),
    )
    _, gpos = _span_window_fingerprints(
        shaped, "__fid__", "__ftxt__", k, "span_fingerprints"
    )
    return gpos.select("g").distinct()


def _scrub_spans(staged, gpos, fset: DataFrame, k: int) -> DataFrame:
    """Shared scrub core of :func:`span_decontaminate` /
    :func:`incremental_span_decontaminate`: delete every token covered
    by a corpus window whose fingerprint appears in ``fset`` (a frame
    with column ``g``, already broadcast-wrapped by the caller if its
    size warrants it), then reassemble."""
    removed = (
        gpos.join(fset, on="g", how="semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = staged.select(
        "doc_id", F.posexplode(F.col("__words__")).alias("pos", "tok")
    )
    reassembled = (
        toks.join(removed, on=["doc_id", "pos"], how="left_anti")
        .groupBy("doc_id")
        .agg(
            _ordered_join("pos", "tok").alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("__kept__"),
        )
    )
    # coalesce(size, 0): a NULL text has size(NULL) = NULL under Spark
    # 4 ANSI, which would cascade into NULL n_removed/contaminated — a
    # row that `filter(~contaminated)` silently drops (review r9). A
    # text-less document is zero tokens, zero removed, not contaminated.
    base = staged.select(
        "doc_id",
        F.coalesce(F.size(F.col("__words__")), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return (
        base.join(reassembled, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("__kept__"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
        .withColumn("contaminated", F.col("n_removed") > 0)
    )


def incremental_span_decontaminate(
    new_df: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    seen_is_fingerprints: bool = False,
    broadcast_seen: bool = False,
    seen_bloom=None,
    confirm: str = "shuffle",
) -> DataFrame:
    """Span-granularity scrub of a NEW ingestion batch against an
    already-accepted corpus — the rolling-crawl twin of
    :func:`span_decontaminate` (which scrubs against a small held-out
    benchmark), completing the incremental family of
    [[incremental_exact_dedup]] / [[incremental_minhash_dedup]]
    (VERDICT r9 next-steps #6). Every stride-1 ``k``-word window of the
    new batch that appears ANYWHERE in the accepted corpus is cut out,
    regardless of alignment; spans repeated only WITHIN the new batch
    are untouched (that is :func:`span_dedup`'s job, run after
    acceptance).

    ``seen`` is either accepted TEXT (default; fingerprinted once here)
    or, with ``seen_is_fingerprints=True``, an already-persisted
    :func:`span_fingerprints` table (column ``g``) — the 100 TB layout,
    where each accepted batch appends its fingerprints and accepted
    text is NEVER re-read or re-fingerprinted across ingestions.

    Scale shape: the seen side enters the match as DISTINCT 32-hex
    fingerprints — accepted text never shuffles (plan-asserted) — and
    the match is one semi join keyed on ``g``. Unlike the benchmark
    variant the seen set scales with the CORPUS, so it does not
    broadcast by default (a hash semi-join partitions both sides by
    ``g``); pass ``broadcast_seen=True`` when the accepted set is known
    small. Everything else is linear in new-batch tokens: one
    ~token-count distinct on (doc, position), one anti-join, one
    reassembly shuffle on doc id.

    ``seen_bloom`` (a [[bloom.KeyBloom]] over the persisted fingerprint
    table's ``g`` column, built once per epoch) pre-filters the batch's
    window stream MAP-SIDE before the semi join: a bloom-negative
    window is a definite non-member and can never match, so dropping it
    is semantics-free — at a typical few-percent contamination rate the
    semi join's batch side shrinks by ~the complement, and the window
    stream (~token count of the batch) stops shuffling. Positives
    (matches + ~fpp noise) confirm exactly; output is identical.

    ``confirm="broadcast_hits"`` (requires ``seen_bloom``): the
    candidate windows' distinct fingerprints broadcast into a map-side
    semi SCAN of the persisted fingerprint table — ``fset``, the
    per-token-scale largest seen structure in the incremental family,
    is never shuffled — and the surviving hit set (<= candidate
    count) broadcasts back for the window-marking semi. Candidates
    are localCheckpointed once (bounded by the contamination + fpp
    rate of the batch's window stream)."""
    if confirm not in ("shuffle", "broadcast_hits"):
        raise ValueError(f"unknown confirm strategy: {confirm!r}")
    if confirm == "broadcast_hits" and seen_bloom is None:
        raise ValueError(
            "confirm='broadcast_hits' needs seen_bloom: without the "
            "routing filter every window is a candidate and the "
            "broadcast key set is the batch's whole window stream"
        )
    fset = (
        seen.select("g")
        if seen_is_fingerprints
        else span_fingerprints(seen, text_col, k)
    )
    if broadcast_seen:
        fset = F.broadcast(fset)
    staged, gpos = _span_window_fingerprints(
        new_df, id_col, text_col, k, "incremental_span_decontaminate"
    )
    if seen_bloom is not None:
        seen_bloom.check_tag(
            "span_fingerprint", "incremental_span_decontaminate"
        )
        gpos = gpos.filter(seen_bloom.might_contain(F.col("g")))
        if confirm == "broadcast_hits":
            # One bounded materialization, then the big fset is only
            # ever SCANNED: candidate fingerprints broadcast into a
            # map-side semi of fset, the tiny hit set broadcasts back
            # (the incremental_exact_dedup broadcast_hits pattern).
            gpos = gpos.localCheckpoint(eager=True)
            cand_g = gpos.select("g").distinct()
            fset = F.broadcast(
                fset.join(F.broadcast(cand_g), on="g", how="left_semi")
                .distinct()
            )
    return _scrub_spans(staged, gpos, fset, k)


# ---------------------------------------------------------------------------
# Tokenization shared by MinHash / SimHash / Jaccard
# ---------------------------------------------------------------------------


def _distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, token) with per-document distinct word tokens."""
    return df.select(
        qcol(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(qcol(text_col)), r"\s+"))
        ).alias("token"),
    ).filter(F.col("token") != "")


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams, built JVM-side with a
    transform over token index arrays. Empty tokens from leading/
    trailing/repeated whitespace are filtered BEFORE shingling (same
    rule as _distinct_tokens) — otherwise ' a b c' yields corrupt
    shingles like ' a b' that never match their clean counterparts."""
    # Generate-boundary staging: the per-shingle slice lambda would
    # otherwise re-split the document once per token position
    # (colutils.stage_columns has the measurements).
    staged = stage_columns(
        df.select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__")),
        __toks__=nonempty_words(F.col("__t__"), lowercase=True),
    )
    toks = F.col("__toks__")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return staged.select(
        "doc_id", F.explode(shingles).alias("shingle")
    ).filter(F.size(F.split(F.col("shingle"), " ")) == n)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


_MINHASH_MOD = 1 << 32


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """(doc_id, sig) where sig is an array of `num_hashes` 32-bit minhash
    values. ONE md5 per token, split into two 32-bit halves, expanded to
    K hash families by Kirsch-Mitzenmacher double hashing
    (h_i = (h1 + i*h2) mod 2^32 — "Less Hashing, Same Performance",
    ESA 2006): K independent-enough families for the price of one
    cryptographic hash, ~K-fold less hashing CPU than md5-per-seed.
    All K mins are parallel aggregates of ONE groupBy — a single shuffle
    with map-side combine, the scalable shape for 100 TB. Exact integer
    math end-to-end, so a DuckDB oracle reproduces it bit-for-bit."""
    toks = _distinct_tokens(df, id_col, text_col)
    md5 = F.md5(F.col("token"))
    halves = toks.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    # h1 + 15*h2 < 2^36 — no 64-bit overflow before the mod.
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_MINHASH_MOD)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = halves.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("sig")
    )


def _check_banding(num_hashes: int, bands: int, rows_per_band: int) -> None:
    """bands*rows_per_band must fit in the signature: an out-of-range
    band slices an empty array, every document then shares the
    md5(empty) bucket in that band, and greedy/CC dedup silently delete
    nearly the whole corpus. Fail loudly instead."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"bands * rows_per_band ({bands}*{rows_per_band}="
            f"{bands * rows_per_band}) exceeds num_hashes ({num_hashes}); "
            "out-of-range bands would hash an empty signature slice and "
            "collapse every document into one bucket"
        )


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket): one row per document per band, bucket =
    md5 of the band's signature slice. Callers that know num_hashes must
    _check_banding first — slices past the signature are silent."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _bucket_mins(banded: DataFrame) -> DataFrame:
    """Attach the bucket's minimum doc id to every banded row. groupBy
    (map-side combine shrinks each bucket to one row before the shuffle)
    + equi-join back, which AQE can skew-split on degenerate buckets —
    deliberately NOT a window, whose per-bucket sort cannot be split."""
    mins = banded.groupBy("band", "bucket").agg(F.min("doc_id").alias("bucket_min"))
    return banded.join(mins, on=["band", "bucket"])


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing >= 1 band
    bucket. Pairs are (doc_a < doc_b), distinct.

    NOTE: materializing all pairs is quadratic in bucket size — on a
    heavily duplicated corpus a single bucket of k near-identical docs
    yields k^2/2 rows. Use this only when the downstream consumer needs
    the explicit pair list (similarity scoring); `minhash_dedup` /
    `minhash_dedup_cc` purposely avoid it via bucket-min contraction."""
    # Runtime banding guard (review r10): this is the one public
    # signature-consuming entry point that cannot _check_banding
    # statically (it never sees num_hashes). A band sliced past the
    # signature hashes md5('') identically for EVERY doc — all n docs
    # share one bucket and the self-join goes n^2 with no error. Fail
    # loudly per row instead.
    sigs = sigs.select(
        "doc_id",
        F.when(
            F.size("sig") < bands * rows_per_band,
            F.raise_error(
                F.format_string(
                    "lsh_candidate_pairs: signature has %s hashes but "
                    "bands*rows_per_band = %s — out-of-range bands would "
                    "collapse every document into one bucket",
                    F.size("sig").cast("string"),
                    F.lit(str(bands * rows_per_band)),
                )
            ).cast(sigs.schema["sig"].dataType),
        ).otherwise(F.col("sig")).alias("sig"),
    )
    banded = _banded(sigs, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def band_bucket_key(band="band", bucket="bucket") -> "F.Column":
    """Canonical string key of a ``(band, bucket)`` LSH row — the
    column an epoch [[bloom.KeyBloom]] for
    [[incremental_minhash_dedup]] must be built over (build side and
    probe side must hash the identical encoding). Build with
    ``key_tag=f"band_bucket:{bands}x{rows_per_band}"`` — the operator
    validates the tag, so a filter built under different banding
    params (whose probes would all read as non-members and silently
    leak near-dups) raises instead."""
    return F.concat_ws(":", F.col(band), F.col(bucket))


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    seen_bloom=None,
) -> DataFrame:
    """NEAR-dup dedup of a NEW ingestion batch against an already-
    accepted corpus — the production rolling-crawl shape (the near-dup
    twin of :func:`incremental_exact_dedup`). A new document is dropped
    if (a) it is a within-batch greedy loser (shares a band bucket with
    a smaller-id batch document, exactly :func:`minhash_dedup`'s rule)
    or (b) ANY of its band buckets already exists in the seen corpus's
    bucket set — one LSH collision with accepted content means a
    near-duplicate at the banding's similarity threshold.

    Scale shape: the seen side is reduced to DISTINCT ``(band,
    bucket)`` 16-byte keys before the semi-join — the accepted corpus's
    TEXT never shuffles (tokenize/hash/min-aggregate are all map-side
    partials; the signature groupBy moves numeric halves keyed by doc,
    and banding is a map over the signature array). At 100 TB the
    natural layout is a persisted band-key side table maintained
    across ingestions (append each accepted batch's keys); this
    operator is the query against it. Everything is keyed hash
    shuffles — no pair lists, no O(k^2) buckets on the cross-batch
    side. Beyond-reference operator (the reference has no incremental
    mode); granularity per Lee et al. 2022 NearDup / MinHashLSH.

    ``seen_bloom`` (a [[bloom.KeyBloom]] built once per epoch over
    [[band_bucket_key]] of the persisted seen band-key table) routes
    the CROSS-batch probe: a bloom-negative (band, bucket) row can
    never match the semi join, so it is dropped map-side and only
    candidate band rows shuffle. The within-batch greedy stage is
    untouched (it never sees the corpus). Output identical — the
    filter routes, the exact semi join decides."""
    _check_banding(num_hashes, bands, rows_per_band)
    # The seen side gets FRESH per-row ids (review r10): only its
    # DISTINCT (band, bucket) keys are used, so id values are
    # irrelevant — but grouping signatures by the caller's id column
    # would silently merge every NULL-id (or duplicate-id) document's
    # tokens into one element-wise-min signature, losing their real
    # band buckets and letting cross-batch near-duplicates through.
    seen_shaped = seen_df.select(
        F.monotonically_increasing_id().alias("__sid__"),
        qcol(text_col).alias("__stxt__"),
    )
    seen_keys = (
        _banded(
            minhash_signatures(seen_shaped, "__sid__", "__stxt__", num_hashes),
            bands,
            rows_per_band,
        )
        .select("band", "bucket")
        .distinct()
    )
    new_banded = _banded(
        minhash_signatures(new_df, id_col, text_col, num_hashes),
        bands,
        rows_per_band,
    )
    within_losers = (
        _bucket_mins(new_banded)
        .filter(F.col("doc_id") > F.col("bucket_min"))
        .select("doc_id")
    )
    cross_probe = new_banded
    if seen_bloom is not None:
        seen_bloom.check_tag(
            f"band_bucket:{bands}x{rows_per_band}",
            "incremental_minhash_dedup",
        )
        cross_probe = new_banded.filter(
            seen_bloom.might_contain(band_bucket_key())
        )
    cross_losers = cross_probe.join(
        seen_keys, on=["band", "bucket"], how="left_semi"
    ).select("doc_id")
    losers = (
        within_losers.union(cross_losers)
        .distinct()
        .withColumnRenamed("doc_id", id_col)
    )
    return new_df.join(losers, on=id_col, how="left_anti")


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Greedy near-dup removal: drop every document that appears as the
    larger id in some candidate pair. (One-pass approximation of
    connected-component dedup — full CC needs iteration; greedy keeps
    at least one representative per duplicate cluster and is the
    standard single-pass choice for web-scale corpora.)

    Physical plan: a doc is a loser iff SOME band bucket contains a
    smaller id — i.e. iff it differs from its bucket's min in any band.
    That needs only a per-bucket min aggregate, never the O(k^2)
    pair list (6M pairs from 5k docs on a duplicated corpus); identical
    result set to the pair formulation by construction."""
    _check_banding(num_hashes, bands, rows_per_band)
    sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    banded = _bucket_mins(_banded(sigs, bands, rows_per_band))
    losers = (
        banded.filter(F.col("doc_id") > F.col("bucket_min"))
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


_PARA_IDX_BITS = 20


def paragraph_neardup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_words: int = 64,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """PARAGRAPH-granularity near-dup removal — RefinedWeb's missing
    middle between :func:`span_dedup` (exact substrings) and
    :func:`minhash_dedup` (whole documents): cut documents into
    non-overlapping ``max_words``-word passages ([[passage_split]] with
    ``overlap=0``, so passages tile the document exactly), MinHash+LSH
    each PASSAGE, greedily drop every passage that shares a band bucket
    with a lower-(doc, position) passage anywhere in the corpus
    (boilerplate paragraphs, syndicated blocks, repeated templates),
    and reassemble each document from its surviving passages in order.

    Returns one row per input document: ``doc_id, clean_text,
    n_passages, n_removed`` (whitespace-normalized; ``clean_text = ''``
    when every passage was boilerplate — e.g. a full copy of an
    earlier document loses ALL its passages while a doc that merely
    embeds a syndicated block loses only that block).

    Scale shape — identical to [[minhash_dedup]]'s, applied to the
    passage stream (ceil(tokens/max_words)× more rows than docs, each
    max_words long): passage split is map-only JVM array work; the
    signature groupBy is ONE shuffle keyed by passage id with K
    parallel min aggregates (map-side combine); greedy selection is a
    per-bucket min aggregate + equi-join (AQE-skew-splittable, never
    the O(k^2) pair list); then one anti-join and one doc-keyed
    reassembly shuffle. Passage ids pack (doc_id, passage_idx) into
    one int64 so the greedy "first occurrence wins" order is the
    natural (doc, position) order — which requires an INTEGRAL id
    column in [0, 2^43) (guarded with a loud per-row error; remap
    hash-scale, negative, or string ids first)."""
    # local import: text.py pulls in dedup helpers elsewhere (same
    # pattern as dedup_cascade's canonical_url import)
    from polars_mas_spark.operators.text import passage_split

    _check_banding(num_hashes, bands, rows_per_band)
    passages = passage_split(
        df.select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__t__")),
        "doc_id",
        "__t__",
        max_words=max_words,
        overlap=0,
    )
    # Pack (doc_id, passage_idx) preserving lexicographic order. 2^20
    # passages/doc at max_words=64 ≈ a 67M-word document — validate
    # loudly rather than silently fold greedy priorities together.
    cap = 1 << _PARA_IDX_BITS
    pid = (
        F.col("doc_id").cast("long") * F.lit(cap) + F.col("passage_idx")
    ).alias("pid")
    # BOTH packing operands are guarded (review r10): doc ids at or
    # above 2^43 (e.g. 64-bit hash ids — a regime connected_min_labels
    # explicitly supports) would overflow the int64 product — ANSI mode
    # throws a confusing engine error per row, non-ANSI silently wraps
    # and corrupts greedy priorities. Negative ids would likewise break
    # the (doc, position) lexicographic packing.
    overflow = (
        (F.col("passage_idx") >= cap)
        | (F.col("doc_id") >= F.lit(1 << (63 - _PARA_IDX_BITS)))
        | (F.col("doc_id") < 0)
    )
    keyed = passages.select(
        F.when(
            overflow,
            F.raise_error(
                F.format_string(
                    "paragraph_neardup_dedup: (doc_id %s, passage_idx %s) "
                    "does not fit the int64 (doc, position) pid packing "
                    "(need 0 <= doc_id < 2^%s and passage_idx < 2^%s); "
                    "remap hash-scale or negative ids first",
                    F.col("doc_id").cast("string"),
                    F.col("passage_idx").cast("string"),
                    F.lit(str(63 - _PARA_IDX_BITS)),
                    F.lit(str(_PARA_IDX_BITS)),
                )
            ).cast("long"),
        )
        .otherwise(pid)
        .alias("pid"),
        "doc_id",
        "passage_idx",
        "passage",
    )
    # Materialize the tiled passage table ONCE (r12, guide §3.3/§5):
    # it feeds three subtrees — the minhash/banding pipeline, the
    # survivor anti-join (which needs passage text), and the per-doc
    # totals — and each replayed the passage split + overflow-guard
    # projection from the raw scan (30 parquet scans in one plan,
    # plans/r12/paragraph_neardup_dedup_before.txt; measured
    # 3.77 -> 2.58 s at sf0.1). Corpus-sized, so the materialization is
    # SIZE-GATED (r13, VERDICT r12 #3): localCheckpoint locally,
    # recomputable DISK_ONLY persist once the estimate says the tiled
    # corpus would be a non-fault-tolerant executor-local copy — see
    # staging.materialize_stage for the contract.
    from polars_mas_spark.staging import materialize_stage

    keyed = materialize_stage(keyed, "paragraph passages")
    # minhash_signatures aliases its id column to "doc_id"; here that
    # column carries the packed pid.
    sigs = minhash_signatures(keyed, "pid", "passage", num_hashes)
    banded = _bucket_mins(_banded(sigs, bands, rows_per_band))
    losers = (
        banded.filter(F.col("doc_id") > F.col("bucket_min"))
        .select(F.col("doc_id").alias("pid"))
        .distinct()
    )
    survivors = keyed.join(losers, on="pid", how="left_anti")
    reassembled = survivors.groupBy("doc_id").agg(
        _ordered_join("passage_idx", "passage").alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("__kept__"),
    )
    totals = keyed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_passages")
    )
    ids = df.select(qcol(id_col).alias("doc_id")).distinct()
    return (
        ids.join(totals, on="doc_id", how="left")
        .join(reassembled, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_passages", F.lit(0)).cast("bigint").alias("n_passages"),
            (
                F.coalesce("n_passages", F.lit(0))
                - F.coalesce(F.col("__kept__"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def connected_min_labels(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """(doc_id, label) where label is the MINIMUM doc id in the node's
    connected component, from an edge list (doc_a < doc_b).

    Min-label propagation with POINTER DOUBLING: each round (a) takes
    the per-node min of neighbor labels over the symmetric edge list,
    then (b) path-compresses by replacing each label with its label's
    label. Compression halves the remaining pointer-chain depth every
    round, so convergence is O(log diameter) Spark rounds instead of
    O(diameter) — the difference between 3 and 15 scheduler round-trips
    on the chain-of-hubs graphs that bucket-star contraction produces.
    Each round is two shuffle joins + one aggregate over the EDGE list
    (not the corpus) — scale is bounded by the near-dup graph, which
    LSH keeps small.

    Convergence check: each round carries the previous label alongside
    the new one, so the fixpoint test is a single count of changed rows
    on the already-checkpointed frame — exact for every id dtype, no
    extra join, and (unlike a sum(label) monotonicity probe) immune to
    bigint overflow under ANSI mode and to float summation collisions
    when ids are ~1e18 hash values."""
    if max_rounds < 1:
        raise ValueError(
            f"connected_min_labels: max_rounds must be >= 1, got {max_rounds}"
        )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    try:
        for _ in range(max_rounds):
            prop = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("src"),
                        F.col("label").alias("nbr_label"),
                    ),
                    on="src",
                )
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("nbr_label").alias("nbr_min"))
            )
            merged = labels.join(prop, on="doc_id", how="left").select(
                "doc_id",
                F.col("label").alias("__old__"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            # Pointer doubling: label <- label(label). Every label value
            # is itself a node id, so the self-join always resolves.
            hop = merged.select(
                F.col("doc_id").alias("label"), F.col("label").alias("hop_label")
            )
            # localCheckpoint (not persist): the pointer-doubling
            # self-join references `merged` twice, so without lineage
            # TRUNCATION the logical plan doubles every round and
            # Catalyst analysis time goes exponential (measured: 1.6s,
            # 2.3s, 6s, 35s per round). Checkpointing keeps rounds flat.
            # Caveat for preemptible clusters: localCheckpoint stores
            # partitions on executors; with unreliable executors set a
            # checkpoint dir and use .checkpoint() instead.
            new_labels = (
                merged.join(hop, on="label", how="left")
                .select(
                    "doc_id",
                    "__old__",
                    F.least(
                        F.col("label"), F.coalesce("hop_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            residual = new_labels.filter(
                F.col("label") != F.col("__old__")
            ).count()
            labels.unpersist()
            labels = new_labels.drop("__old__")
            if residual == 0:
                break
        else:
            # Fail loudly on non-convergence (review r10): exhausting
            # max_rounds with labels still moving means some component
            # is split across several labels — minhash_dedup_cc would
            # keep multiple "survivors" per duplicate cluster and a
            # leakage-safe split would silently place near-duplicates
            # on both sides. With pointer doubling max_rounds=r covers
            # compressed diameters up to ~2^r, so hitting this means a
            # pathological graph or a caller-chosen tiny bound.
            raise RuntimeError(
                f"connected_min_labels: labels still changing on "
                f"{residual} nodes after {max_rounds} pointer-doubling "
                f"rounds — raise max_rounds (each round covers ~2x the "
                f"remaining component diameter)"
            )
    finally:
        edges.unpersist()
    return labels


def minhash_dedup_cc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_rounds: int = 10,
) -> DataFrame:
    """Connected-component near-dup removal: exactly ONE survivor (the
    min id) per component of the candidate-pair graph.

    Versus the greedy ``minhash_dedup``: greedy keeps every document
    with no smaller DIRECT neighbor, so a component linked only through
    a larger id keeps several docs (edges a-c, b-c with a<b<c: greedy
    keeps {a, b}, CC keeps {a}). CC treats near-duplication as
    transitive — the right call for crawl corpora where chains of small
    edits connect many variants; greedy is the cheaper one-pass choice
    when transitivity over-merges (e.g. templated documents).

    Physical plan: instead of the O(k^2) per-bucket pair clique, each
    bucket contributes a STAR — every member connected to the bucket's
    min id. A star has the same connected components as the clique it
    replaces (all members reachable through the hub), so the survivor
    set is bit-identical while the edge list stays O(n x bands)."""
    labels = _minhash_edge_labels(
        df, id_col, text_col, num_hashes, bands, rows_per_band, max_rounds
    )
    # Losers come straight from the edge-participant labels — joining
    # the full corpus in first (minhash_component_labels) would add a
    # corpus-sized exchange for zero semantic change.
    losers = labels.filter(F.col("label") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def _minhash_edge_labels(
    df, id_col, text_col, num_hashes, bands, rows_per_band, max_rounds
) -> DataFrame:
    """(doc_id, label) for edge-PARTICIPANT documents only (the LSH
    candidate graph's nodes); singletons are absent."""
    _check_banding(num_hashes, bands, rows_per_band)
    sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    star = _bucket_mins(_banded(sigs, bands, rows_per_band))
    edges = (
        star.filter(F.col("doc_id") > F.col("bucket_min"))
        .select(
            F.col("bucket_min").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )
    return connected_min_labels(edges, max_rounds)


def minhash_component_labels(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_rounds: int = 10,
) -> DataFrame:
    """(doc_id, label) for EVERY document: label = the minimum doc id of
    its LSH near-dup connected component, own id for singletons. The
    group key for anything that must treat near-duplicates as one unit
    — leakage-safe train/eval splitting (a near-dup pair split across
    sides leaks eval content into training), per-cluster sampling caps,
    canonical-representative selection."""
    labels = _minhash_edge_labels(
        df, id_col, text_col, num_hashes, bands, rows_per_band, max_rounds
    )
    ids = df.select(qcol(id_col).alias("doc_id"))
    return ids.join(labels, on="doc_id", how="left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(doc_id, simhash) 64-bit document fingerprint. Token hash = first
    16 hex chars of md5 (64 bits via conv base16); the classic bit-vote:
    bit_i(simhash) = 1 iff sum over tokens of (+1 if token bit_i else -1)
    is positive. All `bits` votes are parallel aggregates of one
    groupBy."""
    # Only 64 hash bits exist and the hex assembly packs 4 per nibble:
    # bits > 64 would vote on constant zeros (making every document
    # collide in those segments — quadratic pair blowup downstream) and
    # a non-multiple of 4 silently drops the top bits (review r10).
    if not (1 <= bits <= 64 and bits % 4 == 0):
        raise ValueError(
            f"simhash: bits must be a multiple of 4 in [4, 64], got {bits} "
            "(the md5-derived token hash provides exactly 64 bits)"
        )
    toks = _distinct_tokens(df, id_col, text_col)
    # Two 32-bit halves of the md5 prefix avoid signed-long overflow on
    # the high bit while keeping everything in JVM integer math.
    h_hi = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    h_lo = F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10).cast("long")
    toks = toks.select("doc_id", h_hi.alias("hi"), h_lo.alias("lo"))
    votes = []
    for i in range(bits):
        if i < 32:
            bit = F.shiftrightunsigned(F.col("lo"), i).bitwiseAND(F.lit(1))
        else:
            bit = F.shiftrightunsigned(F.col("hi"), i - 32).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"b{i}"))
    per_doc = toks.groupBy("doc_id").agg(*votes)
    # Assemble the fingerprint as a 16-char hex string (4 bits per nibble)
    # to stay overflow-free and comparable across engines.
    nibbles = []
    for nib in range(bits // 4 - 1, -1, -1):
        val = sum(
            (F.when(F.col(f"b{nib * 4 + k}") > 0, 1).otherwise(0) * (1 << k))
            for k in range(4)
        )
        nibbles.append(F.conv(val.cast("string"), 10, 16))
    return per_doc.select(
        "doc_id", F.lower(F.concat(*nibbles)).alias("simhash")
    )


def simhash_hamming_pairs(
    sim: DataFrame, max_distance: int = 3, bits: int = 64
) -> DataFrame:
    """Near-dup pairs by hamming distance on the simhash, blocked on
    ``max_distance + 1`` DISJOINT bit segments (the permutation-table
    scheme of Manku et al., WWW 2007, with axis-aligned segments):
    a pair within hamming distance d differs in at most d segments, so
    by pigeonhole it MUST agree exactly on at least one of the d+1
    blocks — full recall by construction, unlike a single-prefix block
    (VERDICT r1 #5's recall hole). Each segment is a bucket-equality
    self-join on small keys; candidates colliding in several segments
    are deduped on the pair key. Hamming distance is bit_count over
    xor'd 32-bit hash chunks, decoded from hex once per row before the
    join (JVM-side, exact integer arithmetic)."""
    nibbles_total = bits // 4
    q = max_distance + 1
    seg_w = nibbles_total // q  # nibbles per segment (first q-1 segments)
    if seg_w < 1:
        raise ValueError(
            f"max_distance={max_distance} needs {q} segments but the "
            f"{bits}-bit hash only has {nibbles_total} nibbles"
        )
    # Segment r covers nibbles [r*seg_w, ...); the last segment absorbs
    # the remainder so every bit belongs to exactly one segment.
    segs = [
        (r * seg_w + 1, seg_w if r < q - 1 else nibbles_total - (q - 1) * seg_w)
        for r in range(q)
    ]
    # Decode the hex hash to <=32-bit integer chunks ONCE per row,
    # before the self-join (r12, guide §2.3/§4: the old shape carried
    # both simhash STRINGS through the join and the dedup exchange and
    # re-parsed 2 x nibbles_total hex digits per candidate with a
    # ~200-node nibble-popcount expression; integer chunks + bit_count
    # are exactly the same integer arithmetic).
    n_chunks = (nibbles_total + 7) // 8
    chunks = [
        F.conv(
            F.substring(
                F.col("simhash"), c * 8 + 1, min(8, nibbles_total - c * 8)
            ),
            16,
            10,
        )
        .cast("long")
        .alias(f"__h{c}__")
        for c in range(n_chunks)
    ]
    blocked = sim.select(
        "doc_id",
        *chunks,
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{r}:"),
                        F.substring(F.col("simhash"), start, width),
                    )
                    for r, (start, width) in enumerate(segs)
                ]
            )
        ).alias("__seg__"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = None
    for c in range(n_chunks):
        pc = F.bit_count(
            F.col(f"a.__h{c}__").bitwiseXOR(F.col(f"b.__h{c}__"))
        )
        dist = pc if dist is None else dist + pc
    # Distance BEFORE the pair dedup (a pair agreeing on several
    # segments carries the same hashes, hence the same distance, in
    # every copy) so the dedup exchange moves only matching pairs —
    # O(near-dups), not O(candidates).
    return (
        a.join(
            b,
            (F.col("a.__seg__") == F.col("b.__seg__"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    block_col: str | None = None,
    length_col: str | None = None,
    length_tolerance: float = 0.2,
) -> DataFrame:
    """Word-set Jaccard similarity over candidate pairs. Candidates are
    pruned by an equality block (e.g. language) and a SYMMETRIC length
    band ``min(len_a, len_b) >= f * max(len_a, len_b)`` before any set
    math — the standard way to keep the pair count sub-quadratic.
    Returns (doc_a, doc_b, jaccard >= threshold).

    The band factor ``f``: with the default length (the exact distinct
    word-set size) it is ``threshold`` itself, which is LOSSLESS —
    J(A,B) <= min/max, so any pair outside the band is mathematically
    below threshold (no recall loss, not a heuristic). With a caller-
    supplied ``length_col`` (a proxy like raw char count, where no
    exact bound exists) it is ``1 - length_tolerance``. Either way the
    predicate is symmetric in the pair, so results cannot depend on
    which duplicate happened to get the smaller id (review r10: the
    old band was anchored to the smaller-id doc and its fixed 0.2
    tolerance silently pruned true >=0.8-jaccard pairs with a size
    ratio in (1.2, 1.25])."""
    # Empty split tokens (leading/trailing whitespace) are excluded from
    # both the word sets and the default length — they would otherwise
    # put '' into every padded document's set (inflating jaccard between
    # unrelated docs) and shift the length band by the padding.
    words = nonempty_words(qcol(text_col), lowercase=True)
    base = df.select(
        qcol(id_col).alias("doc_id"),
        F.array_sort(F.array_distinct(words)).alias("words"),
        *( [qcol(block_col).alias("block")] if block_col else [F.lit(1).alias("block")] ),
        *( [qcol(length_col).alias("len")] if length_col else [F.size(words).alias("len")] ),
    )
    f = threshold if length_col is None else 1.0 - length_tolerance
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.len") * F.lit(f) <= F.col("a.len"))
        & (F.col("a.len") * F.lit(f) <= F.col("b.len")),
    )
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    union = F.size(F.array_union(F.col("a.words"), F.col("b.words")))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (inter.cast("double") / union).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    q: int = 2,
) -> DataFrame:
    """Entity-resolution pairs: all (id_a, id_b, distance) with
    ``levenshtein(text_a, text_b) <= max_distance`` and id_a < id_b —
    EXACT result, sub-quadratic plan.

    Blocking (the standard q-gram filter): strings within edit distance
    d share at least one q-gram substring whenever both are at least
    ``q*(d+1)`` chars long — a deleted/substituted char can break at
    most q grams, and d edits at most d*q of the >= q*(d+1)-q+1 grams.
    So long strings join on DISTINCT shared q-grams (plus the necessary
    length band |len_a-len_b| <= d) and only candidates pay the exact
    levenshtein. Strings below the lemma threshold can share no gram
    yet match ("ab"/"cd" at d=2) — they fall back to a LENGTH-band
    equi-join (the short-string population is bounded by the alphabet,
    and the band key explodes to d+1 keys, never a cross join). The
    two candidate sets overlap at the boundary; dropDuplicates merges
    them. Levenshtein runs JVM-side (F.levenshtein with the threshold
    variant, which abandons rows early past the bound).

    NULL contract: rows with NULL text are EXCLUDED — their ids never
    appear in any pair (edit distance to an absent string is
    undefined; NULL-NULL pairs would otherwise flood the output as
    distance-0 matches). Callers who want NULLs matched as empty
    strings should coalesce(text, '') beforehand — empty strings
    participate normally through the length-band path."""
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if q < 1:
        # q=0 would make every gram the empty string — the "blocking"
        # join degenerates to a length-banded cross join.
        raise ValueError("q must be >= 1")
    lemma_len = q * (max_distance + 1)
    base = df.select(
        qcol(id_col).alias("id"),
        qcol(text_col).alias("t"),
        F.length(qcol(text_col)).alias("n"),
    ).filter(F.col("t").isNotNull())

    longs = base.filter(F.col("n") >= lemma_len)
    # The gram frame carries (id, n, g) ONLY: replicating the full text
    # once per gram would shuffle O(len^2) bytes per document through
    # the gram exchange; the texts re-attach by id to the deduplicated
    # candidate pairs instead (two linear id joins).
    grams = longs.select(
        "id", "n",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.col("n") - (q - 1), F.lit(1))
                    ),
                    lambda i: F.substring(F.col("t"), i, q),
                )
            )
        ).alias("g"),
    )
    ga, gb = grams.alias("a"), grams.alias("b")
    long_cand = (
        ga.join(
            gb,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.abs(F.col("a.n") - F.col("b.n")) <= max_distance
            ),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            base.select(F.col("id").alias("id_a"), F.col("t").alias("t_a")),
            on="id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("t").alias("t_b")),
            on="id_b",
        )
        .select("id_a", "id_b", "t_a", "t_b")
    )

    # Short-string fallback: everything below the lemma threshold pairs
    # against strings within the length band (incl. boundary longs up
    # to lemma_len + d - 1). Band key = target length; the shorter side
    # replicates to its d+1 reachable lengths.
    shorts = base.filter(F.col("n") < lemma_len)
    band_side = base.filter(F.col("n") < lemma_len + max_distance)
    keys = shorts.select(
        "id", "t", "n",
        F.explode(
            F.sequence(F.col("n"), F.col("n") + max_distance)
        ).alias("nk"),
    )
    sa = keys.alias("a")
    sb = band_side.alias("b")
    short_cand = (
        sa.join(
            sb,
            (F.col("a.nk") == F.col("b.n")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.t"))
            .otherwise(F.col("b.t")).alias("t_a"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.t"))
            .otherwise(F.col("a.t")).alias("t_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    cand = long_cand.unionByName(short_cand).dropDuplicates(["id_a", "id_b"])
    dist = F.levenshtein(F.col("t_a"), F.col("t_b"), max_distance)
    return (
        cand.withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
        .select("id_a", "id_b", "distance")
    )


def dedup_cascade(
    df: DataFrame,
    id_col: str,
    text_col: str,
    url_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """The production dedup CASCADE, cheapest stage first (the
    RefinedWeb/FineWeb ordering): (1) canonical-URL dedup
    (text.canonical_url — catches recrawls/mirrors for the price of a
    string key), (2) exact content dedup (content_digest), (3)
    MinHash+LSH near-dup ([[minhash_dedup]]'s bucket-min rule) — each
    stage sees only the previous stage's survivors, so the expensive
    near-dup signatures are computed over an already-thinned corpus.

    Returns ONE verdict row per input document: ``(doc_id, stage)``
    with stage in {'url', 'exact', 'near', 'kept'} naming the FIRST
    stage that removed the doc ('kept' = survived all three) — the
    audit-trail form: kept ids feed the corpus, grouping removed ids
    by stage is the standard dedup report. Survivors are min-id per
    group at every stage (deterministic, engine-portable).

    NULL contracts compose unchanged: NULL urls AND urls whose
    canonical form is degenerate (empty string — missing/whitespace/
    fragment-only urls) pass the URL stage ungrouped (mirroring
    exact_dedup's NULL text contract; a '' canonical key would
    otherwise merge unrelated documents into one group), and NULL
    text passes exact and near untouched.

    Scale shape: three keyed shuffles (canonical string, digest, band
    buckets) + id anti-joins between stages — every stage linear, no
    pair lists (the near stage inherits minhash_dedup's bucket-min
    formulation). Each stage's survivor frame is eagerly
    localCheckpoint-ed (the CC precedent): the verdict
    union references every stage from several branches, and without
    the lineage break Catalyst re-derives the whole upstream cascade
    once per branch (measured 64 s -> ~4 s at sf0.01). At 100 TB the
    same boundaries become durable checkpoints/tables — exactly how
    production cascades are operated."""
    # Fail loudly on NULL ids (select_until_budget precedent): min-id
    # survivor selection ignores NULLs and both `> keep` and `== keep`
    # filters evaluate to NULL, so a NULL-id row would silently vanish
    # from the audit trail instead of getting a verdict.
    checked_id = F.when(
        qcol(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"dedup_cascade: NULL {id_col} — every document needs a "
                "stable id for min-id survivor selection"
            )
        ),
    ).otherwise(qcol(id_col))
    base_cols = [checked_id.alias("doc_id"), qcol(text_col).alias("__t__")]
    if url_col is not None:
        base_cols.append(qcol(url_col).alias("__u__"))
    base = df.select(*base_cols)
    pieces = []
    cur = base

    if url_col is not None:
        from polars_mas_spark.operators.text import canonical_url

        # A DEGENERATE canonical key (empty/whitespace/fragment-only
        # url canonicalizes to '') must never form a dedup group:
        # crawls that store missing urls as '' would otherwise collapse
        # every such document into one group and hard-delete all but
        # the min id (review r9). Degenerate keys bypass the URL stage
        # exactly like NULL urls.
        # Checkpoint the canonicalized frame: three consumers (group
        # mins, the survivor join, the degenerate bypass) would each
        # re-run the regexp-heavy canonical_url over the full scan —
        # measured 2.9 s -> 9.1 s at sf0.1 without the break.
        keyed_all = cur.withColumn(
            "__k__",
            F.when(F.col("__u__").isNotNull(), canonical_url(F.col("__u__"))),
        ).localCheckpoint(eager=True)
        degenerate = F.col("__k__").isNull() | (F.col("__k__") == "")
        keyed = keyed_all.filter(~degenerate)
        mins = keyed.groupBy("__k__").agg(F.min("doc_id").alias("__keep__"))
        lab = keyed.join(mins, "__k__")
        pieces.append(
            lab.filter(F.col("doc_id") > F.col("__keep__")).select(
                "doc_id", F.lit("url").alias("stage")
            )
        )
        cur = (
            lab.filter(F.col("doc_id") == F.col("__keep__"))
            .select("doc_id", "__t__")
            .unionByName(
                keyed_all.filter(degenerate).select("doc_id", "__t__")
            )
            .localCheckpoint(eager=True)
        )

    nonnull = cur.filter(F.col("__t__").isNotNull())
    keyed = nonnull.withColumn("__k__", content_digest(F.col("__t__")))
    mins = keyed.groupBy("__k__").agg(F.min("doc_id").alias("__keep__"))
    lab = keyed.join(mins, "__k__")
    pieces.append(
        lab.filter(F.col("doc_id") > F.col("__keep__")).select(
            "doc_id", F.lit("exact").alias("stage")
        )
    )
    cur = (
        lab.filter(F.col("doc_id") == F.col("__keep__"))
        .select("doc_id", "__t__")
        .unionByName(cur.filter(F.col("__t__").isNull()))
        .localCheckpoint(eager=True)
    )

    surv = minhash_dedup(
        cur, "doc_id", "__t__",
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
    ).select("doc_id").localCheckpoint(eager=True)
    pieces.append(
        cur.join(surv, on="doc_id", how="left_anti").select(
            "doc_id", F.lit("near").alias("stage")
        )
    )
    pieces.append(surv.withColumn("stage", F.lit("kept")))

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def incremental_dedup_cascade(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    url_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    new_vectors: DataFrame | None = None,
    seen_vectors: DataFrame | None = None,
    vec_threshold: float = 0.92,
    n_clusters: int = 8,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    seen_blooms: dict | None = None,
) -> DataFrame:
    """The rolling-crawl form of :func:`dedup_cascade` — the composite
    the r10 incremental family exists for: a NEW ingestion batch flows
    through the cheapest-first production cascade (canonical URL ->
    exact digest -> MinHash+LSH near-dup), where each stage removes
    (a) within-batch duplicates (min-id survivor, exactly
    dedup_cascade's rule), then (b) batch survivors whose stage key
    already exists in the ACCEPTED corpus (incremental_exact_dedup /
    incremental_minhash_dedup's rules). Each stage sees only the
    previous stage's survivors.

    Returns ONE verdict row per new-batch document: ``(doc_id, stage,
    vs)`` — ``stage`` in {'url', 'exact', 'near', 'kept'} (plus
    'semantic' when the optional embedding stage below is enabled)
    naming the first stage that removed it, ``vs`` = 'batch' (lost to
    a smaller-id batch doc) or 'seen' (content already accepted; NULL
    for kept).
    Within-batch collapse is attributed BEFORE seen-membership, so a
    duplicated batch doc whose content is also accepted reads 'batch'
    except for its min-id representative, which reads 'seen' — the
    composition of the standalone incremental operators' semantics.

    Scale shape: the seen corpus enters each stage as a DISTINCT
    reduced key set — canonical-url strings, 16-byte digests,
    (band, bucket) keys — accepted TEXT never shuffles (the minhash
    signature groupBy moves numeric halves keyed by doc id;
    tokenize/hash are map-side). At 100 TB these three key tables are
    persisted and appended per accepted batch (the
    [[incremental_minhash_dedup]] / [[span_fingerprints]] layout);
    batch-side work is dedup_cascade's (three keyed shuffles + id
    anti-joins, localCheckpoint at stage boundaries — same lineage
    rationale, measured there).

    NULL contracts compose unchanged from dedup_cascade: NULL ids
    raise; NULL/degenerate urls bypass the URL stage on BOTH sides;
    NULL text bypasses exact and near (no digest, no signature — it
    cannot match the seen corpus either).

    ``seen_blooms`` (optional dict with keys in {'url', 'exact',
    'near'}, each a per-epoch [[bloom.KeyBloom]] over that stage's
    persisted key table: canonical urls tagged ``canonical_url``,
    digests ``content_digest``, band keys
    ``band_bucket:{bands}x{rows_per_band}`` over [[band_bucket_key]])
    routes each stage's seen-membership check: bloom-negative
    keys skip both the semi and the anti join map-side (a negative
    can never match, so 'seen' attribution and survivorship are
    unchanged — the standalone operators' routing argument, composed).
    Verdicts are identical with or without filters."""
    _check_banding(num_hashes, bands, rows_per_band)
    seen_blooms = seen_blooms or {}
    unknown = set(seen_blooms) - {"url", "exact", "near"}
    if unknown:
        raise ValueError(
            f"incremental_dedup_cascade: unknown seen_blooms stages "
            f"{sorted(unknown)} (expected a subset of url/exact/near)"
        )
    if "url" in seen_blooms:
        seen_blooms["url"].check_tag("canonical_url", "incremental_dedup_cascade[url]")
    if "exact" in seen_blooms:
        seen_blooms["exact"].check_tag("content_digest", "incremental_dedup_cascade[exact]")
    if "near" in seen_blooms:
        seen_blooms["near"].check_tag(
            f"band_bucket:{bands}x{rows_per_band}",
            "incremental_dedup_cascade[near]",
        )
    checked_id = F.when(
        qcol(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"incremental_dedup_cascade: NULL {id_col} — every "
                "document needs a stable id for min-id survivor selection"
            )
        ),
    ).otherwise(qcol(id_col))
    base_cols = [checked_id.alias("doc_id"), qcol(text_col).alias("__t__")]
    # Seen-side ids are synthesized per row (review r10): the seen
    # corpus only contributes DISTINCT key sets, and grouping its
    # minhash by a caller id would merge NULL-/duplicate-id documents'
    # token sets into one signature (see incremental_minhash_dedup).
    seen_cols = [
        F.monotonically_increasing_id().alias("__sid__"),
        qcol(text_col).alias("__t__"),
    ]
    if url_col is not None:
        base_cols.append(qcol(url_col).alias("__u__"))
        seen_cols.append(qcol(url_col).alias("__u__"))
    cur = new_df.select(*base_cols)
    seen = seen_df.select(*seen_cols)
    pieces = []

    def _keyed_stage(cur, key_col, seen_keys, stage, checkpoint_input=False):
        """Within-batch min-id collapse then seen-membership drop on
        one key column; returns (verdict pieces, survivors).

        ``checkpoint_input`` materializes the keyed frame before its
        three consumers (group mins, survivor join, degenerate bypass)
        — worth it only when the key is expensive to recompute (the
        regexp-heavy canonical_url; dedup_cascade measured 2.9 s ->
        9.1 s without the break). The cheap md5 digest recomputes, the
        same trade dedup_cascade makes."""
        keyed_all = cur.localCheckpoint(eager=True) if checkpoint_input else cur
        degenerate = F.col(key_col).isNull() | (F.col(key_col) == "")
        keyed = keyed_all.filter(~degenerate)
        mins = keyed.groupBy(key_col).agg(F.min("doc_id").alias("__keep__"))
        lab = keyed.join(mins, key_col)
        batch = lab.filter(F.col("doc_id") > F.col("__keep__")).select(
            "doc_id", F.lit(stage).alias("stage"), F.lit("batch").alias("vs")
        )
        keeps = lab.filter(F.col("doc_id") == F.col("__keep__"))
        bloom = seen_blooms.get(stage)
        neg = None
        if bloom is not None:
            keeps = keeps.withColumn(
                "__maybe__", bloom.might_contain(F.col(key_col))
            )
            neg = keeps.filter(~F.col("__maybe__")).drop("__maybe__")
            keeps = keeps.filter(F.col("__maybe__")).drop("__maybe__")
        seen_hit = keeps.join(seen_keys, on=key_col, how="left_semi").select(
            "doc_id", F.lit(stage).alias("stage"), F.lit("seen").alias("vs")
        )
        surv = (
            keeps.join(seen_keys, on=key_col, how="left_anti")
            .drop(key_col, "__keep__")
            .unionByName(keyed_all.filter(degenerate).drop(key_col))
        )
        if neg is not None:
            surv = surv.unionByName(neg.drop(key_col, "__keep__"))
        return [batch, seen_hit], surv.localCheckpoint(eager=True)

    if url_col is not None:
        from polars_mas_spark.operators.text import canonical_url

        seen_urls = (
            seen.filter(F.col("__u__").isNotNull())
            .select(canonical_url(F.col("__u__")).alias("__k__"))
            .filter(F.col("__k__") != "")
            .distinct()
        )
        keyed = cur.withColumn(
            "__k__",
            F.when(F.col("__u__").isNotNull(), canonical_url(F.col("__u__"))),
        ).drop("__u__")
        got, cur = _keyed_stage(
            keyed, "__k__", seen_urls, "url", checkpoint_input=True
        )
        pieces += got

    seen_digests = (
        seen.filter(F.col("__t__").isNotNull())
        .select(content_digest(F.col("__t__")).alias("__k__"))
        .distinct()
    )
    keyed = cur.withColumn(
        "__k__",
        F.when(F.col("__t__").isNotNull(), content_digest(F.col("__t__"))),
    )
    got, cur = _keyed_stage(keyed, "__k__", seen_digests, "exact")
    pieces += got

    seen_keys = (
        _banded(
            minhash_signatures(seen, "__sid__", "__t__", num_hashes),
            bands,
            rows_per_band,
        )
        .select("band", "bucket")
        .distinct()
    )
    new_banded = _banded(
        minhash_signatures(cur, "doc_id", "__t__", num_hashes),
        bands,
        rows_per_band,
    ).localCheckpoint(eager=True)
    # within/cross are consumed by 3 and 2 subtrees each; checkpointing
    # them was A/B'd in r12 (interleaved, per the order-bias rule) and
    # REJECTED: the re-runs all land inside the single sink job and
    # parallelize, while two eager checkpoint jobs serialize — measured
    # ~0.6 s worse at sf0.1 (OPTIMIZATION_r12.md).
    within = (
        _bucket_mins(new_banded)
        .filter(F.col("doc_id") > F.col("bucket_min"))
        .select("doc_id")
        .distinct()
    )
    pieces.append(
        within.select(
            "doc_id", F.lit("near").alias("stage"), F.lit("batch").alias("vs")
        )
    )
    remaining = cur.join(within, on="doc_id", how="left_anti")
    cross_probe = new_banded.join(within, on="doc_id", how="left_anti")
    if "near" in seen_blooms:
        cross_probe = cross_probe.filter(
            seen_blooms["near"].might_contain(band_bucket_key())
        )
    cross = (
        cross_probe
        .join(seen_keys, on=["band", "bucket"], how="left_semi")
        .select("doc_id")
        .distinct()
    )
    pieces.append(
        cross.select(
            "doc_id", F.lit("near").alias("stage"), F.lit("seen").alias("vs")
        )
    )
    survivors = remaining.join(cross, on="doc_id", how="left_anti")

    # Optional fourth stage (r11, VERDICT r10 next-steps #4): semantic
    # near-dup vs the accepted corpus's embedding space. Only near-stage
    # survivors are scored; a batch doc with no vector row bypasses
    # (mirrors the NULL-text bypass — no embedding, no semantic key).
    # Seen embeddings STREAM map-side (the batch side broadcasts) —
    # see incremental_semantic_dedup's scale notes.
    if (new_vectors is None) != (seen_vectors is None):
        # Loud guard (review r11): one-sided vectors would silently
        # skip the semantic stage and report every semantic near-dup
        # as 'kept' — the silent-degradation class the r10 review
        # removed from this family.
        raise ValueError(
            "incremental_dedup_cascade: new_vectors and seen_vectors "
            "must be supplied together (got exactly one) — the "
            "semantic stage cannot run one-sided"
        )
    if new_vectors is not None and seen_vectors is not None:
        from polars_mas_spark.operators.similarity import (
            incremental_semantic_dedup,
        )

        surv_vecs = new_vectors.select(
            qcol(vec_id_col).alias("doc_id"), qcol(vec_col).alias("__v__")
        ).join(survivors.select("doc_id"), on="doc_id", how="left_semi")
        # Seen ids ARE used here (unlike the text stages' synthesized
        # __sid__): kmeans_centroids seeds from the k lowest-id seen
        # vectors, so the id must be the caller's stable key — a
        # monotonically_increasing_id would make the cluster space
        # depend on partition layout.
        seen_v = seen_vectors.select(
            qcol(vec_id_col).alias("doc_id"), qcol(vec_col).alias("__v__")
        )
        # localCheckpoint: sem_losers is consumed twice (verdict piece +
        # survivor anti-join); without it each consumer re-runs the
        # whole semantic plan INCLUDING the accepted-corpus embedding
        # scan — the stage-boundary rule every other stage follows
        # (review r11).
        sem_losers = (
            incremental_semantic_dedup(
                surv_vecs,
                seen_v,
                threshold=vec_threshold,
                n_clusters=n_clusters,
                id_col="doc_id",
                vec_col="__v__",
            )
            .filter(F.col("verdict") != "kept")
            .select(
                "doc_id",
                F.lit("semantic").alias("stage"),
                F.col("verdict").alias("vs"),
            )
            .localCheckpoint(eager=True)
        )
        pieces.append(sem_losers)
        survivors = survivors.join(
            sem_losers.select("doc_id"), on="doc_id", how="left_anti"
        )

    pieces.append(
        survivors.select(
            "doc_id",
            F.lit("kept").alias("stage"),
            F.lit(None).cast("string").alias("vs"),
        )
    )

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
