"""Text-analysis operators: edge cases the DuckDB-oracle queries can't
probe (empty/short documents, duplicate-content invariants)."""


def test_winnow_fingerprints_edges(spark):
    from polars_mas_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "short"),                      # < k chars -> no k-grams
         (2, "exactly8"),                   # one k-gram, < window -> empty
         (3, "the quick brown fox jumps over the lazy dog"),  # dup of 0
         (4, "")],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, "text", k=8, window=4).toPandas().set_index("doc_id")
    assert list(out.loc[1, "fingerprints"]) == []
    assert list(out.loc[2, "fingerprints"]) == []
    assert list(out.loc[4, "fingerprints"]) == []
    assert len(out.loc[0, "fingerprints"]) > 0
    assert list(out.loc[0, "fingerprints"]) == list(out.loc[3, "fingerprints"])
    # A shared long substring must share at least one fingerprint.
    df2 = spark.createDataFrame(
        [(0, "AAAA the quick brown fox BBBB"),
         (1, "CCCCCC the quick brown fox DD")],
        "doc_id long, text string",
    )
    o2 = winnow_fingerprints(df2, "text", k=8, window=4).toPandas().set_index("doc_id")
    assert set(o2.loc[0, "fingerprints"]) & set(o2.loc[1, "fingerprints"])


def test_fingerprint_normalization(spark):
    from polars_mas_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "different text")],
        "doc_id long, text string",
    )
    out = fingerprint(df, "text").toPandas().set_index("doc_id")
    assert out.loc[0, "fingerprint"] == out.loc[1, "fingerprint"]
    assert out.loc[0, "fingerprint"] != out.loc[2, "fingerprint"]


def test_simhash_segment_blocking_full_recall(spark):
    """The (max_distance+1)-segment blocking must recover EXACTLY the
    unblocked hamming<=d pair set (pigeonhole losslessness), at the
    production 64-bit width."""
    import numpy as np

    from polars_mas_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = dd.simhash(docs, "doc_id", "text", bits=64)
    pdf = sims.toPandas()
    vals = {r.doc_id: int(r.simhash, 16) for r in pdf.itertuples()}
    ids = sorted(vals)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(vals[a] ^ vals[b]).count("1") <= 3:
                expect.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in dd.simhash_hamming_pairs(sims, max_distance=3, bits=64)
        .toPandas().itertuples()
    }
    assert got == expect


def test_connected_min_labels_transitive(spark):
    """CC labels vs greedy: edges a-c, b-c (a<b<c) form ONE component;
    min-label propagation must label all three with a, while greedy
    dedup would keep both a and b."""
    from polars_mas_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 3), (2, 3)], "doc_a long, doc_b long"
    )
    labels = {
        r.doc_id: r.label
        for r in dd.connected_min_labels(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1}


def test_repetition_signals_known_fractions(spark):
    """'a a b c' -> 4 words, dup 1/4, top word 2/4; bigrams
    ['a a','a b','b c'] all distinct -> top bigram 1/3."""
    from polars_mas_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in tx.repetition_signals(df, "doc_id", "text").collect()
    }
    assert rows[1].n_words == 4
    assert rows[1].dup_word_frac == 0.25
    assert rows[1].top_word_frac == 0.5
    assert abs(rows[1].top_bigram_frac - round(1 / 3, 6)) < 1e-9
    assert rows[2].n_words == 1 and rows[2].top_bigram_frac == 0.0
    assert rows[3].n_words == 0 and rows[3].dup_word_frac == 0.0


def test_pii_scrub_masks_all_three(spark):
    from polars_mas_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org see https://a.b/c?d=1 "
             "call +1 555 010-1234 done")],
        "doc_id long, text string",
    )
    out = tx.pii_scrub(df, "text").first().text
    assert out == "mail <EMAIL> see <URL> call <PHONE> done"


def test_quality_filter_per_rule_flags(spark):
    from polars_mas_spark.operators import text as tx

    good = "the cat and the dog went to the market in town " * 3  # 36 words
    short = "the cat"
    repeated = " ".join(["the"] * 40)  # dup frac 39/40 > 0.9
    df = spark.createDataFrame(
        [(1, good, "en"), (2, short, "en"), (3, repeated, "en"),
         (4, good, "de"), (5, "zz qq ww " * 10, "en")],
        "doc_id long, text string, lang string",
    )
    rows = {
        r.doc_id: r
        for r in tx.quality_filter(df, "doc_id", "text", lang_col="lang").collect()
    }
    assert rows[1].kept
    assert not rows[2].len_ok and not rows[2].kept
    assert not rows[3].rep_ok and not rows[3].kept
    assert not rows[4].lang_ok and not rows[4].kept
    assert not rows[5].stop_ok and not rows[5].kept


def test_corpus_source_stats(spark):
    from polars_mas_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "aaaa", "s1", "en"), (2, "bb", "s1", "de"), (3, "c", "s2", "en")],
        "doc_id long, text string, source string, lang string",
    )
    rows = {
        r.source: r
        for r in tx.corpus_source_stats(df, "source", "text", "lang").collect()
    }
    assert rows["s1"].n_docs == 2 and rows["s1"].total_chars == 6
    assert rows["s1"].avg_chars == 3.0 and rows["s1"].n_langs == 2
    assert rows["s2"].min_chars == rows["s2"].max_chars == 1


def test_token_histogram_counts_and_order(spark):
    from polars_mas_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a c B")], "doc_id long, text string"
    )
    rows = tx.token_histogram(df, "text", top_n=2).collect()
    assert [(r.token, r.n) for r in rows] == [("a", 3), ("b", 2)]


def test_tfidf_rare_term_wins(spark):
    """A term unique to one doc must outscore corpus-wide terms there."""
    from polars_mas_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "common rare"), (2, "common common x"), (3, "common y z")],
        "doc_id long, text string",
    )
    top = {
        r.doc_id: r.token
        for r in tx.tfidf_top_terms(df, "doc_id", "text", top_k=1).collect()
    }
    # equal tf=1 in doc 1: idf('rare')=ln(4/2)+1 > idf('common')=ln(4/4)+1
    assert top[1] == "rare"


def test_ngram_contamination_fraction(spark):
    from polars_mas_spark.operators import text as tx

    corpus = spark.createDataFrame(
        [(10, "the quick brown fox jumps"), (11, "entirely clean words here now")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in tx.ngram_contamination(corpus, bench, "doc_id", "text", n=3).collect()
    }
    # corpus doc 10 trigrams: 'the quick brown','quick brown fox','brown fox jumps'
    assert rows[10].n_grams == 3 and rows[10].n_contaminated == 2
    assert rows[10].contamination_frac == round(2 / 3, 6)
    assert rows[11].n_contaminated == 0


def test_heavy_hitter_ngrams_exact_counts(spark):
    """Sketch + exact-confirm equals the naive exact aggregate — on a
    sketch-ADVERSARIAL distribution (many distinct singletons pressure
    the Misra-Gries counters; the superset guarantee must still hold)
    and across the support-floor fallback and empty edges."""
    from pyspark.sql import functions as F

    from polars_mas_spark.operators import text as tx

    rows = [(i, f"unique filler {i} noise {i * 7} pad {i * 13}") for i in range(300)]
    rows += [(1000 + i, "accept all cookies now please friend") for i in range(40)]
    rows += [(2000 + i, "click here to subscribe today") for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    got = {
        r.ngram: r.cnt
        for r in tx.heavy_hitter_ngrams(df, "text", n=3, min_count=20).collect()
    }
    naive = {
        r.ngram: r.cnt
        for r in tx._ngram_stream(df, "text", 3)
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 20)
        .collect()
    }
    assert got == naive
    assert got["accept all cookies"] == 40 and got["click here to"] == 25
    assert all(c >= 20 for c in got.values())

    # min_count above the stream total -> empty, stable schema
    empty = tx.heavy_hitter_ngrams(df, "text", n=3, min_count=10**9)
    assert empty.columns == ["ngram", "cnt"] and empty.count() == 0

    # support-floor fallback: needs (min_count - 0.5)/total < 1e-4, so
    # inflate the corpus past 5000 trigrams (the original fixture's
    # ~1.7k total would silently take the SKETCH path at min_count=1 —
    # review r12 caught exactly that)
    big = spark.createDataFrame(
        rows + [(10_000 + i, f"bulk {i} filler {i * 3} pad {i * 11} row")
                for i in range(1200)],
        "doc_id long, text string",
    ).repartition(8)
    total = tx._ngram_stream(big, "text", 3).count()
    assert (1 - 0.5) / total < 1e-4  # genuinely on the fallback branch
    low = {
        r.ngram: r.cnt
        for r in tx.heavy_hitter_ngrams(big, "text", n=3, min_count=1).collect()
    }
    assert low["accept all cookies"] == 40
    assert sum(low.values()) == total

    # min_frac: the scale-free threshold — ceil(frac * total), exact
    frac = 20 / total
    by_frac = {
        r.ngram: r.cnt
        for r in tx.heavy_hitter_ngrams(df, "text", n=3, min_frac=frac).collect()
    }
    assert by_frac == naive

    import pytest

    with pytest.raises(ValueError):
        tx.heavy_hitter_ngrams(df, "text", n=3)  # neither threshold
    with pytest.raises(ValueError):
        tx.heavy_hitter_ngrams(df, "text", n=3, min_count=5, min_frac=0.5)
    with pytest.raises(ValueError):
        tx.heavy_hitter_ngrams(df, "text", n=3, min_frac=1e-5)  # under floor


def test_winnow_pairs_detects_shared_substring(spark):
    """Two docs sharing a long substring must pair; unrelated must not."""
    from polars_mas_spark.operators.text import winnow_pairs

    shared = "the identical shared substring block"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, shared + " suffix two"),
         (3, "completely different content here")],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in
             winnow_pairs(df, "doc_id", "text", min_shared=2).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


# ---------------------------------------------------------------------------
# chunk_dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------


def test_chunk_dedup_removes_later_occurrence(spark):
    from polars_mas_spark.operators.dedup import chunk_dedup

    span = "a b c d e f g h i j"  # exactly one 10-word chunk
    df = spark.createDataFrame(
        [(1, span + " unique tail words here now ok yes no maybe end"),
         (2, span),  # doc 2 is exactly the duplicated span
         (3, "completely different words that survive entirely fine")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text_dedup"] for r in chunk_dedup(df, "doc_id", "text").collect()}
    assert out[1].startswith(span)          # first occurrence kept
    assert out[2] == ""                     # later occurrence deleted
    assert out[3].startswith("completely")  # untouched


def test_chunk_dedup_keeps_all_docs_and_is_idempotent(spark):
    from polars_mas_spark.operators.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(1, "x " * 25), (2, "x " * 25), (3, "")], ["doc_id", "text"]
    )
    once = chunk_dedup(df, "doc_id", "text")
    assert once.count() == 3  # empty/fully-deduped docs still present
    again = chunk_dedup(
        once.withColumnRenamed("text_dedup", "text"), "doc_id", "text"
    )
    # within-doc repeated chunks collapse on the first pass...
    first = {r["doc_id"]: r["text_dedup"] for r in once.collect()}
    second = {r["doc_id"]: r["text_dedup"] for r in again.collect()}
    # ...and a second pass changes nothing
    assert first == second


def test_span_dedup_cross_alignment_recall(spark):
    """span_dedup removes a repeated span REGARDLESS of word alignment
    — the Lee et al. 2022 granularity chunk_dedup's fixed grid misses.
    The same 10-word span sits at offset 0 in doc 1, offset 3 in doc 2,
    and offset 7 in doc 3: chunk_dedup (k=10) sees three DIFFERENT
    chunk sets and removes nothing; span_dedup keeps only doc 1's copy."""
    from polars_mas_spark.operators.dedup import chunk_dedup, span_dedup

    span = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
    rows = [
        (1, span + " tail1 tail2 tail3"),
        (2, "p0 p1 p2 " + span + " u1 u2"),
        (3, "q0 q1 q2 q3 q4 q5 q6 " + span),
        (4, "clean words only nothing repeated here at all today fine ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    chunked = {
        r["doc_id"]: r["text_dedup"]
        for r in chunk_dedup(df, "doc_id", "text", k=10).collect()
    }
    # The misaligned copies hide from the fixed chunk grid entirely.
    for i, t in rows:
        assert chunked[i] == t

    spanned = {
        r["doc_id"]: r["text_dedup"]
        for r in span_dedup(df, "doc_id", "text", k=10).collect()
    }
    assert spanned[1] == span + " tail1 tail2 tail3"  # first occurrence kept
    assert spanned[2] == "p0 p1 p2 u1 u2"             # span excised mid-doc
    assert spanned[3] == "q0 q1 q2 q3 q4 q5 q6"       # span excised at tail
    assert spanned[4] == rows[3][1]                   # clean doc untouched


def test_bpe_and_span_dedup_input_validation(spark):
    """Malformed inputs fail loudly at plan-build time, not with
    silently-wrong results: k < 1 span windows."""
    import pytest

    from polars_mas_spark.operators.dedup import span_dedup

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="k >= 1"):
        span_dedup(df, "doc_id", "text", k=0)


def test_span_dedup_overlong_span_and_short_docs(spark):
    """A repeated span LONGER than k is removed in full (every stride-1
    window marks its cover); docs shorter than k words emit no windows
    and pass through whitespace-normalized; empty/None-like docs come
    back as ''."""
    from polars_mas_spark.operators.dedup import span_dedup

    long_span = " ".join(f"w{i}" for i in range(15))  # 15 words, k=10
    rows = [
        (1, "intro " + long_span),
        (2, long_span + " outro"),
        (3, "tiny doc under k words"),
        (4, "  spaced   out   tiny  "),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["text_dedup"]
        for r in span_dedup(df, "doc_id", "text", k=10).collect()
    }
    assert out[1] == "intro " + long_span  # global first occurrence
    assert out[2] == "outro"               # all 15 span words removed
    assert out[3] == "tiny doc under k words"
    assert out[4] == "spaced out tiny"     # normalized, untouched
    assert out[5] == ""


def test_incremental_minhash_dedup_cross_batch(spark):
    """Cross-batch near-dup semantics: an exact copy of an accepted doc
    is dropped (all bands collide), a fresh doc with disjoint vocabulary
    survives, within-batch duplicate pairs keep their min-id member,
    and a doc near-identical to an accepted one (same token SET) drops
    even though its digest differs — the case incremental_exact_dedup
    cannot catch."""
    from polars_mas_spark.operators.dedup import incremental_minhash_dedup

    seen = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),  # exact copy of seen 1
            (11, "theta eta zeta epsilon delta gamma beta alpha alpha"),  # same token set as seen 1
            (12, "totally fresh unrelated vocabulary words here now"),
            (13, "totally fresh unrelated vocabulary words here now"),  # within-batch dup of 12
            (14, "kappa lambda mu nu xi omicron pi rho sigma"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id
        for r in incremental_minhash_dedup(
            new, seen, "doc_id", "text", num_hashes=16, bands=4, rows_per_band=4
        ).collect()
    }
    assert 10 not in out           # exact cross-batch copy dropped
    assert 11 not in out           # token-set twin dropped (near-dup, not exact)
    assert 12 in out and 13 not in out  # within-batch: min id kept
    assert 14 in out               # genuinely new content survives


def test_incremental_dedup_drops_seen_digests(spark):
    from polars_mas_spark.operators.dedup import incremental_exact_dedup

    seen = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "beta")],
        ["doc_id", "text"],
    )
    out = sorted(
        r["doc_id"]
        for r in incremental_exact_dedup(new, seen, "doc_id", "text").collect()
    )
    # alpha/beta already seen; gamma collapses to its min id
    assert out == [11]



def test_passage_split_windows_and_overlap(spark):
    from polars_mas_spark.operators.text import passage_split

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, "short doc"), (3, "")],
                               ["doc_id", "text"])
    out = passage_split(df, "doc_id", "text", max_words=64, overlap=16)
    rows = {(r["doc_id"], r["passage_idx"]): r for r in out.collect()}
    # doc 1: starts at words 1, 49 -> passages of 64 and 52 words; the
    # start at word 97 is fully contained in the second passage (words
    # 49-100) and is dropped (r4 subsumption fix).
    assert [rows[(1, i)]["n_words"] for i in range(2)] == [64, 52]
    assert (1, 2) not in rows
    p0, p1 = rows[(1, 0)]["passage"].split(), rows[(1, 1)]["passage"].split()
    assert p0[48:] == p1[:16]  # consecutive passages share the overlap
    assert rows[(2, 0)]["n_words"] == 2
    assert (3, 0) not in rows  # empty docs emit nothing

    import pytest as _pytest
    with _pytest.raises(ValueError):
        passage_split(df, "doc_id", "text", max_words=16, overlap=16)


def test_banding_mismatch_rejected(spark):
    """Review r4: bands*rows_per_band > num_hashes used to slice empty
    signature bands, giving every doc the md5('') bucket and silently
    deleting nearly the whole corpus. Must raise instead."""
    import pytest
    from polars_mas_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a b c"), (2, "d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exceeds num_hashes"):
        dd.minhash_dedup(df, "doc_id", "text", num_hashes=16, bands=8, rows_per_band=4)
    with pytest.raises(ValueError, match="exceeds num_hashes"):
        dd.minhash_dedup_cc(df, "doc_id", "text", num_hashes=8, bands=4, rows_per_band=4)


def test_connected_min_labels_huge_ids(spark):
    """Review r4: the old sum(label) convergence probe overflowed bigint
    for hash-sized ids under ANSI mode. Labels must converge correctly
    for ids near Long.MAX."""
    from polars_mas_spark.operators.dedup import connected_min_labels

    big = 9_200_000_000_000_000_000  # ~Long.MAX (9.22e18)
    pairs = spark.createDataFrame(
        [(big, big + 5), (big + 5, big + 11), (big + 20, big + 22)],
        "doc_a long, doc_b long",
    )
    labels = {r["doc_id"]: r["label"] for r in connected_min_labels(pairs).collect()}
    assert labels == {
        big: big, big + 5: big, big + 11: big,
        big + 20: big + 20, big + 22: big + 20,
    }


def test_exact_dedup_null_text_passthrough(spark):
    """Review r4: NULL content has no digest and must never be grouped
    as 'duplicates' — all NULL-text rows pass through, consistent with
    incremental_exact_dedup's anti-join semantics."""
    from polars_mas_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, "other")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df, "doc_id", "text").collect())
    assert kept == [1, 3, 4, 5]


def test_word_shingles_whitespace_padding(spark):
    """Review r4: leading/trailing whitespace must not produce corrupt
    shingles containing empty tokens — ' a b c' and 'a b c' shingle
    identically."""
    from polars_mas_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, " a b c"), (2, "a b c "), (3, "a  b c")],
        "doc_id long, text string",
    )
    rows = word_shingles(df, "doc_id", "text", n=3).collect()
    assert {(r["doc_id"], r["shingle"]) for r in rows} == {
        (1, "a b c"), (2, "a b c"), (3, "a b c"),
    }


def test_jaccard_empty_tokens_excluded(spark):
    """Review r4: '' from padded text must not enter the word sets —
    'a b ' vs ' c d' share nothing, jaccard has no pair above 0."""
    from polars_mas_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b "), (2, " c d")], "doc_id long, text string"
    )
    out = jaccard_pairs(df, "doc_id", "text", threshold=0.01,
                        length_tolerance=1.0).collect()
    assert out == []


def test_jaccard_length_band_lossless_and_symmetric(spark):
    """Review r10: the default length band must be LOSSLESS at the
    requested threshold (J <= min/max, so min >= t*max admits every
    possible >=t pair) and symmetric in id assignment. A containment
    pair with |A|=4 ⊂ |B|=5 has J=0.8 exactly — the old smaller-id-
    anchored 1.2x band dropped it; both id orders must now find it."""
    from polars_mas_spark.operators.dedup import jaccard_pairs

    small = "w1 w2 w3 w4"
    big = "w1 w2 w3 w4 w5"
    for rows in ([(1, small), (2, big)], [(1, big), (2, small)]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(1, 2, 0.8)], rows
    # just below the lossless band (4 vs 6 -> max possible J = 2/3):
    # pruned by the band AND truly below threshold — no false negative
    df = spark.createDataFrame(
        [(1, small), (2, "w1 w2 w3 w4 w5 w6")], "doc_id long, text string"
    )
    assert jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect() == []


def test_ngram_contamination_reports_short_docs(spark):
    """Review r4: documents shorter than n words must appear in the
    report with n_grams=0 rather than silently vanishing."""
    from polars_mas_spark.operators.text import ngram_contamination

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "tiny")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in
            ngram_contamination(corpus, bench, "doc_id", "text", n=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_grams"] == 0
    assert rows[2]["n_contaminated"] == 0
    assert rows[2]["contamination_frac"] == 0.0
    assert rows[1]["n_grams"] == 2 and rows[1]["n_contaminated"] == 1


def test_passage_split_no_subsumed_tail(spark):
    """Review r4: a doc of exactly max_words words must emit ONE
    passage; trailing windows fully contained in the previous passage
    are dropped."""
    from polars_mas_spark.operators.text import passage_split

    text64 = " ".join(f"w{i}" for i in range(64))
    text65 = " ".join(f"w{i}" for i in range(65))
    text100 = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text64), (2, text65), (3, text100)], "doc_id long, text string"
    )
    out = passage_split(df, "doc_id", "text", max_words=64, overlap=16)
    rows = [(r["doc_id"], r["passage_idx"], r["n_words"]) for r in out.collect()]
    by_doc = {}
    for d, i, n in rows:
        by_doc.setdefault(d, []).append((i, n))
    assert by_doc[1] == [(0, 64)]              # no subsumed second passage
    assert by_doc[2] == [(0, 64), (1, 17)]     # word 65 is new content
    assert by_doc[3] == [(0, 64), (1, 52)]     # 49..100; start 97 subsumed


def test_fuzzy_pairs_exact_vs_python_dp(spark):
    """fuzzy_pairs must equal the brute-force DP levenshtein pair set —
    including short strings below the q-gram lemma threshold that share
    NO gram ('ab'/'cd' at d=2) and boundary long/short pairs."""
    from polars_mas_spark.operators.dedup import fuzzy_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    texts = {
        1: "ab", 2: "cd", 3: "abc", 4: "abcd", 5: "abcdef",
        6: "abcdeg", 7: "xyzzy", 8: "", 9: "a", 10: "abzdef",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for d in (1, 2):
        expect = {
            (a, b, lev(texts[a], texts[b]))
            for a in texts for b in texts
            if a < b and lev(texts[a], texts[b]) <= d
        }
        got = {
            (r.id_a, r.id_b, r.distance)
            for r in fuzzy_pairs(df, "doc_id", "text", max_distance=d).collect()
        }
        assert got == expect, (d, got ^ expect)


def test_leakage_safe_split_keeps_neardups_together(spark):
    """Planted near-duplicates must share an LSH component label (the
    key a leakage-safe split hashes), while unrelated documents label
    themselves."""
    from polars_mas_spark.operators.dedup import minhash_component_labels

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    rows = [(1, base), (2, base + " extra"), (3, "completely different "
            "words about cooking pasta with tomato sauce and basil")]
    # Pad with distinct filler docs so buckets aren't degenerate.
    rows += [(10 + i, f"filler document number {i} with unique content "
              f"token{i} token{i + 1} token{i + 2}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labels = minhash_component_labels(
        df, "doc_id", "text", num_hashes=16, bands=8, rows_per_band=2
    )
    out = {r.doc_id: r.label for r in labels.collect()}
    assert out[1] == out[2] == 1                # same component
    assert out[3] == 3                          # singleton labels itself
    assert len(out) == 33                       # every doc labeled


def test_bm25_hand_computed_scores(spark):
    """Tiny corpus where every BM25 quantity is hand-checkable: idf
    uses the Lucene non-negative variant, tf saturation and length
    normalization apply, docs without query terms never appear."""
    import math

    import pytest

    from polars_mas_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "cat dog"),        # dl 2
            (2, "cat cat cat"),    # dl 3
            (3, "bird"),           # dl 1
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame([(10, "cat")], "query_id long, query_text string")
    rows = {
        r.doc_id: (r.rank, r.score)
        for r in bm25_topk(docs, queries, k=5).collect()
    }
    n, df_cat, avgdl, k1, b = 3, 2, 2.0, 1.2, 0.75
    idf = math.log(1 + (n - df_cat + 0.5) / (df_cat + 0.5))

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(rows) == {1, 2}  # doc 3 has no query term
    assert rows[2][1] == pytest.approx(s(3, 3), rel=1e-9)
    assert rows[1][1] == pytest.approx(s(1, 2), rel=1e-9)
    assert rows[2][0] == 1 and rows[1][0] == 2  # saturation still ranks tf=3 first


def test_canonical_url_edges(spark):
    """canonical_url edge semantics: https default port, tracking-only
    query (the '?' must drop), root-path slash, param sorting, case
    preservation in path/query, and non-URL input degrading to an
    opaque lowered-authority string."""
    from pyspark.sql import functions as F

    from polars_mas_spark.operators.text import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/B/?b=2&a=1#x", "https://example.com/A/B?a=1&b=2"),
        ("https://example.com:4430/a", "https://example.com:4430/a"),
        ("http://ex.com/?utm_source=x&fbclid=1&ref=z", "http://ex.com"),
        ("http://ex.com/p?gclid&utm_source", "http://ex.com/p"),  # valueless
        ("http://ex.com/p?refresh=1", "http://ex.com/p?refresh=1"),
        ("http://ex.com/", "http://ex.com"),
        ("http://ex.com/p?id=Z&id=A", "http://ex.com/p?id=A&id=Z"),
        ("ex.com/path/", "ex.com/path"),
        ("  http://ex.com/x  ", "http://ex.com/x"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_url_dedup_summary_collapses_variants(spark):
    """All spellings of one logical URL collapse to one group with the
    min-id representative and the distinct raw-form count."""
    from polars_mas_spark.operators.text import url_dedup_summary

    rows = [
        (3, "http://ex.com/p?id=1&v=2"),
        (1, "HTTP://EX.COM/p?id=1&v=2"),
        (2, "http://www.ex.com:80/p/?v=2&id=1#frag"),
        (4, "http://ex.com/p?id=1&v=2"),  # exact repeat of doc 3's form
        (9, "http://other.com/q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r.canonical_url: (r.n_docs, r.first_doc, r.n_raw_forms)
        for r in url_dedup_summary(df, "doc_id", "url").collect()
    }
    assert out["http://ex.com/p?id=1&v=2"] == (4, 1, 3)
    assert out["http://other.com/q"] == (1, 9, 1)


def test_extract_html_text_edges(spark):
    from polars_mas_spark.operators import text as tx

    rows = [
        (1, '<HTML><HEAD><TITLE>Up&amp;Case</TITLE></HEAD>'
            '<BODY><P>a  b</P></BODY></HTML>'),          # uppercase tags
        (2, '<p>no title &copy; stays</p>'),             # unknown entity
        (3, None),                                       # NULL html
        (4, '<script>x="</p>"</script>kept'
            '<style>a{content:"</b>"}</style>'),         # fake closers
        (5, '<!-- <p>gone</p> -->&amp;lt; single-pass'), # no double decode
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r for r in tx.extract_html_text(df, "html").collect()}
    # head block (incl. the title text) is chrome — body text only
    assert got[1].title == "Up&Case" and got[1].extracted_text == "a b"
    assert got[2].title == "" and got[2].extracted_text == "no title &copy; stays"
    assert got[3].title == "" and got[3].extracted_text == ""
    assert got[4].extracted_text == "kept"
    assert got[5].extracted_text == "&lt; single-pass"


def test_span_decontaminate_surgical_and_total(spark):
    from polars_mas_spark.operators.dedup import span_decontaminate

    bench = spark.createDataFrame(
        [(100, "s0 s1 s2 s3 s4 s5 s6 s7")],   # one 8-word benchmark doc
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # benchmark span embedded mid-document (misaligned)
            (1, "a b s0 s1 s2 s3 s4 s5 s6 s7 c d"),
            # only a 2-word brush with the benchmark: below k -> kept
            (2, "s0 s1 x y z w"),
            # clean document
            (3, "p q r s t u"),
            # the benchmark text verbatim -> fully removed
            (4, "s0 s1 s2 s3 s4 s5 s6 s7"),
            # short doc (< k words): never contaminated by construction
            (5, "s0"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_decontaminate(corpus, bench, "doc_id", "text", k=4).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].clean_text == "a b c d"
    assert out[1].n_removed == 8 and out[1].contaminated
    assert out[2].clean_text == "s0 s1 x y z w" and not out[2].contaminated
    assert out[3].clean_text == "p q r s t u" and out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 8
    assert out[5].clean_text == "s0" and not out[5].contaminated
    # bookkeeping identity holds on every row
    for r in out.values():
        assert r.n_tokens - r.n_removed == len(
            r.clean_text.split()
        ), r


def _para_rows():
    boiler = " ".join(f"b{i}" for i in range(8))
    d1 = (
        " ".join(f"a{i}" for i in range(8))
        + " " + boiler + " "
        + " ".join(f"c{i}" for i in range(8))
    )
    return [
        (1, d1),                                       # first occurrence: intact
        (2, boiler + " " + " ".join(f"d{i}" for i in range(8))),  # loses boiler
        (3, " ".join(f"e{i}" for i in range(4))),      # short, clean
        (4, d1),                                       # full copy -> empty
        (5, ""),                                       # empty doc
    ]


def test_paragraph_neardup_dedup_semantics(spark):
    from polars_mas_spark.operators.dedup import paragraph_neardup_dedup

    df = spark.createDataFrame(_para_rows(), "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in paragraph_neardup_dedup(
            df, "doc_id", "text", max_words=8
        ).collect()
    }
    assert out[1].n_removed == 0 and out[1].clean_text == _para_rows()[0][1]
    assert out[2].clean_text == " ".join(f"d{i}" for i in range(8))
    assert out[2].n_passages == 2 and out[2].n_removed == 1
    assert out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 3
    assert out[5].clean_text == "" and out[5].n_passages == 0
    # surviving text is always a sub-multiset of the original tokens
    orig = dict(_para_rows())
    for d, r in out.items():
        from collections import Counter

        assert not Counter(r.clean_text.split()) - Counter(orig[d].split())


def test_paragraph_neardup_dedup_idempotent(spark):
    """Re-running on the survivors removes nothing more: pass-1 output
    is a fixpoint on this corpus (copies emptied, boilerplate cut once;
    surviving passages pairwise share no band bucket and the untouched
    docs' passage grids are unchanged)."""
    from polars_mas_spark.operators.dedup import paragraph_neardup_dedup

    df = spark.createDataFrame(_para_rows(), "doc_id long, text string")
    p1 = paragraph_neardup_dedup(df, "doc_id", "text", max_words=8)
    p2 = paragraph_neardup_dedup(
        p1.selectExpr("doc_id", "clean_text AS text"),
        "doc_id",
        "text",
        max_words=8,
    )
    r1 = {r.doc_id: r.clean_text for r in p1.collect()}
    r2 = {r.doc_id: r for r in p2.collect()}
    assert r1 == {d: r.clean_text for d, r in r2.items()}
    assert all(r.n_removed == 0 for r in r2.values())


def test_incremental_span_decontaminate_semantics(spark):
    """Cross-batch misaligned spans are cut; spans repeated only WITHIN
    the new batch survive; the persisted-fingerprint path is identical
    to the text path."""
    from polars_mas_spark.operators.dedup import (
        incremental_span_decontaminate,
        span_fingerprints,
    )

    seen = spark.createDataFrame(
        [
            (100, "u v s0 s1 s2 s3 s4 s5 s6 s7"),  # span mid-doc
            (101, "other accepted material here entirely"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # accepted span at a DIFFERENT alignment -> cut
            (1, "s0 s1 s2 s3 s4 s5 s6 s7 tail words"),
            # span repeated only within the NEW batch -> survives twice
            (2, "n0 n1 n2 n3 n4 lead"),
            (3, "lead n0 n1 n2 n3 n4"),
            # clean
            (4, "p q r s t u"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in incremental_span_decontaminate(
            new, seen, "doc_id", "text", k=4
        ).collect()
    }
    assert out[1].clean_text == "tail words" and out[1].n_removed == 8
    assert not out[2].contaminated and out[2].clean_text == "n0 n1 n2 n3 n4 lead"
    assert not out[3].contaminated
    assert out[4].clean_text == "p q r s t u" and out[4].n_removed == 0
    for r in out.values():
        assert r.n_tokens - r.n_removed == len(r.clean_text.split())

    # persisted-fingerprint path == text path (the 100 TB layout)
    fps = span_fingerprints(seen, "text", k=4)
    out_fp = {
        r.doc_id: r
        for r in incremental_span_decontaminate(
            new, fps, "doc_id", "text", k=4, seen_is_fingerprints=True
        ).collect()
    }
    assert {d: (r.clean_text, r.n_removed) for d, r in out.items()} == {
        d: (r.clean_text, r.n_removed) for d, r in out_fp.items()
    }


def test_unicode_normalize_forms_and_strip(spark):
    """NFC composes combining sequences; NFKC additionally folds
    compatibility forms (ligature, fullwidth); controls/zero-widths
    strip while tab/newline survive; NULL -> ''; output matches python
    unicodedata on every row; normalization is idempotent."""
    import unicodedata

    from polars_mas_spark.operators.text import unicode_normalize

    rows = [
        (0, "cafe\u0301 nai\u0308ve"),  # decomposed accents
        (1, "\ufb01n \uff21\uff22 \u2460"),  # NFKC-only folds
        (2, "ze\u200bro\twi\u200ddth\nbe\x07ll\ufeff"),
        (3, None),
        (4, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def py(form, s):
        import re

        out = unicodedata.normalize(form, s or "")
        return re.sub(
            "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\u200b-\u200d\ufeff]", "", out
        )

    for form in ("NFC", "NFKC"):
        got = {
            r.doc_id: r
            for r in unicode_normalize(df, "doc_id", "text", form=form).collect()
        }
        for i, t in rows:
            assert got[i].text_norm == py(form, t), (form, i)
            assert got[i].n_chars_norm == len(py(form, t))
        assert got[3].text_norm == "" and not got[3].changed
        assert not got[4].changed
        assert got[2].changed and "\t" in got[2].text_norm
        assert "\n" in got[2].text_norm and "\x07" not in got[2].text_norm

    # NFC leaves the ligature; NFKC folds it
    nfc = {r.doc_id: r.text_norm
           for r in unicode_normalize(df, "doc_id", "text", form="NFC").collect()}
    nfkc = {r.doc_id: r.text_norm
            for r in unicode_normalize(df, "doc_id", "text", form="NFKC").collect()}
    assert nfc[1].startswith("\ufb01n") and nfkc[1].startswith("fin")
    assert nfc[0] == nfkc[0] == "caf\u00e9 na\u00efve"  # composed

    # idempotent: normalizing the output changes nothing
    once = unicode_normalize(df, "doc_id", "text", form="NFKC")
    twice = unicode_normalize(
        once.selectExpr("doc_id", "text_norm AS text"),
        "doc_id", "text", form="NFKC",
    )
    assert all(not r.changed for r in twice.collect())

    import pytest

    with pytest.raises(ValueError):
        unicode_normalize(df, "doc_id", "text", form="NFX")


def test_r10_review_guards(spark):
    """Loud-failure guards added by the r10 review: simhash bits
    validation, lsh_candidate_pairs runtime banding check,
    paragraph_neardup_dedup doc-id packing bounds,
    connected_min_labels non-convergence, and NULL-id seen docs
    contributing real band keys to the incremental near-dup."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from polars_mas_spark.operators.dedup import (
        connected_min_labels,
        incremental_minhash_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        paragraph_neardup_dedup,
        simhash,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    for bad_bits in (0, 62, 128):
        with pytest.raises(ValueError, match="multiple of 4"):
            simhash(docs, "doc_id", "text", bits=bad_bits)

    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    with pytest.raises(Exception, match="collapse every document"):
        lsh_candidate_pairs(sigs, bands=8, rows_per_band=4).collect()

    huge = spark.createDataFrame(
        [(1 << 50, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="pid packing"):
        paragraph_neardup_dedup(huge, "doc_id", "text", max_words=2).collect()

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_min_labels(pairs, max_rounds=1)

    # a NULL-id seen document must still block its exact near-dup
    seen = spark.createDataFrame(
        [(None, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta"), (8, "other words here")],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in incremental_minhash_dedup(new, seen, "doc_id", "text").collect()
    }
    assert kept == {8}


def test_incremental_dedup_cascade_attribution(spark):
    """Stage and batch/seen attribution on a hand-built seen/new pair:
    within-batch collapse attributes 'batch' before seen-membership;
    NULL url/text bypass their stages; every new doc gets exactly one
    verdict."""
    from polars_mas_spark.operators.dedup import incremental_dedup_cascade

    seen = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon", "http://a.com/x"),
            (101, "one two three four five six seven",
             "http://b.com/y?utm_source=z"),
        ],
        "doc_id long, text string, url string",
    )
    new = spark.createDataFrame(
        [
            # url canonicalizes onto seen 100's -> url/seen
            (1, "fresh novel content entirely here", "HTTP://A.com:80/x"),
            # exact text of seen 100 -> exact/seen
            (2, "alpha beta gamma delta epsilon", "http://c.com/1"),
            # 3 wins the within-batch url group, 4 loses -> url/batch
            (3, "unique doc body qqq www eee", "http://d.com/1"),
            (4, "unique doc body qqq www eee rrr", "http://d.com/1"),
            # near-dup of seen 101 -> near/seen
            (5, "one two three four five six seven extra", "http://e.com/1"),
            # 6 kept; 7 exact dup of 6 within batch -> exact/batch
            (6, "totally different payload zz yy xx", "http://f.com/1"),
            (7, "totally different payload zz yy xx", "http://g.com/1"),
            # NULL url and text bypass every stage
            (8, None, None),
        ],
        "doc_id long, text string, url string",
    )
    out = {
        r.doc_id: (r.stage, r.vs)
        for r in incremental_dedup_cascade(
            new, seen, "doc_id", "text", url_col="url"
        ).collect()
    }
    assert out == {
        1: ("url", "seen"),
        2: ("exact", "seen"),
        3: ("kept", None),
        4: ("url", "batch"),
        5: ("near", "seen"),
        6: ("kept", None),
        7: ("exact", "batch"),
        8: ("kept", None),
    }


def test_dedup_cascade_stage_attribution(spark):
    """Each duplicate is attributed to the FIRST stage that catches it;
    survivors are min-id; NULL url/text pass their stages untouched."""
    from polars_mas_spark.operators.dedup import dedup_cascade

    rows = [
        # url dups: same canonical URL, different text -> later id = 'url'
        (1, "alpha beta gamma delta", "http://a.com/p?x=1"),
        (2, "completely different words here", "HTTP://A.com:80/p?x=1"),
        # exact dups (distinct urls): identical text -> later id = 'exact'
        (3, "same same same same", "http://b.com/1"),
        (4, "same same same same", "http://b.com/2"),
        # near dups: one token differs in a 30-word doc -> 'near'
        (5, " ".join(f"w{i}" for i in range(30)), "http://c.com/1"),
        (6, " ".join(f"w{i}" for i in range(29)) + " zz", "http://c.com/2"),
        # clean doc
        (7, "totally unrelated content q r s t u v", "http://d.com/1"),
        # NULL url and NULL text pass through to 'kept'
        (8, "another unique doc body x y z", None),
        (9, None, "http://e.com/1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    # 8 bands x 2 rows: a J~0.94 pair collides in some band with
    # probability 1 - (1 - J^2)^8 ~ 1 - 1e-9 — and the hashes are
    # deterministic, so this specific outcome is frozen, not flaky.
    got = {r.doc_id: r.stage for r in
           dedup_cascade(df, "doc_id", "text", url_col="url",
                         num_hashes=16, bands=8, rows_per_band=2).collect()}
    assert got == {
        1: "kept", 2: "url", 3: "kept", 4: "exact",
        5: "kept", 6: "near", 7: "kept", 8: "kept", 9: "kept",
    }


def test_dedup_cascade_null_id_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import AnalysisException  # noqa: F401
    from polars_mas_spark.operators.dedup import dedup_cascade

    df = spark.createDataFrame(
        [(None, "some text", "http://a.com/1"),
         (2, "other text", "http://a.com/2")],
        "doc_id long, text string, url string",
    )
    # the eager stage checkpoint inside the operator triggers the job,
    # so the raise surfaces at construction time already
    import pytest as _pt
    with _pt.raises(Exception, match="NULL doc_id"):
        dedup_cascade(df, "doc_id", "text", url_col="url").collect()


def test_dedup_cascade_degenerate_urls_never_group(spark):
    """Docs whose urls canonicalize to '' (empty/whitespace/fragment)
    bypass the URL stage instead of collapsing into one group."""
    from polars_mas_spark.operators.dedup import dedup_cascade

    rows = [
        (1, "first unique body aa bb cc", ""),
        (2, "second unique body dd ee ff", "   "),
        (3, "third unique body gg hh ii", "#frag-only"),
        (4, "fourth unique body jj kk ll", "http://real.com/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    got = {r.doc_id: r.stage for r in
           dedup_cascade(df, "doc_id", "text", url_col="url").collect()}
    assert got == {1: "kept", 2: "kept", 3: "kept", 4: "kept"}


def test_span_decontaminate_null_text_and_idless_benchmark(spark):
    """NULL corpus text yields (\"\", 0, 0, False) — never NULL
    bookkeeping a boolean filter would drop; benchmark frames need no
    id column at all."""
    from polars_mas_spark.operators.dedup import span_decontaminate

    corpus = spark.createDataFrame(
        [(1, None), (2, "b0 b1 b2 b3 tail words")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("b0 b1 b2 b3",)], "text string")
    got = {r.doc_id: r for r in
           span_decontaminate(corpus, bench, "doc_id", "text", k=4).collect()}
    assert (got[1].clean_text, got[1].n_tokens, got[1].n_removed,
            got[1].contaminated) == ("", 0, 0, False)
    assert got[2].clean_text == "tail words" and got[2].n_removed == 4


def test_extract_html_text_header_tag_not_head(spark):
    """<header> must not match the head-block pattern: content between
    a <header> element and a later literal </head> survives."""
    from polars_mas_spark.operators import text as tx

    s = ("<header>Nav</header><main>REAL CONTENT</main>"
         "<head profile=\"x\"><title>t2</title></head>")
    df = spark.createDataFrame([(1, s)], "doc_id long, html string")
    r = tx.extract_html_text(df, "html").collect()[0]
    assert "REAL CONTENT" in r.extracted_text
    assert "Nav" in r.extracted_text  # header CONTENT is body text
    assert r.title == "t2"
