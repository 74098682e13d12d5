"""Table maintenance: snapshot diffing, changelog (CDC) application,
and declarative data-quality checks.

Beyond-reference surface — the operational layer around any long-lived
table: "what changed between yesterday's and today's snapshot", "apply
this upsert/delete changelog to the base table", "does the table still
satisfy its contract". All three are plain DataFrame programs:

- :func:`snapshot_diff` — ONE full-outer join on the key (each side
  shuffles once on the key it would shuffle on anyway); every column
  comparison is a map-side null-safe expression; unchanged rows are
  dropped by default so output is proportional to the churn, not the
  table.
- :func:`cdc_apply` — latest-change-wins compaction (key-partitioned
  window over the changelog only) + one full-outer join against the
  base; deletes drop, upserts replace, untouched base rows pass
  through. Scale is bounded by |base| + |changelog|, never their
  product.
- :func:`dq_checks` — rule list compiled into the MINIMUM number of
  jobs: all row-local rules (not_null / accepted_values / range) fuse
  into one aggregate pass; each uniqueness rule is one groupBy; each
  foreign-key rule is one anti-join count. Output is one tiny row per
  rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from polars_mas_spark.colutils import qcol


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff of two snapshots keyed by ``key_cols``:
    (keys..., change_type in added|removed|changed[|unchanged],
    changed_cols — comma-joined sorted column names, '' unless
    changed). Comparison is null-safe (NULL == NULL holds; NULL vs
    value is a change). ``compare_cols`` defaults to every shared
    non-key column."""
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    o = old.select(
        *[qcol(k).alias(f"__k_{k}") for k in key_cols],
        F.lit(True).alias("__in_old__"),
        *[qcol(c).alias(f"__o_{c}") for c in compare_cols],
    )
    n = new.select(
        *[qcol(k).alias(f"__nk_{k}") for k in key_cols],
        F.lit(True).alias("__in_new__"),
        *[qcol(c).alias(f"__n_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        # qcol, not F.col: the alias embeds the user name, so a dotted
        # key like '250.1' needs backticks to resolve.
        eq = qcol(f"__k_{k}").eqNullSafe(qcol(f"__nk_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    diffs = [
        F.when(
            ~qcol(f"__o_{c}").eqNullSafe(qcol(f"__n_{c}")), F.lit(c)
        )
        for c in sorted(compare_cols)
    ]
    # concat_ws skips NULL args (both here and in the SQL oracle), so
    # this is the sorted list of changed column names.
    changed_cols = F.concat_ws(",", *diffs) if diffs else F.lit("")
    change = (
        F.when(F.col("__in_old__").isNull(), F.lit("added"))
        .when(F.col("__in_new__").isNull(), F.lit("removed"))
        .when(changed_cols != "", F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *[
            F.coalesce(qcol(f"__k_{k}"), qcol(f"__nk_{k}")).alias(k)
            for k in key_cols
        ],
        change.alias("change_type"),
        F.when(change == "changed", changed_cols)
        .otherwise(F.lit(""))
        .alias("changed_cols"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    seq_col: str,
    op_col: str = "op",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Apply an insert/update/delete changelog to a base snapshot:
    the LATEST change per key — ordered by (``ts_col``, ``seq_col``);
    the sequence column makes the order total, same-timestamp ties are
    otherwise a lottery — wins. Op semantics: ``D`` deletes the key,
    anything else upserts ``value_cols``. Keys absent from the
    changelog pass through unchanged; upserts of unknown keys insert.

    Shape: one key-partitioned window over the CHANGELOG only (row 1
    per key), then one full-outer join with the base — both shuffles
    are keyed on the natural key, nothing iterative."""
    if value_cols is None:
        # Defaulted: every shared non-key/ts/seq/op column. Changelog
        # metadata columns the base doesn't have are simply not value
        # columns here.
        value_cols = [
            c
            for c in changes.columns
            if c not in set(key_cols) | {ts_col, seq_col, op_col}
            and c in set(base.columns)
        ]
    else:
        # Explicitly passed: the output schema is exactly the base
        # schema, so a value column the base doesn't have cannot be
        # applied — raise instead of silently ignoring it (r5 advice).
        unknown = [c for c in value_cols if c not in set(base.columns)]
        if unknown:
            raise ValueError(
                f"value_cols not present in base schema: {unknown}; "
                "cdc_apply emits the base schema, so changelog-only "
                "value columns cannot be carried through"
            )
    w = Window.partitionBy(*[qcol(k) for k in key_cols]).orderBy(
        qcol(ts_col).desc(), qcol(seq_col).desc()
    )
    latest = (
        changes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            *[qcol(k).alias(f"__ck_{k}") for k in key_cols],
            qcol(op_col).alias("__op__"),
            *[qcol(c).alias(f"__c_{c}") for c in value_cols],
        )
    )
    cond = None
    for k in key_cols:
        eq = qcol(k).eqNullSafe(qcol(f"__ck_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = base.join(latest, cond, "full_outer")
    alive = F.col("__op__").isNull() | (F.col("__op__") != "D")
    # Inserted keys (changelog-only) carry NULL for base columns not in
    # value_cols — the changelog simply doesn't know them.
    out_cols = []
    for c in base.columns:
        if c in set(key_cols):
            out_cols.append(
                F.coalesce(qcol(c), qcol(f"__ck_{c}")).alias(c)
            )
        elif c in set(value_cols):
            out_cols.append(
                F.when(F.col("__op__").isNotNull(), qcol(f"__c_{c}"))
                .otherwise(qcol(c))
                .alias(c)
            )
        else:
            out_cols.append(qcol(c))
    return j.filter(alive).select(*out_cols)


def dq_checks(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Run declarative data-quality rules; returns one row per rule:
    (rule string, violations long, passed bool). Rule dicts:

    - ``{"type": "not_null", "col": c}`` — NULLs in c
    - ``{"type": "accepted_values", "col": c, "values": [...]}`` —
      non-NULL values outside the list
    - ``{"type": "range", "col": c, "min": x, "max": y}`` — non-NULL
      values outside [x, y] (either bound optional)
    - ``{"type": "unique", "cols": [c, ...]}`` — rows beyond the first
      per duplicate key (exact; NULL keys group together)
    - ``{"type": "foreign_key", "col": c, "ref": DataFrame,
      "ref_col": r}`` — non-NULL values with no match in ref (an
      anti-join count; broadcast the ref side when it is a dimension)

    Row-local rules fuse into ONE aggregate job however many there
    are; unique/foreign_key rules cost one keyed job each. The result
    is a handful of rows — collect-safe at any table size."""
    agg_exprs, agg_names = [], []
    keyed: list[tuple[str, DataFrame]] = []
    for i, r in enumerate(rules):
        t = r["type"]
        if t == "not_null":
            name = f"not_null({r['col']})"
            expr = F.count(F.when(qcol(r["col"]).isNull(), 1))
        elif t == "accepted_values":
            name = f"accepted_values({r['col']})"
            expr = F.count(
                F.when(
                    qcol(r["col"]).isNotNull()
                    & ~qcol(r["col"]).isin(list(r["values"])),
                    1,
                )
            )
        elif t == "range":
            name = f"range({r['col']})"
            c = qcol(r["col"])
            bad = F.lit(False)
            if r.get("min") is not None:
                bad = bad | (c < F.lit(r["min"]))
            if r.get("max") is not None:
                bad = bad | (c > F.lit(r["max"]))
            expr = F.count(F.when(c.isNotNull() & bad, 1))
        elif t == "unique":
            cols = list(r["cols"])
            name = f"unique({','.join(cols)})"
            extra = (
                df.groupBy(*[qcol(c) for c in cols])
                .agg(F.count(F.lit(1)).alias("__n__"))
                .agg(
                    F.coalesce(
                        F.sum(F.col("__n__") - 1), F.lit(0)
                    ).alias("violations")
                )
            )
            keyed.append((name, extra))
            continue
        elif t == "foreign_key":
            name = f"foreign_key({r['col']}->{r['ref_col']})"
            ref = r["ref"].select(qcol(r["ref_col"]).alias("__fk__")).distinct()
            extra = (
                df.select(qcol(r["col"]).alias("__v__"))
                .filter(F.col("__v__").isNotNull())
                .join(ref, F.col("__v__") == F.col("__fk__"), "left_anti")
                .agg(F.count(F.lit(1)).alias("violations"))
            )
            keyed.append((name, extra))
            continue
        else:
            raise ValueError(f"unknown rule type: {t!r} (rule #{i})")
        agg_exprs.append(expr.alias(f"__r_{len(agg_names)}"))
        agg_names.append(name)

    results: list[tuple[str, int]] = []
    if agg_exprs:
        row = df.agg(*agg_exprs).first()
        results += [
            (name, int(row[f"__r_{i}"])) for i, name in enumerate(agg_names)
        ]
    # Union every keyed rule's 1-row frame and collect ONCE: k serial
    # .first() calls paid k job launches for k scalars (the same
    # per-job overhead drift_psi documents avoiding; review r9).
    if keyed:
        unioned = None
        for i, (name, frame) in enumerate(keyed):
            tagged = frame.select(
                F.lit(i).alias("__i__"), F.col("violations")
            )
            unioned = tagged if unioned is None else unioned.unionByName(tagged)
        by_idx = {int(r["__i__"]): int(r["violations"])
                  for r in unioned.collect()}
        results += [(name, by_idx[i]) for i, (name, _) in enumerate(keyed)]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, v, v == 0) for n, v in results],
        "rule string, violations long, passed boolean",
    )


def drift_psi(
    old: DataFrame,
    new: DataFrame,
    col: str,
    bin_edges: list[float],
    smoothing: float = 1e-4,
) -> DataFrame:
    """Population-stability-index drift report for one numeric column
    between two snapshots — the standard ML-monitoring statistic for
    "has this feature's distribution moved since training".

    ``bin_edges`` are EXPLICIT interior edges (callers derive them once
    from the baseline's quantiles and pin them — recomputing edges per
    run would make PSI drift when nothing moved). Values bucket as
    (-inf, e1), [e1, e2), ..., [ek, inf); NULLs get their own bucket
    (a null-rate shift is drift too). Each side is ONE aggregate of
    k+2 conditional counts, and the two sides are unioned so the whole
    report is ONE Spark job — no shuffle beyond the aggregates, no row
    movement; the report is computed from two (k+2)-count rows.

    Returns (bucket string, old_frac, new_frac, psi_term) plus a final
    ('__total__', ..., PSI) row; ``smoothing`` floors each fraction so
    an empty bucket cannot produce an infinite term (the conventional
    guard)."""
    edges = [float(e) for e in bin_edges]
    if not edges:
        raise ValueError("bin_edges must be non-empty (pin at least one edge)")
    if edges != sorted(edges) or len(set(edges)) != len(edges):
        raise ValueError("bin_edges must be strictly increasing")

    c = qcol(col).cast("double")
    conds = [("null", c.isNull())]
    lo = None
    for e in edges:
        name = f"[{lo},{e})" if lo is not None else f"(-inf,{e})"
        cond = (c < e) if lo is None else ((c >= lo) & (c < e))
        conds.append((name, c.isNotNull() & cond))
        lo = e
    conds.append((f"[{lo},inf)", c.isNotNull() & (c >= lo)))

    def counts_frame(df: DataFrame, side: str) -> DataFrame:
        return df.agg(
            F.lit(side).alias("__side__"),
            *[
                F.count(F.when(cond, 1)).alias(f"__b_{i}")
                for i, (_, cond) in enumerate(conds)
            ],
        )

    # One job for both snapshots: union the two 1-row aggregates and
    # collect once (two separate .first() calls would pay job-launch
    # overhead twice for the same answer).
    rows = {
        r["__side__"]: r
        for r in counts_frame(old, "old")
        .unionByName(counts_frame(new, "new"))
        .collect()
    }
    oc = [
        (name, int(rows["old"][f"__b_{i}"]))
        for i, (name, _) in enumerate(conds)
    ]
    nc = [
        (name, int(rows["new"][f"__b_{i}"]))
        for i, (name, _) in enumerate(conds)
    ]
    ot, nt = sum(v for _, v in oc) or 1, sum(v for _, v in nc) or 1
    import math

    def r6(x: float) -> float:
        # SQL ROUND (half away from zero), not Python's banker's round:
        # keeps the report reproducible against SQL engines.
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    out, total = [], 0.0
    for (name, o), (_, n) in zip(oc, nc):
        p = max(o / ot, smoothing)
        q = max(n / nt, smoothing)
        term = (q - p) * math.log(q / p)
        total += term
        out.append((name, r6(o / ot), r6(n / nt), r6(term)))
    out.append(("__total__", 1.0, 1.0, r6(total)))
    return old.sparkSession.createDataFrame(
        out, "bucket string, old_frac double, new_frac double, psi_term double"
    )


def _digest_encoding(cols: list[str]):
    """Canonical row encoding of table_digest: length-prefixed fields
    ``v{len}:{val}`` (NULL -> ``n``), '|'-joined — a prefix code, so
    embedded delimiters cannot shift field boundaries."""

    def field(c):
        v = qcol(c).cast("string")
        return F.when(v.isNull(), F.lit("n")).otherwise(
            F.concat(F.lit("v"), F.length(v).cast("string"), F.lit(":"), v)
        )

    return F.concat_ws("|", *[field(c) for c in cols])


def table_digest(
    df: DataFrame, cols: list[str] | None = None, salt: str = ""
) -> DataFrame:
    """Order-independent content fingerprint of a table — the cheap
    cross-environment equality check ("did the migration/backfill
    produce the same table?") that avoids sorting or diffing anything:
    one row (n_rows, xor_digest, sum_digest).

    Per-row digest: first 8 hex digits of md5 over a canonical
    '|'-joined length-prefixed encoding of ``cols`` — each field is
    ``v{len}:{val}``, NULL is the bare ``n`` marker (distinct from the
    empty string's ``v0:``); see :func:`_digest_encoding`, which any
    cross-engine oracle must replay exactly. Aggregation is
    commutative (XOR + a
    modular sum + count), so partition order, shuffle order, and
    engine never matter; the md5 construction is the same
    engine-portable one as the samplers, so another engine (the DuckDB
    oracle) reproduces the digest bit-for-bit. XOR alone is blind to
    duplicated row pairs (x XOR x = 0); the (count, modular-sum) pair
    restores sensitivity to duplication — collisions now need equal
    count AND equal sum AND equal xor. The modular reduction (% 10^6+3
    per row) keeps the BIGINT sum overflow-free up to ~9e12 rows.

    Float columns: cast-to-string formatting is engine-specific (and
    length() must agree on character counting for non-BMP unicode)
    (Spark's Java Double.toString vs C printf) — round/format floats
    to strings explicitly upstream if cross-engine digests must match;
    int/string/date columns are portable as-is. One aggregate job,
    map-side combined, zero shuffle beyond the final merge."""
    cols = cols or df.columns
    enc = _digest_encoding(cols)
    from polars_mas_spark.operators.sampling import md5_u32

    h = md5_u32(enc, salt, null_sentinel=False)
    tmp = df.select(h.alias("__h__"))
    return tmp.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(__h__)").alias("xor_digest"),
        F.sum(F.col("__h__") % 1000003).alias("sum_digest"),
    )


def derive_bin_edges(
    df: DataFrame, col: str, k: int = 10, relative_error: float = 1e-3
) -> list[float]:
    """Derive ``k``-bucket equi-depth interior edges from a BASELINE
    snapshot — the one-time companion to :func:`drift_psi` and
    ``writers.zorder_value``, both of which require PINNED edges (an
    edge recomputed per run would make PSI read zero for real drift
    and reshuffle a z-layout on every write). One ``approxQuantile``
    job (mergeable sketch, no shuffle); duplicate quantiles from
    heavy-tailed data are collapsed so the result is always strictly
    increasing (fewer than k-1 edges on low-cardinality columns).
    Persist the returned list next to the model/layout it baselines."""
    if k < 2:
        raise ValueError("k must be >= 2 (at least one interior edge)")
    probs = [i / k for i in range(1, k)]
    cuts = (
        df.select(qcol(col).cast("double").alias("__v__"))
        .dropna()
        .stat.approxQuantile("__v__", probs, relative_error)
    )
    out: list[float] = []
    for c in cuts:
        if not out or c > out[-1]:
            out.append(float(c))
    return out
