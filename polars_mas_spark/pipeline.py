"""End-to-end MAS pipeline orchestration.

Reference: /root/reference/src/polars_mas/pipeline.py:17-42
(read -> preprocess -> associations -> postprocess -> write). The
reference materializes the preprocessed table to a /dev/shm Arrow IPC
file so its worker processes can mmap it. Here that role depends on the
plan. On the columnar path, the default up to 100M rows, each task reads
its columns straight from parquet files: the source files when the input
is a plain parquet scan, else one ``checkpoint_wide`` copy of the raw
table. On the tall paths (packed, moments) it is played by
``persist(MEMORY_AND_DISK)``: the eager preprocessing statistics and the
association shuffle both reuse the cached partitions instead of
re-scanning the source (SURVEY.md §4 note 1).

A local parquet input is planned from its footers, as the reference
reads only the header (config.py:123): ``readers.parquet_input`` gives
its header, files and row count from one footer read per file, and the
Spark frame over it is built only when a Spark job needs it — a plan
that is not columnar, or a recipe statistic that runs as a Spark job.
At 806 columns building, analysing and printing that frame's plan cost
0.18 s of CPU per study (4-core guest). Every other input (CSV, a
hive-partitioned directory, a URI, a ``df=`` frame) is read by Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from polars_mas_spark.colutils import qname
from polars_mas_spark.config import MASConfig
from polars_mas_spark.operators.association import (
    MOMENTS_MAX_COVARIATES,
    STRATEGIES,
    _parquet_files,
    checkpoint_wide,
    choose_strategy,
    input_row_count,
    reusable_scan_files,
    run_associations,
)
from polars_mas_spark.operators.postprocessing import (
    add_phecode_definitions,
    benjamini_hochberg,
    bonferroni,
)
from polars_mas_spark.operators.preprocessing import build_prep_recipe, preprocess
from polars_mas_spark.sources.readers import ParquetInput, parquet_input, read_input
from polars_mas_spark.sources.writers import write_output

# Studies the columnar PrepRecipe path cannot run, as (applies, reason)
# rules over the config and the Spark master. An auto pick of columnar
# falls back to packed and records the first reason that applies; an
# explicit strategy="columnar" raises it, because an explicit request is
# never silently swapped. Each reason names its config field and
# suggests only strategies that can run the study.
_COLUMNAR_GUARDS = (
    (
        lambda c, master: c.missing_covariate_values in ("forward", "backward"),
        "missing_covariate_values={c.missing_covariate_values!r}: ordered "
        "covariate fills need the Spark window path; use packed or "
        "a different missing-value strategy",
    ),
    # The dependent-variable transforms run as Spark jobs over the tall
    # path (rint is a global rank per dependent); the PrepRecipe has no
    # transform pass, so the flag would be silently ignored.
    (
        lambda c, master: c.rint or c.logt,
        "rint/logt: the PrepRecipe path has no dependent-transform pass; "
        "use packed, or drop the flag",
    ),
    # The correlated-covariate pruner runs inside preprocess(), which the
    # PrepRecipe replaces: the same model would differ by physical
    # strategy (review r5 finding).
    (
        lambda c, master: c.drop_correlated_above is not None,
        "drop_correlated_above: the PrepRecipe path has no correlation "
        "pass; use packed, or drop the flag",
    ),
    # Columnar's per-task column-pruned reads go through pyarrow, which
    # needs POSIX-visible paths; a URI checkpoint target (hdfs://,
    # s3a://) means no shared mount.
    (
        lambda c, master: bool(c.checkpoint_dir) and "://" in c.checkpoint_dir,
        "checkpoint_dir={c.checkpoint_dir!r} is a URI, but columnar needs a "
        "POSIX-shared directory; point checkpoint_dir at a mounted path, or "
        "use packed",
    ),
)
# Auto picks only. With a non-local master and no shared checkpoint_dir
# the columnar checkpoint would land where the driver's POSIX reads
# cannot see it, so packed is the safe auto choice. An EXPLICIT columnar
# request proceeds: source-file reuse (reusable_scan_files) runs
# checkpoint-free on any shared mount, and the broken case still fails
# with checkpoint_wide's actionable error.
_AUTO_COLUMNAR_GUARDS = (
    (
        lambda c, master: c.checkpoint_dir is None and not master.startswith("local"),
        "checkpoint_dir is unset on a non-local master, so a columnar "
        "checkpoint would not be visible to the driver",
    ),
)


@dataclass(frozen=True)
class StudyPlan:
    """How one study's fan-out runs, as decided by plan_study.

    ``requested`` is the caller's strategy (None for the auto pick).
    ``files`` are, for columnar only, the source parquet files it reads
    directly; None means a checkpoint is written first. ``n_rows`` and
    ``row_source`` ("footers" or "spark count") are set when the auto
    pick needed a row count. ``reasons`` holds one entry per fallback
    taken, in order: why columnar became packed, or why a columnar
    study cannot read its parquet input's own files."""

    strategy: str
    requested: str | None
    files: list[str] | None = None
    n_rows: int | None = None
    row_source: str | None = None
    reasons: tuple[str, ...] = ()

    def after_preprocess(self, n_covariates: int) -> StudyPlan:
        """The plan once preprocessing has fixed the covariate count.

        The auto moments pick saw the PRE-one-hot covariate count;
        encoding can expand past the moments cap, so fall back to packed
        instead of letting _fit_linear_moments raise after a full
        preprocessing pass. An explicit strategy='moments' still raises
        there — the user asked for it by name."""
        if (
            self.requested is None
            and self.strategy == "moments"
            and n_covariates > MOMENTS_MAX_COVARIATES
        ):
            reason = (
                f"{n_covariates} covariates after one-hot encoding exceed "
                f"the moments cap of {MOMENTS_MAX_COVARIATES}"
            )
            return replace(self, strategy="packed", reasons=(*self.reasons, reason))
        return self


def plan_study(
    spark: SparkSession,
    config: MASConfig,
    source: DataFrame | ParquetInput,
    strategy: str | None = None,
) -> StudyPlan:
    """Pick the fan-out strategy for a resolved study. This is the only
    code that picks or changes a strategy (see also
    StudyPlan.after_preprocess).

    ``source`` is the projected input frame, or a local parquet input's
    footers (run_study's ParquetInput), whose files and row count are
    used as they are. ``strategy=None`` is the auto pick. A linear
    quantitative study with at most 64 covariates takes moments, which
    needs no row count. Anything else picks by row count
    (choose_strategy). The count is summed from the parquet footers of a
    plain parquet scan, with no Spark job; any other input is persisted
    and then counted by Spark, so the counting pass fills the cache the
    chosen path reads. A columnar pick that a guard above forbids
    becomes packed, with the guard's reason recorded; an explicit
    columnar request raises it."""
    if strategy is not None and strategy not in STRATEGIES:
        # A typo must not pick a physical plan (review r9).
        raise ValueError(
            f"unknown strategy {strategy!r}; valid: "
            f"{'/'.join(STRATEGIES)} (or None for auto)"
        )
    requested = strategy
    if (
        strategy is None
        and config.model == "linear"
        and config.quantitative
        and len(config.covariate_columns) <= MOMENTS_MAX_COVARIATES
    ):
        strategy = "moments"
    footers = isinstance(source, ParquetInput)
    refusals: list[str] = []
    if strategy not in (None, "columnar"):
        files = None
    elif footers:
        files = list(source.files)
    else:
        files = reusable_scan_files(source, refusals)
    n_rows = row_source = None
    if strategy is None:
        if footers:
            n_rows = source.n_rows
        else:
            if files is None:
                # Not a plain parquet scan, so Spark must count it.
                # Persist first so the counting pass also fills the
                # cache: the tall path re-persists the same handle (a
                # no-op) and the columnar path unpersists it once its
                # checkpoint exists.
                source.persist(StorageLevel.MEMORY_AND_DISK)
            n_rows = input_row_count(files, source)
        row_source = "spark count" if files is None else "footers"
        strategy = choose_strategy(n_rows)
    reasons: tuple[str, ...] = ()
    if strategy == "columnar":
        guards = _COLUMNAR_GUARDS + (() if requested else _AUTO_COLUMNAR_GUARDS)
        master = spark.sparkContext.master
        for applies, reason in guards:
            if applies(config, master):
                reason = reason.format(c=config)
                if requested:
                    raise ValueError(
                        f"strategy='columnar' cannot run this study: {reason}"
                    )
                strategy, reasons = "packed", (reason,)
                break
        else:
            reasons = tuple(refusals)
    return StudyPlan(
        strategy, requested, files if strategy == "columnar" else None,
        n_rows, row_source, reasons,
    )


def _project(df: DataFrame, config: MASConfig) -> DataFrame:
    """``df`` reduced to the study's included columns."""
    # Column pruning, minimally: at PheWAS width this projection was a
    # measured ~6 s of FIXED driver time per run — ~1,800 qcol() py4j
    # round-trips plus a 1,800-arg select. Skip it when the input
    # already holds exactly the included set (the benchmark case:
    # downstream reads columns BY NAME, so order is immaterial), and
    # otherwise ship ONE selectExpr call with backticked names instead
    # of per-column Column objects.
    included = list(config.included_columns)
    # The length check keeps the skip safe for inputs carrying DUPLICATE
    # column names: set-equality alone would skip the select and defer
    # the failure to an opaque ambiguous-reference error deep in the
    # strategy code; forcing the projection here makes the duplicate
    # fail immediately at pipeline entry with a clear locus (selectExpr
    # on a duplicated name throws AMBIGUOUS_REFERENCE — duplicates are
    # rejected, not repaired).
    if len(df.columns) != len(included) or set(df.columns) != set(included):
        df = df.selectExpr(*[qname(c) for c in included])
    return df


def run_study(
    spark: SparkSession,
    config: MASConfig,
    df: DataFrame | None = None,
    input_path: str | None = None,
    output_path: str | None = None,
    phecode_defs: DataFrame | None = None,
    strategy: str | None = None,
) -> pa.Table:
    """Run the full MAS dataflow and return the results as a local
    ``pyarrow.Table``, sorted by pval. Takes run_pipeline's arguments;
    the CLI prints from this table, so showing results runs no Spark
    job."""
    if df is None and input_path is None:
        raise ValueError("Provide either df or input_path")
    # A local parquet input is planned from its footers: its header,
    # files and row count (readers.parquet_input). The Spark frame over
    # it is built only when a Spark job needs it: a plan that is not
    # columnar, or a recipe statistic that runs as a Spark job.
    source = None if df is not None else parquet_input(spark, input_path)
    if source is None:
        if df is None:
            df = read_input(spark, input_path, null_values=config.null_value_tokens)
        config.resolve(df.columns)
        df = _project(df, config)
    else:
        config.resolve(source.schema.names)

    def frame() -> DataFrame:
        # The projected input frame, built once, on first use. Spark
        # reads the footers' absolute path: the JVM's working directory
        # need not be this process's.
        nonlocal df
        if df is None:
            df = _project(
                read_input(spark, source.path, null_values=config.null_value_tokens),
                config,
            )
        return df

    plan = plan_study(spark, config, df if source is None else source, strategy)
    if plan.strategy == "columnar":
        # Every table up to 100M rows, whatever its pair count, and above
        # all the wide-short PheWAS shape, where the preprocessed wide
        # table must never exist as a JVM schema — caching or row-pivoting
        # ~1,800 columns costs tens of seconds per pass in codegen and
        # Arrow<->row conversion. Instead: (1) land the RAW included table
        # as parquet — reusing the source files directly when the input
        # already is a plain parquet scan, else one pyarrow checkpoint;
        # (2) reduce preprocessing to a PrepRecipe via narrow
        # column-pruned stats jobs; (3) slice the pair ids with
        # spark.range into balanced contiguous runs (no shuffle), each
        # task decoding its ids to (predictor, dependent), reading only
        # its columns and applying the recipe in pandas — exactly how the
        # reference's workers mmap its IPC file (analysis.py:54-59).
        if plan.files is None:
            ckpt = checkpoint_wide(frame(), config.checkpoint_dir)
            df.unpersist()  # checkpoint written; drop any pre-count cache
            df = spark.read.parquet(ckpt)
            recipe = build_prep_recipe(df, config, source_files=_parquet_files(ckpt))
        else:
            ckpt = None
            recipe = build_prep_recipe(
                frame, config, source_files=plan.files,
                schema=df.schema if source is None else source.schema,
                n_rows=plan.n_rows if source is None else source.n_rows,
            )
        # df is None here only when no Spark job needed the input frame.
        results = run_associations(
            df, config, strategy="columnar",
            checkpoint_path=ckpt, recipe=recipe, source_files=plan.files,
        )
    else:
        # Tall shape (over 100M rows, a linear moments study, an
        # explicit tall strategy, or a planner guard forced it): cache
        # the projected input — the auto pick's Spark count already
        # filled the cache when the input is not a plain parquet scan —
        # because preprocess collects eager statistics and, uncached,
        # every stat job would re-execute the upstream plan. Then persist the
        # preprocessed table as the analog of the reference's
        # shared-memory IPC checkpoint (preprocessing.py:111-132) and run
        # the tall fan-out from it: packed, or moments for a linear
        # study.
        raw = frame().persist(StorageLevel.MEMORY_AND_DISK)
        pre = preprocess(raw, config)
        if config.rint or config.logt:
            # §2.12 dependent-variable transforms, applied AFTER fills
            # and BEFORE the fan-out (the reference declares these CLI
            # flags but never wires them — cli.py:93-103; here they are
            # real). rint = per-dependent two-phase global rank + Blom
            # probit; logt = map-only natural log (non-positive values
            # become NULL and the kernels treat them as missing).
            from polars_mas_spark.functions.transforms import (
                log_transform,
                rint as rint_transform,
            )

            for dep in config.dependent_columns:
                pre = (
                    rint_transform(pre, dep)
                    if config.rint
                    else log_transform(pre, dep)
                )
        pre = pre.persist(StorageLevel.MEMORY_AND_DISK)
        pre.count()  # materialize before the fan-out; frees the raw cache
        raw.unpersist()
        plan = plan.after_preprocess(len(config.covariate_columns))
        results = run_associations(pre, config, strategy=plan.strategy)
        pre.unpersist()  # the fitted rows are collected

    # The results are one local P x D table from here on, as in the
    # reference (postprocessing.py:6-40): the corrections, the
    # annotation and the write run on the driver, with no Spark job
    # apart from the one collect of the phecode definitions.
    results = bonferroni(results)
    if config.correction == "bh":
        results = benjamini_hochberg(results)
    if phecode_defs is not None:
        results = add_phecode_definitions(
            results, phecode_defs, config.is_phewas, config.is_flipwas
        )
    if output_path is not None:
        # Like the reference, the writer is picked by the output path's
        # suffix (postprocessing.py:33-40); config.output_type is the
        # fallback for suffix-less paths.
        suffix = output_path.rsplit(".", 1)[-1].lower() if "." in output_path else ""
        out_type = suffix if suffix in ("parquet", "csv", "tsv", "txt") else config.output_type
        write_output(results, output_path, out_type)
    return results


def run_pipeline(
    spark: SparkSession,
    config: MASConfig,
    df: DataFrame | None = None,
    input_path: str | None = None,
    output_path: str | None = None,
    phecode_defs: DataFrame | None = None,
    strategy: str | None = None,
) -> DataFrame:
    """Run the full MAS dataflow; returns the results DataFrame.

    Programmatic-first API (the reference is CLI-only; a Python API is on
    its declared roadmap, README.md:163): pass either an already-loaded
    wide DataFrame or an input path. ``strategy`` forces the fan-out's
    physical strategy ("columnar"/"packed"/"moments"); None
    lets plan_study pick it. The DataFrame wraps run_study's local
    table (building it runs no Spark job).
    """
    return spark.createDataFrame(
        run_study(spark, config, df, input_path, output_path, phecode_defs, strategy)
    )
