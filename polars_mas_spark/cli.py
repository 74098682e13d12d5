"""Command-line surface for the Spark MAS engine.

Parity with the reference CLI (/root/reference/src/polars_mas/cli.py:5-163):
same flags, same short options, same defaults — re-expressed for Spark.
Differences, all documented:

- ``-n/--num-workers`` and ``-t/--threads`` are accepted but advisory:
  Spark's scheduler replaces joblib process fan-out (SURVEY.md §2.11 K6).
  ``-n`` maps to ``local[n]`` when no master is given.
- ``--master`` / ``--shuffle-partitions`` are Spark-specific additions.
- ``--order-col`` names the explicit row-order column forward/backward
  fill requires (Spark tables have no inherent row order, SURVEY §2.5).
- ``--correction bh`` enables the Benjamini-Hochberg FDR the reference
  declares on its roadmap but never implements (README.md:159).
- ``--phecode-defs`` points at a phecode definition CSV for the
  ``--phewas``/``--flipwas`` annotation join. Like the reference
  (constants.py:6-13) a copy of the public PheWAS-catalog definitions
  table is bundled and used by default; the flag overrides it so any
  definitions version can be used.
"""

from __future__ import annotations

import argparse
import sys


def create_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="polars-mas-spark",
        description="PySpark Multiple Association Study (MAS) engine",
    )
    p.add_argument("--dry-run", action="store_true",
                   help="Validate config and print the summary without running")

    io = p.add_argument_group("Input Options")
    io.add_argument("-i", "--input", type=str, required=False,
                    help="Input path (.parquet/.csv/.tsv/.txt; txt is tab-delimited)")
    io.add_argument("-o", "--output", type=str,
                    help="Output path; writer chosen by suffix, else --output-type")
    io.add_argument("-p", "--predictors", type=str,
                    help="Predictor columns (comma list; names or i:IDX / i:A-B ranges)")
    io.add_argument("-d", "--dependents", type=str,
                    help="Dependent columns (comma list; names or i: ranges)")
    io.add_argument("-c", "--covariates", type=str,
                    help="Covariate columns (comma list; names or i: ranges)")
    io.add_argument("-cc", "--categorical-covariates", type=str,
                    help="Categorical covariate columns (subset of covariates)")
    io.add_argument("-nv", "--null-values", type=str, default=None,
                    help="Extra null tokens (comma list)")
    io.add_argument("-ot", "--output-type", type=str, default="csv",
                    choices=["parquet", "csv", "tsv", "txt"])

    ap = p.add_argument_group("Association Parameters")
    ap.add_argument("-n", "--num-workers", type=int, default=0,
                    help="Local core count (0 = all cores); advisory under a real master")
    ap.add_argument("-t", "--threads", type=int, default=2,
                    help="Accepted for reference parity; Spark manages task threads")
    ap.add_argument("-qt", "--quantitative", action="store_true")
    tx = ap.add_mutually_exclusive_group()
    tx.add_argument("--rint", action="store_true",
                    help="Rank-based inverse-normal transform of dependents")
    tx.add_argument("--logt", action="store_true",
                    help="Log transform of dependents")
    ap.add_argument("-m", "--model", type=str, default="firth",
                    choices=["firth", "logistic", "linear", "poisson"])
    ap.add_argument("-mc", "--min-case-count", type=int, default=20)
    ap.add_argument("-mcv", "--missing-covariate-values", type=str, default="fail",
                    choices=["fail", "drop", "forward", "backward", "min", "max",
                             "mean", "zero", "one"])
    ap.add_argument("--correction", type=str, default="bonferroni",
                    choices=["bonferroni", "bh"],
                    help="Multiple-testing correction (bh adds FDR-adjusted p-values)")
    ap.add_argument("--order-col", type=str, default=None,
                    help="Row-order column required by forward/backward fill")
    ap.add_argument("--drop-correlated-above", type=float, default=None,
                    metavar="R",
                    help="Drop covariates with pairwise |Pearson r| above R "
                         "with an earlier-kept covariate (default: off)")

    ph = p.add_argument_group("PheCode Options")
    pw = ph.add_mutually_exclusive_group()
    pw.add_argument("--phewas", action="store_true",
                    help="PheCodes are the dependent variables")
    pw.add_argument("--flipwas", action="store_true",
                    help="PheCodes are the predictor variables")
    ph.add_argument("--phecode-defs", type=str, default=None,
                    help="Phecode definitions CSV for the annotation join "
                         "(default: the bundled PheWAS-catalog v1.2 table)")
    ph.add_argument("--sex-col", type=str, default="sex")
    ph.add_argument("--female-code", type=int, default=1)
    sx = ph.add_mutually_exclusive_group()
    sx.add_argument("--male-only", action="store_true")
    sx.add_argument("--female-only", action="store_true")
    ph.add_argument("--sex-specific", action="store_true",
                    help="Restrict male/female-only phecodes (per the defs "
                         "table's sex column) to matching-sex rows; reads "
                         "--phecode-defs or the bundled table, and needs the "
                         "sex column as a covariate")
    ph.add_argument("--male-code", type=int, default=0,
                    help="Sex-column value meaning male (for --sex-specific)")

    sp = p.add_argument_group("Spark Options")
    sp.add_argument("--master", type=str, default=None,
                    help="Spark master URL (default: local[num-workers or *])")
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    vg = p.add_mutually_exclusive_group()
    vg.add_argument("-v", "--verbose", action="store_true")
    vg.add_argument("-q", "--quiet", action="store_true")
    return p


def config_from_args(args: argparse.Namespace):
    from polars_mas_spark.config import MASConfig

    return MASConfig(
        predictors=args.predictors or (),
        dependents=args.dependents or (),
        covariates=args.covariates or (),
        categorical_covariates=args.categorical_covariates or (),
        null_values=args.null_values,
        model=args.model,
        min_case_count=args.min_case_count,
        missing_covariate_values=args.missing_covariate_values,
        quantitative=args.quantitative,
        rint=args.rint,
        logt=args.logt,
        is_phewas=args.phewas,
        is_flipwas=args.flipwas,
        sex_col=args.sex_col,
        female_code=args.female_code,
        male_only=args.male_only,
        female_only=args.female_only,
        output_type=args.output_type,
        correction=args.correction,
        order_col=args.order_col,
        drop_correlated_above=args.drop_correlated_above,
    )


def main(argv: list[str] | None = None) -> int:
    args = create_parser().parse_args(argv)
    if not args.input:
        print("error: -i/--input is required", file=sys.stderr)
        return 2
    config = config_from_args(args)

    from polars_mas_spark.session import get_spark

    master = args.master or (
        f"local[{args.num_workers}]" if args.num_workers > 0 else "local[*]"
    )
    kwargs = {"master": master}
    if args.shuffle_partitions:
        kwargs["shuffle_partitions"] = args.shuffle_partitions
    if args.quiet:
        # The log level does not reach Spark's console progress bar.
        kwargs["extra_conf"] = {"spark.ui.showConsoleProgress": "false"}
    spark = get_spark(app_name="polars-mas-spark", **kwargs)
    spark.sparkContext.setLogLevel(
        "INFO" if args.verbose else ("ERROR" if args.quiet else "WARN")
    )
    try:
        if args.dry_run:
            from polars_mas_spark.sources.readers import parquet_input, read_input

            # A local parquet input's header comes from its footers, as
            # run_study reads it; anything else is read by Spark.
            source = parquet_input(spark, args.input)
            if source is None:
                columns = read_input(
                    spark, args.input, null_values=config.null_value_tokens
                ).columns
            else:
                columns = source.schema.names
            config.resolve(columns)
            print(config.summary())
            return 0

        from polars_mas_spark.pipeline import run_study

        defs_df = None
        if args.phewas or args.flipwas or args.sex_specific:
            from polars_mas_spark.sources.readers import read_phecode_definitions

            # read_phecode_definitions forces an explicit STRING schema on
            # the code column: inferSchema would read '008' as 8.0 and the
            # annotation join / sex-restriction map would silently match
            # nothing (reference constants.py:9 schema_overrides). With no
            # --phecode-defs the bundled public PheWAS-catalog table is
            # used, matching the reference's out-of-the-box --phewas.
            defs_df = read_phecode_definitions(spark, args.phecode_defs)

        if args.sex_specific:
            from polars_mas_spark.operators.postprocessing import (
                sex_restrictions_from_defs,
            )

            config.sex_restrictions = sex_restrictions_from_defs(
                defs_df, female_code=args.female_code, male_code=args.male_code
            )

        results = run_study(
            spark, config, input_path=args.input,
            output_path=args.output, phecode_defs=defs_df,
        )
        if not args.output:
            for row in results.slice(0, 20).to_pylist():
                print(row)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
