"""CLI surface tests: flag parity with the reference CLI and an
end-to-end run through `python -m polars_mas_spark`."""

from __future__ import annotations

import csv
import math
import os
import random
import subprocess
import sys
import tempfile

from polars_mas_spark.cli import config_from_args, create_parser


def test_reference_flag_parity():
    p = create_parser()
    args = p.parse_args([
        "-i", "in.csv", "-o", "out.parquet", "-p", "x", "-d", "a,b",
        "-c", "age,site", "-cc", "site", "-nv", "NA,-9", "-ot", "parquet",
        "-m", "logistic", "-mc", "10", "-mcv", "mean", "-qt",
        "--phewas", "--sex-col", "gender", "--female-code", "2", "--female-only",
    ])
    cfg = config_from_args(args)
    assert cfg.model == "logistic" and cfg.min_case_count == 10
    assert cfg.missing_covariate_values == "mean" and cfg.quantitative
    assert cfg.is_phewas and cfg.sex_col == "gender" and cfg.female_code == 2
    assert cfg.female_only and cfg.null_value_tokens == ["NA", "-9"]


def test_mutually_exclusive_groups():
    p = create_parser()
    import pytest
    with pytest.raises(SystemExit):
        p.parse_args(["-i", "x", "--rint", "--logt"])
    with pytest.raises(SystemExit):
        p.parse_args(["-i", "x", "--phewas", "--flipwas"])
    with pytest.raises(SystemExit):
        p.parse_args(["-i", "x", "--male-only", "--female-only"])


def test_cli_end_to_end(tmp_path):
    rng = random.Random(11)
    path = tmp_path / "wide.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["x", "d1", "d2", "age"])
        for _ in range(600):
            x = rng.gauss(0, 1)
            d1 = 1 if rng.random() < 1 / (1 + math.exp(-2 * x)) else 0
            d2 = 1 if rng.random() < 0.4 else 0
            w.writerow([f"{x:.4f}", d1, d2, rng.randint(20, 80)])
    out = tmp_path / "results.parquet"
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [sys.executable, "-m", "polars_mas_spark",
         "-i", str(path), "-o", str(out), "-p", "x", "-d", "d1,d2",
         "-c", "age", "-m", "logistic", "-mc", "5", "-n", "4", "-q"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert out.exists()


def test_cli_dry_run(tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("x,d1\n1.0,0\n2.0,1\n")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [sys.executable, "-m", "polars_mas_spark",
         "-i", str(path), "-p", "x", "-d", "d1", "--dry-run", "-n", "2", "-q"],
        capture_output=True, text=True, timeout=180, env=env, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "predictor" in r.stdout.lower() or "x" in r.stdout


def test_cli_dry_run_reads_a_parquet_header_from_its_footers(
    spark, tmp_path, monkeypatch, capsys
):
    # The summary is the one a Spark read of the header gives, and no
    # Spark frame is built for it.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_mas_spark import cli, session
    from polars_mas_spark.sources import readers

    path = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({"x": [0.5, 1.5], "age": [40, 50], "250.1": [0, 1]}), path)
    argv = ["-i", path, "-p", "x", "-d", "i:2-", "-c", "age", "--dry-run", "-q"]
    want = config_from_args(create_parser().parse_args(argv))
    want.resolve(readers.read_input(spark, path).columns)

    def no_frame(*args, **kwargs):
        raise AssertionError("--dry-run built a Spark frame")

    monkeypatch.setattr(readers, "read_input", no_frame)
    monkeypatch.setattr(session, "get_spark", lambda **kwargs: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # the shared session
    assert cli.main(argv) == 0
    assert capsys.readouterr().out == want.summary() + "\n"


def test_quiet_turns_off_the_console_progress_bar(monkeypatch):
    # The log level does not reach Spark's "[Stage N:>" bar; -q passes
    # the conf that does, and without -q the session keeps its default.
    import pytest

    import polars_mas_spark.session as session
    from polars_mas_spark.cli import main

    class Stop(Exception):
        pass

    seen = []

    def fake_get_spark(**kwargs):
        seen.append(kwargs)
        raise Stop

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    argv = ["-i", "in.csv", "-p", "x", "-d", "d1"]
    for extra in (["-q"], []):
        with pytest.raises(Stop):
            main(argv + extra)
    quiet, loud = seen
    assert quiet["extra_conf"] == {"spark.ui.showConsoleProgress": "false"}
    assert "extra_conf" not in loud


def test_sex_specific_flag_parses():
    p = create_parser()
    args = p.parse_args([
        "-i", "in.csv", "-p", "x", "-d", "250.1", "-c", "sex",
        "--phecode-defs", "defs.csv", "--sex-specific", "--male-code", "2",
    ])
    assert args.sex_specific and args.male_code == 2
    cfg = config_from_args(args)
    assert cfg.sex_restrictions is None  # built later, from the defs table


def test_bundled_phecode_defs_codes_stay_strings(spark):
    """ADVICE r1 (high): defs must load with a string-typed code column —
    inferSchema would turn '008' into 8.0 and the --phewas annotation
    join would silently match nothing."""
    from polars_mas_spark.sources.readers import read_phecode_definitions

    defs = read_phecode_definitions(spark)  # bundled default
    assert dict(defs.dtypes)["phecode"] == "string"
    codes = {r["phecode"] for r in defs.select("phecode").collect()}
    assert "008" in codes and "008.5" in codes  # leading zeros survive
    assert not any(c.endswith(".0") and c.lstrip("0") + ".0" in codes
                   for c in ("008",))  # no float-rendered artifacts
    assert defs.count() > 1800


def test_cli_phewas_annotates_with_bundled_defs(tmp_path):
    """--phewas with NO --phecode-defs must annotate out of the box
    (reference bundles its defs table, constants.py:6-13)."""
    rng = random.Random(7)
    path = tmp_path / "wide.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["x", "008.5", "250.2", "age"])
        for _ in range(400):
            x = rng.gauss(0, 1)
            d1 = 1 if rng.random() < 1 / (1 + math.exp(-2 * x)) else 0
            d2 = 1 if rng.random() < 0.4 else 0
            w.writerow([f"{x:.4f}", d1, d2, rng.randint(20, 80)])
    out = tmp_path / "results.csv"
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [sys.executable, "-m", "polars_mas_spark",
         "-i", str(path), "-o", str(out), "-p", "x", "-d", "008.5,250.2",
         "-c", "age", "-m", "logistic", "-mc", "5", "-n", "4", "-q",
         "--phewas"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    with open(out) as f:
        rows = list(csv.DictReader(f))
    by_dep = {row["dependent"]: row for row in rows}
    assert by_dep["008.5"]["phenotype"] == "Bacterial enteritis"
    assert by_dep["250.2"]["phenotype"], "250.2 should annotate from bundled defs"
