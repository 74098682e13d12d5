"""polars-mas-spark: a PySpark-native Multiple Association Study engine
with the study surface of `idinsmore1/polars-mas`, re-architected for
Spark's distributed execution model: read a wide samples x variables
table, preprocess it, fit one regression per (predictor, dependent)
pair, correct for multiple testing, annotate and write the results.

``operators/`` also still holds what is left of a data-pipeline operator
library (dedup, text, similarity, bloom) that the
MAS pipeline never imports; ``staging.py`` belongs to it too.
"""

from polars_mas_spark.config import MASConfig, resolve_columns
from polars_mas_spark.pipeline import run_pipeline
from polars_mas_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["MASConfig", "resolve_columns", "run_pipeline", "get_spark"]
