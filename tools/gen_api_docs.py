"""Generate docs/API.md: every public function of the package with its
signature and docstring summary, grouped by module. Run after changing
the public surface so the reference stays current
(tests/test_api_docs.py fails while it is stale):

    python tools/gen_api_docs.py
"""

from __future__ import annotations

import importlib
import inspect
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

MODULES = [
    ("polars_mas_spark", "Top-level API"),
    ("polars_mas_spark.config", "Configuration"),
    ("polars_mas_spark.pipeline", "MAS pipeline"),
    ("polars_mas_spark.operators.preprocessing", "MAS preprocessing"),
    ("polars_mas_spark.operators.association", "MAS association fan-out"),
    ("polars_mas_spark.operators.postprocessing", "MAS postprocessing"),
    ("polars_mas_spark.functions.stats", "Regression kernels"),
    ("polars_mas_spark.functions.transforms", "Dependent-variable transforms"),
    ("polars_mas_spark.operators.fills", "Missing-value fills"),
    ("polars_mas_spark.operators.dedup", "Deduplication"),
    ("polars_mas_spark.operators.bloom", "Approximate membership (Bloom epoch artifacts)"),
    ("polars_mas_spark.operators.similarity", "Similarity / ANN / embeddings"),
    ("polars_mas_spark.operators.text", "Text analysis & curation"),
    ("polars_mas_spark.sources.readers", "Sources"),
    ("polars_mas_spark.sources.writers", "Sinks"),
]


def first_paragraph(doc: str | None) -> str:
    if not doc:
        return "(undocumented)"
    para = doc.strip().split("\n\n")[0]
    return " ".join(line.strip() for line in para.splitlines())


def render() -> str:
    """The text of docs/API.md for the package as it is imported now."""
    out = [
        "# API reference",
        "",
        "Auto-generated by `python tools/gen_api_docs.py` — do not edit by",
        "hand. One row per public function: signature + docstring summary.",
        "",
    ]
    for mod_name, title in MODULES:
        mod = importlib.import_module(mod_name)
        rows = []
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != mod_name:
                continue  # re-exports documented at their home module
            try:
                sig = str(inspect.signature(obj))
            except (TypeError, ValueError):
                sig = "(...)"
            rows.append((name, sig, first_paragraph(inspect.getdoc(obj))))
        if not rows:
            continue
        out.append(f"## {title} — `{mod_name}`")
        out.append("")
        for name, sig, doc in rows:
            out.append(f"### `{name}{sig}`")
            out.append("")
            out.append(doc)
            out.append("")
    return "\n".join(out)


def main() -> None:
    text = render()
    with open(ROOT / "docs" / "API.md", "w") as f:
        f.write(text)
    n = sum(1 for line in text.splitlines() if line.startswith("### "))
    print(f"docs/API.md written: {n} public functions")


if __name__ == "__main__":
    main()
