"""docs/API.md matches what ``tools/gen_api_docs.py`` renders from the
package as it is now, so a deleted or renamed public function cannot
leave the reference stale."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_api_docs_are_current():
    spec = importlib.util.spec_from_file_location(
        "gen_api_docs", ROOT / "tools" / "gen_api_docs.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    on_disk = (ROOT / "docs" / "API.md").read_text()
    assert on_disk == gen.render(), (
        "docs/API.md is stale; regenerate it with python tools/gen_api_docs.py"
    )
