"""The package has one Python boundary for batch kernels: ``runner.map_rows``.

pandas, ``applyInPandas`` and ``mapInPandas`` may appear only in
``textops/events.py``, whose ``applyInPandasWithState`` carries
streaming state across micro-batches.  Mentions in docstrings and
comments do not count; imports and attribute uses do.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdfparser_spark"
ALLOWED = {"textops/events.py"}


def _pandas_uses(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
            found.append(node.module)
        elif isinstance(node, ast.Attribute) and (
            node.attr.startswith("applyInPandas") or node.attr == "mapInPandas"
        ):
            found.append(node.attr)
    return found


def test_pandas_only_in_the_streaming_state_kernel():
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        uses = _pandas_uses(ast.parse(path.read_text(), filename=str(path)))
        if uses and rel not in ALLOWED:
            offenders[rel] = uses
    assert offenders == {}


def test_guard_sees_each_form():
    src = (
        "import pandas as pd\nfrom pandas import DataFrame\n"
        "df.groupBy('k').applyInPandas(f, schema='x long')\ndf.mapInPandas(f, 'x long')\n"
    )
    assert _pandas_uses(ast.parse(src)) == ["pandas", "pandas", "applyInPandas", "mapInPandas"]
