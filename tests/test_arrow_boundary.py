"""The package crosses into Python through Arrow only: ``arrow_udf``
for a scalar function, ``mapInArrow`` for a batch stage. pandas is
left in the one module Spark offers no Arrow form for: the stateful
stream (``applyInPandasWithState``)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "inxs_spark"

PANDAS_MODULES = {"streaming/stateful.py"}
PANDAS_APIS = {"pandas_udf", "mapInPandas"}


def _pandas_uses(tree: ast.AST):
    """(line, what) for every pandas import and pandas UDF API name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            names = [node.module or ""] + [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, ast.Name):
            names = [node.id]
        else:
            continue
        for name in names:
            if name.split(".")[0] == "pandas" or name in PANDAS_APIS:
                yield node.lineno, name


def _uses_by_module() -> dict[str, list]:
    return {
        path.relative_to(PKG).as_posix(): list(
            _pandas_uses(ast.parse(path.read_text(), str(path)))
        )
        for path in sorted(PKG.rglob("*.py"))
    }


def test_pandas_only_in_the_stateful_stream():
    uses = _uses_by_module()
    stray = {mod: u for mod, u in uses.items()
             if u and mod not in PANDAS_MODULES}
    assert not stray, stray
    # the exemption names a module that still needs it
    assert all(uses[mod] for mod in PANDAS_MODULES), PANDAS_MODULES
