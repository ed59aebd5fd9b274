"""Package layering: operators/, sources/ and streaming/ sit below queries/
and never import from it; streams start in one module."""

import ast
import pathlib

import trading_etl_spark

PKG = pathlib.Path(trading_etl_spark.__file__).parent
QUERIES = "trading_etl_spark.queries"


def _imports(path: pathlib.Path):
    package = ".".join(("trading_etl_spark",) + path.parent.relative_to(PKG).parts)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield node.lineno, [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            parts = package.split(".")
            base = parts[: len(parts) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield node.lineno, [mod] + [f"{mod}.{a.name}" for a in node.names]


def test_lower_layers_never_import_queries():
    offenders = [
        f"{path.relative_to(PKG)}:{line}"
        for sub in ("operators", "sources", "streaming")
        for path in sorted((PKG / sub).rglob("*.py"))
        for line, names in _imports(path)
        if any(n == QUERIES or n.startswith(QUERIES + ".") for n in names)
    ]
    assert not offenders, offenders


def test_streams_start_in_one_module():
    """Every stream start (``writeStream``) and the per-symbol state
    scaffold (``applyInPandasWithState``) live in ``streaming/__init__.py``:
    the trigger and the state-partition sizing are decided in one place.
    The tools are scanned too, so a probe measures the same start the gate
    runs."""
    root = PKG.parent
    paths = [*PKG.rglob("*.py"), *(root / "tools").rglob("*.py")]
    for attr in ("writeStream", "applyInPandasWithState"):
        users = sorted(
            str(path.relative_to(root))
            for path in paths
            if any(
                isinstance(node, ast.Attribute) and node.attr == attr
                for node in ast.walk(ast.parse(path.read_text()))
            )
        )
        assert users == ["trading_etl_spark/streaming/__init__.py"], (attr, users)
