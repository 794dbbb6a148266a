"""Structure checks over the package source (no Spark session needed)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "worlddatapipeline_spark"
DURABILITY_CALLS = {"replace", "fsync"}


def test_only_reconcile_makes_commits_durable():
    """The versioned-table commit (fsync'd temp file + atomic replace of the
    ``_CURRENT`` pointer) lives behind one module: no module other than
    ``operators/reconcile.py`` calls ``os.replace`` or ``os.fsync``."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/reconcile.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in DURABILITY_CALLS
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                offenders.append(f"{rel}:{node.lineno} os.{node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                offenders += [
                    f"{rel}:{node.lineno} from os import {a.name}"
                    for a in node.names
                    if a.name in DURABILITY_CALLS
                ]
    assert not offenders, offenders


def _reads_parquet(call: ast.Call) -> bool:
    """``<x>.read...parquet(...)`` or ``<x>.readStream...parquet(...)``."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr in ("read", "readStream"):
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_only_session_reads_input_tables():
    """Input tables are opened through ``session.py`` (``load_tables``,
    ``streaming_events``), which supplies the footer schema: no other module
    passes ``sf_dir`` to a ``.read``/``.readStream`` parquet call."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call) and _reads_parquet(node) and any(
                isinstance(n, ast.Name) and n.id == "sf_dir"
                for arg in [*node.args, *(k.value for k in node.keywords)]
                for n in ast.walk(arg)
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
