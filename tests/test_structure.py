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
