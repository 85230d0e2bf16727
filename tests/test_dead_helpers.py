"""Static guard, no JVM: every public top-level function and class in
``pyconnect_spark/`` is referenced in code somewhere in the repo's Python
files: a name, an attribute or an import alias. A word inside a string
or a docstring does not count. Query builders decorated with
``REGISTRY.register`` are reached through the registry and count as
referenced."""

from __future__ import annotations

import ast
import collections
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent


def _python_files():
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if not any(p.startswith(".") or p in ("build", "__pycache__") for p in parts):
            yield path


def _public_definitions(tree):
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        if node.name.startswith("_"):
            continue
        if any(ast.unparse(d).startswith("REGISTRY.register") for d in node.decorator_list):
            continue
        yield node


def _code_references(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")


def test_every_public_helper_is_named_outside_its_definition():
    refs = collections.Counter()
    trees = {}
    for path in _python_files():
        tree = ast.parse(path.read_text())
        refs.update(_code_references(tree))
        if path.is_relative_to(REPO / "pyconnect_spark"):
            trees[path] = tree
    unreferenced = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.name}"
        for path, tree in trees.items()
        for node in _public_definitions(tree)
        if not refs[node.name]
    ]
    assert trees
    assert not unreferenced, "unreferenced public helpers:\n" + "\n".join(unreferenced)
