"""Static guard, no JVM: every public top-level function and class in
``pyconnect_spark/`` is named somewhere in the repo's Python files
besides its own definition (a call, an import, a test, or a docstring
that points at it). Query builders decorated with ``REGISTRY.register``
are reached through the registry and count as referenced."""

from __future__ import annotations

import ast
import collections
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
_WORD = re.compile(r"\w+")


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


def test_every_public_helper_is_named_outside_its_definition():
    words = collections.Counter()
    trees = {}
    for path in _python_files():
        text = path.read_text()
        words.update(_WORD.findall(text))
        if path.is_relative_to(REPO / "pyconnect_spark"):
            trees[path] = ast.parse(text)
    unreferenced = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.name}"
        for path, tree in trees.items()
        for node in _public_definitions(tree)
        if words[node.name] < 2
    ]
    assert trees
    assert not unreferenced, "unreferenced public helpers:\n" + "\n".join(unreferenced)
