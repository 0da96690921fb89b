"""Every top-level function, class and module constant in the package
has a reader.

A name counts as read when some ``.py`` file of the checkout outside
``tests/`` refers to it outside the lines of its own definition. The
readers are found by an AST walk, and only these count:

- a ``Name`` id or an ``Attribute`` attr (a call, a reference, an
  attribute lookup, names inside f-strings included);
- the name in an import (``from m import name``);
- a string constant equal to the name or ending in ``.name`` (a name
  looked up at run time, such as a tracer's dotted function names).

Docstrings and comments do not count: a function only a docstring
names is part of no program. Module constants are the names bound by a
top-level assignment (dunder names such as ``__all__`` are exempt).

Tests do not count as readers, for the same reason they do not count
as callers of an option (an option is justified only when two callers
need different values, not counting tests and examples): code only a
test runs is part of no program. A pure-Python reference a test checks
the package against lives in the test.
"""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s3_log_parser_spark")
TESTS = os.path.join(ROOT, "tests")


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [
            s
            for s in subdirs
            if not s.startswith((".", "__")) and os.path.join(d, s) != TESTS
        ]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _reads(tree):
    """(line, name) of each read in a module."""
    # a bare string statement (a docstring) reads nothing
    docs = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.lineno, n.id
        elif isinstance(n, ast.Attribute):
            yield n.lineno, n.attr
        elif isinstance(n, ast.alias):
            yield n.lineno, n.name
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
        ):
            yield n.lineno, n.value
            if "." in n.value:
                yield n.lineno, n.value.rsplit(".", 1)[1]


def _defined_names(node):
    """(name, first line) of what a top-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        return [(node.name, first)]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    names = [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not n.id.startswith("__")
    ]
    return [(name, node.lineno) for name in names]


def test_every_package_function_and_class_has_a_caller():
    trees = {p: ast.parse(open(p, encoding="utf-8").read()) for p in _py_files()}
    reads = {p: list(_reads(t)) for p, t in trees.items()}
    everywhere = Counter(name for r in reads.values() for _, name in r)
    unread = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            for name, first in _defined_names(node):
                own = sum(
                    1 for line, n in reads[path]
                    if n == name and first <= line <= node.end_lineno
                )
                if everywhere[name] == own:
                    unread.append(f"{os.path.relpath(path, ROOT)}:{name}")
    assert not unread, f"no reader anywhere in the checkout: {unread}"
