"""Every top-level function, class and module constant in the package
has a reader.

A name counts as used when it appears in any ``.py`` file of the
checkout outside ``tests/`` and outside the lines of its own
definition: a call, an import, a re-export or a name string looked up
at run time all count. Module constants are the names bound by a
top-level assignment (dunder names such as ``__all__`` are exempt).
The generated ``bpe_merges.py`` data module is skipped.

Tests do not count as readers, for the same reason they do not count
as callers of an option (an option is justified only when two callers
need different values, not counting tests and examples): code only a
test runs is part of no program. A pure-Python reference a test checks
the package against lives in the test.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s3_log_parser_spark")
SKIP = {"bpe_merges.py"}
TESTS = os.path.join(ROOT, "tests")
WORD = re.compile(r"\w+")


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [
            s
            for s in subdirs
            if not s.startswith((".", "__")) and os.path.join(d, s) != TESTS
        ]
        for f in files:
            if f.endswith(".py") and f not in SKIP:
                yield os.path.join(d, f)


def _words(lines):
    return Counter(w for line in lines for w in WORD.findall(line))


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
    sources = {p: open(p, encoding="utf-8").read().splitlines() for p in _py_files()}
    everywhere = sum((_words(src) for src in sources.values()), Counter())
    unread = []
    for path, lines in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in ast.parse("\n".join(lines)).body:
            for name, first in _defined_names(node):
                own = _words(lines[first - 1 : node.end_lineno])
                if everywhere[name] == own[name]:
                    unread.append(f"{os.path.relpath(path, ROOT)}:{name}")
    assert not unread, f"no reader anywhere in the checkout: {unread}"
