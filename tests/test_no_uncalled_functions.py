"""Every top-level function and class in the package has a caller.

A name counts as used when it appears in any ``.py`` file of the
checkout outside the lines of its own definition: a call, an import, a
re-export or a name string looked up at run time all count. The
generated ``bpe_merges.py`` data module is skipped.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s3_log_parser_spark")
SKIP = {"bpe_merges.py"}
WORD = re.compile(r"\w+")


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py") and f not in SKIP:
                yield os.path.join(d, f)


def _words(lines):
    return Counter(w for line in lines for w in WORD.findall(line))


def test_every_package_function_and_class_has_a_caller():
    sources = {p: open(p, encoding="utf-8").read().splitlines() for p in _py_files()}
    everywhere = sum((_words(src) for src in sources.values()), Counter())
    uncalled = []
    for path, lines in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _words(lines[first - 1 : node.end_lineno])
            if everywhere[node.name] == own[node.name]:
                uncalled.append(f"{os.path.relpath(path, ROOT)}:{node.name}")
    assert not uncalled, f"no caller anywhere in the checkout: {uncalled}"
