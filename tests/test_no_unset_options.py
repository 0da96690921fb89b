"""Every defaulted parameter of a package function is set by some call.

A parameter with a default that no call in the checkout ever passes is
an option nobody uses: its default is the only value it takes, so it
belongs in the body as a literal or a module constant.

The rule, over every ``.py`` file of the checkout (tests count as
callers; the generated ``bpe_merges.py`` data module is skipped):

- the defaulted parameters are those of every function defined in the
  package, methods and nested functions included, positional or
  keyword-only;
- a call is matched to a definition by name (``f(...)`` and
  ``obj.f(...)`` both call every function named ``f``; a name imported
  under an alias resolves to the original name);
- a parameter counts as set when some call passes it by keyword, or
  supplies enough positional arguments to reach it (the ``self`` /
  ``cls`` of a method is not counted), or passes ``*args`` /
  ``**kwargs``, which may carry anything.
"""

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s3_log_parser_spark")
SKIP = {"bpe_merges.py"}


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py") and f not in SKIP:
                yield os.path.join(d, f)


def _callee(call: ast.Call, aliases: dict) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return aliases.get(f.id, f.id)
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _defaulted(fn: ast.FunctionDef):
    """(positional index or None, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, pos[i].arg) for i in range(first, len(pos))]
    out += [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    return out


def test_every_defaulted_parameter_is_set_by_some_call():
    calls = defaultdict(list)  # callee name -> [(n positional, keywords, star)]
    defs = []
    for path in _py_files():
        tree = ast.parse(open(path, encoding="utf-8").read())
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _callee(node, aliases)
                if name is None:
                    continue
                star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                kws = {k.arg for k in node.keywords}
                calls[name].append((len(node.args), kws, star))
            elif path.startswith(PACKAGE + os.sep) and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                defs.append((path, node))

    unset = []
    for path, fn in defs:
        args = fn.args.posonlyargs + fn.args.args
        shift = 1 if args and args[0].arg in ("self", "cls") else 0
        for idx, param in _defaulted(fn):
            if not any(
                star or param in kws or (idx is not None and idx - shift < npos)
                for npos, kws, star in calls.get(fn.name, [])
            ):
                unset.append(
                    f"{os.path.relpath(path, ROOT)}:{fn.lineno} "
                    f"{fn.name}({param})"
                )
    assert not unset, f"defaulted parameters no call sets: {unset}"
