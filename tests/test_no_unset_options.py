"""Every defaulted parameter of a package function is set by some call.

A parameter with a default that no call in the checkout ever passes is
an option nobody uses: its default is the only value it takes, so it
belongs in the body as a literal or a module constant.

Tests do not count as callers. An option is justified only when two
callers need different values, not counting tests and examples: a
value only a test passes selects behaviour no program runs. A test
that must reach a guard or a small-scale path monkeypatches the
module constant instead.

The rule, over every ``.py`` file of the checkout outside ``tests/``
(the generated ``bpe_merges.py`` data module is skipped):

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

The defaulted fields of a package ``@dataclass`` are options too: a
field with a default (``= value``, ``field(default=…)`` or
``field(default_factory=…)``) counts as set when
some call of the class passes it by keyword, or by position in field
order, or passes ``*args`` / ``**kwargs``.

``EXEMPT`` lists the parameters kept although no caller sets them,
each with its reason; an entry that some caller does set fails the
test, so the list cannot outlive its reason.
"""

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "s3_log_parser_spark")
SKIP = {"bpe_merges.py"}
TESTS = os.path.join(ROOT, "tests")
# (package-relative module path, function, parameter) -> reason
EXEMPT = {
    ("operators/dedup.py", "shingle_hashes", "mode"): (
        "the Catalyst reference the Arrow shingle kernel's xxhash64 "
        "family is pinned against"
    ),
    ("operators/dedup.py", "simhash", "bits"): (
        "the Catalyst reference the Arrow SimHash kernel's 64-bit form "
        "is pinned against"
    ),
    ("operators/sketch.py", "cms_lookup", "mode"): (
        "a probe must name the hash family of the sketch it reads, and "
        "`job.py ingest` builds xxhash64 sketches"
    ),
}


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


def _is_dataclass(cls: ast.ClassDef) -> bool:
    decorators = [d.func if isinstance(d, ast.Call) else d for d in cls.decorator_list]
    return any(
        getattr(d, "id", getattr(d, "attr", None)) == "dataclass" for d in decorators
    )


def _defaulted_fields(cls: ast.ClassDef):
    """(positional index, name) of each defaulted ``__init__`` field."""
    out, idx = [], 0
    for st in cls.body:
        if not (isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name)):
            continue
        v = st.value
        if isinstance(v, ast.Call) and getattr(v.func, "id", None) == "field":
            defaulted = {k.arg for k in v.keywords} & {"default", "default_factory"}
        else:
            defaulted = v is not None
        if defaulted:
            out.append((idx, st.target.id))
        idx += 1
    return out


def _unset(name, params, calls, shift=0):
    return [
        param
        for idx, param in params
        if not any(
            star or param in kws or (idx is not None and idx - shift < npos)
            for npos, kws, star in calls.get(name, [])
        )
    ]


def _calls_and_defs():
    calls = defaultdict(list)  # callee name -> [(n positional, keywords, star)]
    defs = []
    classes = []
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
            elif not path.startswith(PACKAGE + os.sep):
                continue
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((path, node))
            elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
                classes.append((path, node))
    return calls, defs, classes


def test_every_defaulted_parameter_is_set_by_some_call():
    calls, defs, _ = _calls_and_defs()
    unset, exempt = [], set()
    for path, fn in defs:
        args = fn.args.posonlyargs + fn.args.args
        shift = 1 if args and args[0].arg in ("self", "cls") else 0
        for param in _unset(fn.name, _defaulted(fn), calls, shift):
            key = (os.path.relpath(path, PACKAGE), fn.name, param)
            if key in EXEMPT:
                exempt.add(key)
            else:
                unset.append(
                    f"{os.path.relpath(path, ROOT)}:{fn.lineno} {fn.name}({param})"
                )
    assert not unset, f"defaulted parameters no call sets: {unset}"
    stale = sorted(set(EXEMPT) - exempt)
    assert not stale, f"exempt parameters some call sets: {stale}"


def test_every_defaulted_dataclass_field_is_set_by_some_call():
    calls, _, classes = _calls_and_defs()
    unset = [
        f"{os.path.relpath(path, ROOT)}:{cls.lineno} {cls.name}.{name}"
        for path, cls in classes
        for name in _unset(cls.name, _defaulted_fields(cls), calls)
    ]
    assert not unset, f"defaulted dataclass fields no call sets: {unset}"
