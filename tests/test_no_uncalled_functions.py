"""Every top-level function, class and module constant of the package
and of ``tools/`` has a reader.

A read counts only when it resolves to the definition it names, by an
AST walk over every ``.py`` file of the checkout outside ``tests/``:

- in the defining module, a ``Name`` load outside the definition, in a
  scope where no parameter or local of that name shadows it;
- elsewhere, an import of the name from its defining module whose
  alias is then loaded (in the scope the import binds it in), or
  ``m.name`` where ``m`` is bound to that module;
- a re-export: reading ``B.name``, where module ``B`` imports ``name``
  from ``A`` at its top level, is a read of ``A.name`` (the benchmark
  tracer patches ``plans.pipeline.classify_when``, which ``pipeline``
  imports);
- a string naming it: a dotted ``"pkg.mod.name"``, or a
  ``("pkg.mod", "name")`` pair of string constants in a tuple or list
  (a name looked up at run time, such as the tracer's layer table).

A same-named local, parameter or column-name string is not a read, and
neither is a docstring or a comment. A read made inside a definition
that has no reader itself does not count, so a dead chain is reported
whole (the reads are propagated to a fixpoint). Module constants are
the names bound by a top-level assignment (dunder names such as
``__all__`` are exempt). ``perfbench/`` and ``__spark_entry__.py``
are readers only: their definitions are entry points.

Tests do not count as readers, for the same reason they do not count
as callers of an option (an option is justified only when two callers
need different values, not counting tests and examples): code only a
test runs is part of no program. A pure-Python reference a test checks
the package against lives in the test.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(ROOT, "tests")
CHECKED = ("s3_log_parser_spark", "tools")
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
_COMPS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


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


def _module_name(path):
    name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return name[: -len(".__init__")] if name.endswith(".__init__") else name


def _defined_names(node):
    """names a top-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Store)
        and not n.id.startswith("__")
    ]


def _shallow(nodes):
    """every node under ``nodes`` in the same scope: a nested function,
    lambda, class or comprehension is yielded but not entered."""
    stack = list(nodes)
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, _SCOPES + _COMPS):
            stack.extend(ast.iter_child_nodes(n))


class _Scope:
    def __init__(self, kind, params=()):
        self.kind = kind
        self.locals = set(params)
        self.imports = {}  # bound name -> ("mod", m) | ("def", m, name)
        self.declared = set()  # global / nonlocal: not local here


class _Module:
    """One module's definitions, its top-level bindings and its reads
    ``(owner statement index or None, module, name)``; ``modules`` is
    the set of module names in the checkout."""

    def __init__(self, name, path, modules):
        self.name = name
        self.path = path
        self.tree = tree = ast.parse(open(path, encoding="utf-8").read())
        self.modules = modules
        is_package = path.endswith("__init__.py")
        self.package = name if is_package else name.rpartition(".")[0]
        self.defs = {}  # name -> top-level statement index
        for i, st in enumerate(tree.body):
            for d in _defined_names(st):
                self.defs[d] = i
        self.top = self._scope("module", tree.body)
        self.reads = []

    # -- bindings -----------------------------------------------------
    def _import_target(self, node, alias):
        if isinstance(node, ast.Import):
            if alias.asname:
                return alias.asname, ("mod", alias.name)
            head = alias.name.split(".")[0]
            return head, ("mod", head)
        base = self.package
        if node.level:
            parts = base.split(".")
            base = ".".join(parts[: len(parts) - (node.level - 1)])
            src = f"{base}.{node.module}" if node.module else base
        else:
            src = node.module
        full = f"{src}.{alias.name}"
        target = ("mod", full) if full in self.modules else ("def", src, alias.name)
        return alias.asname or alias.name, target

    def _scope(self, kind, body, params=()):
        sc = _Scope(kind, params)
        for n in _shallow(body):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
                sc.locals.add(n.id)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                sc.locals.add(n.name)
            elif isinstance(n, ast.ExceptHandler) and n.name:
                sc.locals.add(n.name)
            elif isinstance(n, (ast.Global, ast.Nonlocal)):
                sc.declared.update(n.names)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    if a.name == "*":
                        continue
                    bound, target = self._import_target(n, a)
                    sc.locals.add(bound)
                    sc.imports[bound] = target
        sc.locals -= sc.declared
        return sc

    def _resolve(self, name, chain):
        """what a loaded ``name`` refers to from the innermost scope of
        ``chain``: ``("mod", m)``, ``("def", m, name)`` or None (a local,
        a builtin or something outside the checkout)."""
        for i in range(len(chain) - 1, 0, -1):
            sc = chain[i]
            if sc.kind == "class" and i != len(chain) - 1:
                continue  # a class body does not enclose its methods
            if name in sc.declared:
                break
            if name in sc.locals:
                return sc.imports.get(name)
        if name in self.top.imports:
            return self.top.imports[name]
        if name in self.defs:
            return ("def", self.name, name)
        return None

    def _value(self, node, chain):
        if isinstance(node, ast.Name):
            return self._resolve(node.id, chain)
        if isinstance(node, ast.Attribute):
            base = self._value(node.value, chain)
            if base and base[0] == "mod":
                full = f"{base[1]}.{node.attr}"
                if full in self.modules:
                    return ("mod", full)
                return ("def", base[1], node.attr)
        return None

    # -- reads --------------------------------------------------------
    def collect(self):
        docs = {
            id(n.value)
            for n in ast.walk(self.tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for i, st in enumerate(self.tree.body):
            owner = i if _defined_names(st) else None
            self._visit(st, [self.top], owner, docs)

    def _read(self, owner, target):
        if target and target[0] == "def":
            self.reads.append((owner, target[1], target[2]))

    def _strings(self, node, owner, docs):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docs and "." in node.value:
                mod, _, name = node.value.rpartition(".")
                if mod in self.modules:
                    self._read(owner, ("def", mod, name))
        elif isinstance(node, (ast.Tuple, ast.List)):
            vals = [
                e.value
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
                else None
                for e in node.elts
            ]
            for mod, name in zip(vals, vals[1:]):
                if mod in self.modules and name is not None:
                    self._read(owner, ("def", mod, name))

    def _visit(self, node, chain, owner, docs):
        self._strings(node, owner, docs)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            outer = list(a.defaults) + [d for d in a.kw_defaults if d]
            if not isinstance(node, ast.Lambda):
                outer += node.decorator_list + ([node.returns] if node.returns else [])
            outer += [
                p.annotation
                for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
                if p is not None and p.annotation is not None
            ]
            for n in outer:
                self._visit(n, chain, owner, docs)
            params = [
                p.arg
                for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
                if p is not None
            ]
            body = [node.body] if isinstance(node, ast.Lambda) else node.body
            inner = chain + [self._scope("function", body, params)]
            for n in body:
                self._visit(n, inner, owner, docs)
            return
        if isinstance(node, ast.ClassDef):
            for n in node.decorator_list + node.bases + node.keywords:
                self._visit(n, chain, owner, docs)
            inner = chain + [self._scope("class", node.body)]
            for n in node.body:
                self._visit(n, inner, owner, docs)
            return
        if isinstance(node, _COMPS):
            gens = node.generators
            self._visit(gens[0].iter, chain, owner, docs)
            targets = {
                n.id for g in gens for n in ast.walk(g.target) if isinstance(n, ast.Name)
            }
            inner = chain + [_Scope("comprehension", targets)]
            rest = [gens[0].target] + gens[0].ifs
            for g in gens[1:]:
                rest += [g.target, g.iter] + g.ifs
            rest += [node.key, node.value] if isinstance(node, ast.DictComp) else [node.elt]
            for n in rest:
                self._visit(n, inner, owner, docs)
            return
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            self._read(owner, self._resolve(node.id, chain))
            return
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            target = self._value(node, chain)
            if target:
                self._read(owner, target)
                return
        for child in ast.iter_child_nodes(node):
            self._visit(child, chain, owner, docs)


def _canonical(mod, name, modules, seen=()):
    """the (module, name) definition a read of ``mod.name`` binds to,
    following top-level imports (re-exports); None outside the
    checkout."""
    m = modules.get(mod)
    if m is None or (mod, name) in seen:
        return None
    if name in m.defs:
        return (mod, name)
    target = m.top.imports.get(name)
    if target and target[0] == "def":
        return _canonical(target[1], target[2], modules, seen + ((mod, name),))
    return None


def unread_definitions():
    """``path:name`` of each checked definition no live read reaches."""
    paths = {_module_name(p): p for p in _py_files()}
    modules = {name: _Module(name, p, set(paths)) for name, p in paths.items()}
    for m in modules.values():
        m.collect()

    def checked(mod):
        return mod.split(".")[0] in CHECKED

    reads = []  # (owner (mod, names) or None, target (mod, name))
    for mod, m in modules.items():
        for owner, tmod, tname in m.reads:
            target = _canonical(tmod, tname, modules)
            if target is None or not checked(target[0]):
                continue
            names = (
                _defined_names(m.tree.body[owner])
                if owner is not None and checked(mod)
                else None
            )
            if names and target[0] == mod and target[1] in names:
                continue  # a definition reading itself
            reads.append(((mod, names) if names else None, target))
    live = set()
    while True:
        grown = {
            t
            for o, t in reads
            if o is None or any((o[0], n) in live for n in o[1])
        } - live
        if not grown:
            break
        live |= grown
    return sorted(
        f"{os.path.relpath(m.path, ROOT)}:{name}"
        for mod, m in modules.items()
        if checked(mod)
        for name in m.defs
        if (mod, name) not in live
    )


def test_every_package_function_and_class_has_a_caller():
    unread = unread_definitions()
    assert not unread, f"no reader anywhere in the checkout: {unread}"
