"""No top-level function of the engine's geometry layers is dead.

An AST scan, no Spark. It covers every `_`-prefixed top-level function
in functions/ and kernel/, and every top-level function in
functions/lanes.py and functions/lanes_ops.py. A function is live when
the engine, tests/, perfbench/ or scripts/ refers to it:

- a bare name inside its own module, outside its own body;
- `from <module> import name` outside an `__init__` (relative imports
  resolved);
- `X.name` where X is bound to the module by any import spelling
  (`import a.b as X`, `from . import b as X`, `from .. import kernel`
  then `kernel.b.name`), or to a package whose `__init__` re-exports
  the name from the module;
- `getattr` / `setattr` / `monkeypatch.setattr` on the module with the
  name as a string.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geospatial_data_pipeline_spark_sedona_on_aws_spark"
SCAN = [PKG, "tests", "perfbench", "scripts"]


def _files():
    for top in SCAN:
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            for n in names:
                if n.endswith(".py"):
                    yield os.path.join(d, n)


def _module(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _absolute(mod: str, is_pkg: bool, level: int, name: str | None) -> str:
    """The dotted module a `from ...name import` names."""
    if not level:
        return name or ""
    base = mod.split(".")
    base = base[:len(base) - level + (1 if is_pkg else 0)]
    return ".".join(base + ([name] if name else []))


def _covered(mod: str, fn: str) -> bool:
    if mod.startswith(f"{PKG}.functions.lanes"):
        return mod in (f"{PKG}.functions.lanes", f"{PKG}.functions.lanes_ops")
    return fn.startswith("_") and mod.split(".")[1:2] in (["functions"],
                                                         ["kernel"])


class _Scan:
    def __init__(self):
        self.trees = {}
        for path in _files():
            with open(path, encoding="utf-8") as f:
                self.trees[_module(path)] = (
                    ast.parse(f.read(), path), path.endswith("__init__.py"))
        # package -> {exported name: (defining module, its name there)}
        self.exports: dict = {}
        for mod, (tree, is_pkg) in self.trees.items():
            if not is_pkg:
                continue
            for node in tree.body:
                if isinstance(node, ast.ImportFrom):
                    src = _absolute(mod, True, node.level, node.module)
                    for a in node.names:
                        self.exports.setdefault(mod, {})[
                            a.asname or a.name] = (src, a.name)
        self.used: set = set()
        for mod, (tree, is_pkg) in self.trees.items():
            self._visit(mod, tree, is_pkg)

    def _target(self, dotted: str, attr: str):
        """(module, name) that `dotted.attr` refers to."""
        return self.exports.get(dotted, {}).get(attr, (dotted, attr))

    def _visit(self, mod: str, tree, is_pkg: bool):
        alias: dict = {}                 # local name -> dotted module
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        alias[a.asname] = a.name
                    else:
                        alias[a.name.split(".")[0]] = a.name.split(".")[0]
            elif isinstance(node, ast.ImportFrom):
                src = _absolute(mod, is_pkg, node.level, node.module)
                for a in node.names:
                    sub = f"{src}.{a.name}"
                    if sub in self.trees:
                        alias[a.asname or a.name] = sub
                    elif not is_pkg:     # a re-export alone is no use
                        self.used.add(self._target(src, a.name))

        def dotted(e):
            if isinstance(e, ast.Name):
                return alias.get(e.id)
            if isinstance(e, ast.Attribute):
                base = dotted(e.value)
                return base and f"{base}.{e.attr}"
            return None

        def walk(node, inside):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and inside is None:
                inside = node.name
            if isinstance(node, ast.Name) and node.id != inside:
                self.used.add((mod, node.id))
            elif isinstance(node, ast.Attribute):
                base = dotted(node.value)
                if base:
                    self.used.add(self._target(base, node.attr))
            elif isinstance(node, ast.Call) and len(node.args) >= 2 \
                    and isinstance(node.args[1], ast.Constant) \
                    and isinstance(node.args[1].value, str):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else ""
                base = dotted(node.args[0])
                if name in ("getattr", "setattr", "hasattr") and base:
                    self.used.add(self._target(base, node.args[1].value))
            for child in ast.iter_child_nodes(node):
                walk(child, inside)

        for top in tree.body:
            walk(top, None)

    def dead(self) -> list:
        out = []
        for mod, (tree, _) in self.trees.items():
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                        and _covered(mod, node.name) \
                        and (mod, node.name) not in self.used:
                    out.append(f"{mod}.{node.name}")
        return sorted(out)


def test_no_dead_top_level_functions():
    dead = _Scan().dead()
    assert not dead, dead


def test_scan_sees_a_dead_function(tmp_path, monkeypatch):
    """The guard is not vacuous: a module that defines a private function
    nobody names is reported, and one that is named through an alias is
    not."""
    pkg = tmp_path / PKG / "kernel"
    pkg.mkdir(parents=True)
    (tmp_path / PKG / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("from .m import _b as b  # noqa\n")
    (pkg / "m.py").write_text(
        "def _a():\n    return _a()\n\n"
        "def _b():\n    pass\n\n"
        "def _c():\n    pass\n\n"
        "def _d():\n    pass\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.py").write_text(
        f"from {PKG}.kernel import m as M\n"
        f"from {PKG} import kernel\n"
        "M._c()\nkernel.b()\n"
        "getattr(M, '_d')\n")
    monkeypatch.setattr(__import__(__name__, fromlist=["ROOT"]), "ROOT",
                        str(tmp_path))
    assert _Scan().dead() == [f"{PKG}.kernel.m._a"]
