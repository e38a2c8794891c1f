"""Dead-code gate: every top-level def and module-level constant must be
reachable from an entry point.

A module-qualified reachability pass over the repo's Python sources, with
`ast` only (no import, no Spark). Names resolve per module through imports,
module aliases, relative imports, package submodules and `import *`
re-exports, so a def is not kept alive merely because another module has a
def of the same name. A module-level constant (a top-level assignment to
plain names, dunders such as `__all__` exempt) counts as a def whose body
is its assigned value.

Roots:
- every top-level def in `contract/`, `plans/`, `tools/`, `perfbench/`,
  `bench.py`, `run_kg.py` and `__spark_entry__.py`;
- the module-level statements of every module (they run on import) other
  than constant assignments, including decorators, default values and
  base classes of top-level defs;
- identifier strings in root files: perfbench's shims patch functions by
  attribute name.

A reached def reaches whatever its body names. The allowlist holds the
pure-Python references that tests compare Spark output against.
"""

from __future__ import annotations

import ast
import functools
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "entity_extractor_spark"

ROOT_DIRS = (f"{PKG}/contract", f"{PKG}/plans", "tools", "perfbench")
ROOT_FILES = ("bench.py", "run_kg.py", "__spark_entry__.py")

# (module, def) pairs kept without an entry point; "*" keeps a whole module.
ALLOWLIST = {
    (f"{PKG}.oracle", "*"),
    (f"{PKG}.operators.ranking", "log2fp_py"),
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
_DUNDER = re.compile(r"__\w+__\Z")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _constant_names(node) -> list[str]:
    """Names a top-level assignment binds as module constants; [] when
    `node` is not such an assignment (or binds an attribute, subscript,
    starred target or dunder), so that it stays an import-time root."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = []
    for t in targets:
        for e in t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]:
            if not isinstance(e, ast.Name) or _DUNDER.match(e.id):
                return []
            names.append(e.id)
    return names


class Module:
    def __init__(self, name: str, path: str, is_pkg: bool, is_root: bool):
        self.name, self.path, self.is_pkg, self.is_root = name, path, is_pkg, is_root
        with open(path, encoding="utf-8") as fh:
            self.tree = ast.parse(fh.read(), path)
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _FUNCS)}
        self.consts: dict[str, list] = {}  # constant name -> its assignments
        for n in self.tree.body:
            for name in _constant_names(n):
                self.consts.setdefault(name, []).append(n)
                self.defs.setdefault(name, n)
        self.bindings: dict[str, tuple] = {}  # module-level import bindings
        self.stars: list[str] = []
        self.all: list[str] | None = None
        for node in self.tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                self.all = [ast.literal_eval(e) for e in node.value.elts]

    @property
    def package(self) -> str:
        return self.name if self.is_pkg else self.name.rpartition(".")[0]


def _discover() -> dict[str, Module]:
    mods: dict[str, Module] = {}

    def add(rel: str, name: str) -> None:
        is_root = rel in ROOT_FILES or rel.startswith(tuple(d + "/" for d in ROOT_DIRS))
        mods[name] = Module(name, os.path.join(REPO, rel), rel.endswith("__init__.py"), is_root)

    for dirpath, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), REPO).replace(os.sep, "/")
                parts = rel[:-3].split("/")
                add(rel, ".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    # tools/ and perfbench/ scripts put their own directory on sys.path
    for d in ("tools", "perfbench"):
        for f in sorted(os.listdir(os.path.join(REPO, d))):
            if f.endswith(".py"):
                add(f"{d}/{f}", f[:-3])
    for f in ROOT_FILES:
        add(f, f[:-3])
    return mods


def _import_bindings(mod: Module, nodes) -> tuple[dict[str, tuple], list[str]]:
    """Names bound by the import statements among `nodes`:
    ("mod", m) for a module, ("from", m, name) for a name imported from m."""
    out, stars = {}, []
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = ("mod", a.name)
                else:
                    top = a.name.split(".")[0]
                    out[top] = ("mod", top)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = mod.package.split(".")
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([node.module] if node.module else []))
            for a in node.names:
                if a.name == "*":
                    stars.append(base)
                else:
                    out[a.asname or a.name] = ("from", base, a.name)
    return out, stars


class Graph:
    def __init__(self):
        self.mods = _discover()
        for mod in self.mods.values():
            top = [n for n in mod.tree.body if isinstance(n, (ast.Import, ast.ImportFrom))]
            # imports guarded by try/if at module level bind module names too
            for n in mod.tree.body:
                if isinstance(n, (ast.Try, ast.If)):
                    top += [m for m in ast.walk(n) if isinstance(m, (ast.Import, ast.ImportFrom))]
            mod.bindings, mod.stars = _import_bindings(mod, top)

    def lookup(self, modname: str, name: str, seen=None):
        """What `name` means in module `modname`: ("def", mod, name),
        ("mod", mod) or None (external or not a def)."""
        seen = seen if seen is not None else set()
        if (modname, name) in seen:
            return None
        seen.add((modname, name))
        mod = self.mods.get(modname)
        if mod is None:
            return None
        if name in mod.defs:
            return ("def", modname, name)
        if name in mod.bindings:
            return self.follow(mod.bindings[name], seen)
        if f"{modname}.{name}" in self.mods:
            return ("mod", f"{modname}.{name}")
        if not name.startswith("_"):
            for star in mod.stars:
                smod = self.mods.get(star)
                if smod is not None and (smod.all is None or name in smod.all):
                    hit = self.lookup(star, name, seen)
                    if hit:
                        return hit
        return None

    def follow(self, binding: tuple, seen=None):
        if binding[0] == "mod":
            return ("mod", binding[1]) if binding[1] in self.mods else None
        _, base, name = binding
        if f"{base}.{name}" in self.mods:
            return ("mod", f"{base}.{name}")
        return self.lookup(base, name, seen)

    def references(self, modname: str, nodes) -> set[tuple[str, str]]:
        """The (module, def) pairs that the expressions under `nodes` name."""
        mod = self.mods[modname]
        nodes = list(nodes)
        local, local_stars = _import_bindings(mod, [m for n in nodes for m in ast.walk(n)])

        def resolve(name: str):
            if name in local:
                return self.follow(local[name])
            hit = self.lookup(modname, name)
            if hit is None:
                for star in local_stars:
                    hit = hit or self.lookup(star, name)
            return hit

        out: set[tuple[str, str]] = set()
        for n in nodes:
            for node in ast.walk(n):
                if isinstance(node, ast.Name):
                    target = resolve(node.id)
                elif isinstance(node, ast.Attribute):
                    chain = []
                    while isinstance(node, ast.Attribute):
                        chain.append(node.attr)
                        node = node.value
                    if not isinstance(node, ast.Name):
                        continue
                    target = resolve(node.id)
                    for attr in reversed(chain):
                        if target is None or target[0] != "mod":
                            break
                        target = self.lookup(target[1], attr)
                else:
                    continue
                if target is not None and target[0] == "def":
                    out.add((target[1], target[2]))
        return out


@functools.lru_cache(maxsize=None)
def _graph() -> Graph:
    return Graph()


def _import_time_nodes(node):
    """Parts of a top-level def that run when its module is imported (a
    constant's value is its body instead)."""
    if not isinstance(node, _FUNCS):
        return []
    out = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        out += node.bases + [k.value for k in node.keywords]
    else:
        out += [d for d in node.args.defaults + node.args.kw_defaults if d is not None]
    return out


def _body(mod: Module, name: str) -> list:
    """What a reached def or constant reaches: its body and the values of
    every top-level assignment to its name."""
    node = mod.defs[name]
    values = [a.value if isinstance(a, ast.Assign) else a for a in mod.consts.get(name, ())]
    if isinstance(node, ast.ClassDef):
        return [*node.body, *values]
    if isinstance(node, _FUNCS):
        return [node.args, *node.body, *values]
    return values


def unreached_defs() -> list[tuple[str, int, str]]:
    """(path, line, name) of every top-level def or constant no root reaches."""
    g = _graph()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for m in g.mods.values():
        for d in m.defs:
            by_name.setdefault(d, []).append((m.name, d))

    todo: set[tuple[str, str]] = set()
    for m in g.mods.values():
        stmts = [n for n in m.tree.body if not isinstance(n, _FUNCS) and not _constant_names(n)]
        stmts += [x for d in m.defs.values() for x in _import_time_nodes(d)]
        todo |= g.references(m.name, stmts)
        if m.is_root:
            todo |= {(m.name, d) for d in m.defs}
            for node in ast.walk(m.tree):
                if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                        and _IDENT.match(node.value):
                    todo.update(by_name.get(node.value, ()))

    reached: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        modname, name = key
        todo |= g.references(modname, _body(g.mods[modname], name)) - reached

    out = []
    for m in g.mods.values():
        for d, node in m.defs.items():
            if (m.name, d) in reached or (m.name, "*") in ALLOWLIST or (m.name, d) in ALLOWLIST:
                continue
            out.append((os.path.relpath(m.path, REPO), node.lineno, d))
    return sorted(out)


def test_every_top_level_def_is_reachable():
    dead = unreached_defs()
    assert not dead, "defs no entry point reaches (delete them or wire them in):\n" + "\n".join(
        f"  {path}:{line} {name}" for path, line, name in dead
    )


def test_allowlist_entries_exist():
    g = _graph()
    for modname, name in ALLOWLIST:
        assert modname in g.mods, modname
        assert name == "*" or name in g.mods[modname].defs, (modname, name)
