"""Every top-level definition in ``lotad_spark/`` is reached from a caller.

A definition is a function, a class or a plain ``NAME = ...`` constant.
The scan is static (stdlib ``ast``; no Spark session). Roots are:

* every ``.py`` file of the repo outside ``lotad_spark/`` and ``tests/``
  (``bench.py``, ``__spark_entry__.py``, ``scripts/``, ``perfbench/``);
* the CLI commands (functions decorated with ``@<group>.command`` or
  ``@click.group``);
* module-level code of the package other than definitions, imports and
  ``__all__`` export lists (package ``__init__`` re-exports reach
  nothing by themselves).

From there, a reached function or class reaches every package definition
its source names: bare names resolve to the module's own definitions or
its ``lotad_spark`` imports (following re-exports), and ``mod.attr``
resolves through imported modules. A definition that no root reaches is
code only tests run; it is deleted, or it is a test oracle and sits on
``ALLOWED`` with its reason.

Run as a script to print the unreachable definitions with their sizes.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "lotad_spark"

# (module, name) -> why it stays although only tests call it.
ALLOWED = {
    ("lotad_spark.pipeline.web", "decode_entities"):
        "oracle of `decode_entities_expr`",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _is_cli_command(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Attribute) and fn.attr in ("command", "group"):
            return True
    return False


def _is_export_list(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines as a unit the scan can drop.

    Functions, classes and plain ``NAME = ...`` constants (dunders excluded:
    ``__version__`` and the like are read by name from outside).
    """
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if len(names) != len(targets) or any(n.startswith("__") for n in names):
        return []
    return names


class _Index:
    """Definitions and ``lotad_spark`` import aliases of every scanned file."""

    def __init__(self):
        self.trees: dict[str, ast.Module] = {}  # package module -> tree
        self.is_package: dict[str, bool] = {}
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.aliases: dict[str, dict[str, tuple]] = {}  # file key -> alias map
        for path in sorted((REPO / PACKAGE).rglob("*.py")):
            mod = _module_name(path)
            tree = ast.parse(path.read_text(), filename=str(path))
            self.trees[mod] = tree
            self.is_package[mod] = path.name == "__init__.py"
            self.defs[mod] = {
                name: s for s in tree.body for name in _defined_names(s)
            }
        for mod, tree in self.trees.items():
            self.aliases[mod] = self._alias_map(tree, mod)

    def _absolute(self, node: ast.ImportFrom, mod: str | None) -> str | None:
        if not node.level:
            return node.module
        if mod is None:
            return None
        base = mod.split(".")
        if not self.is_package.get(mod, False):
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))

    def _alias_map(self, tree: ast.Module, mod: str | None) -> dict:
        """Local name -> ("mod", module) or ("from", module, name).

        Imports anywhere in the file count, function-local ones too.
        """
        out: dict[str, tuple] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if not a.name.startswith(PACKAGE):
                        continue
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        out[a.name.split(".")[0]] = ("mod", PACKAGE)
            elif isinstance(node, ast.ImportFrom):
                src = self._absolute(node, mod)
                if not src or not src.startswith(PACKAGE):
                    continue
                for a in node.names:
                    out[a.asname or a.name] = ("from", src, a.name)
        return out

    def _target(self, alias: tuple | None) -> tuple | None:
        """An alias as ("mod", module) or ("def", module, name), or None.

        ``from pkg import x`` names what ``pkg`` binds to ``x`` (a package
        re-export shadows its submodule of the same name), else the
        submodule ``pkg.x``.
        """
        if alias is None or alias[0] == "mod":
            return alias
        _, src, name = alias
        hit = self.resolve(src, name)
        if hit:
            return ("def", *hit)
        if f"{src}.{name}" in self.trees:
            return ("mod", f"{src}.{name}")
        return None

    def resolve(self, mod: str, name: str, seen=None) -> tuple | None:
        """The (module, definition) that ``mod.name`` denotes, if any."""
        if name in self.defs.get(mod, {}):
            return (mod, name)
        seen = seen or set()
        if (mod, name) in seen:
            return None
        seen.add((mod, name))
        target = self.aliases.get(mod, {}).get(name)
        if target and target[0] == "from":
            return self.resolve(target[1], target[2], seen)
        return None

    def references(self, nodes, mod: str | None, aliases: dict) -> set:
        """Package definitions that ``nodes`` name, read in file ``mod``."""
        out = set()

        def module_of(expr):
            if isinstance(expr, ast.Name):
                t = self._target(aliases.get(expr.id))
                return t[1] if t and t[0] == "mod" else None
            if isinstance(expr, ast.Attribute):
                base = module_of(expr.value)
                if base and f"{base}.{expr.attr}" in self.trees:
                    return f"{base}.{expr.attr}"
            return None

        for root in nodes:
            for node in ast.walk(root):
                hit = None
                if isinstance(node, ast.Name):
                    if mod is not None and node.id in self.defs[mod]:
                        hit = (mod, node.id)
                    else:
                        t = self._target(aliases.get(node.id))
                        if t and t[0] == "def":
                            hit = t[1:]
                elif isinstance(node, ast.Attribute):
                    base = module_of(node.value)
                    if base:
                        hit = self.resolve(base, node.attr)
                if hit:
                    out.add(hit)
        return out


def _root_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO).parts
        if rel[0] in (PACKAGE, "tests") or any(p.startswith(".") for p in rel):
            continue
        yield path


def unreachable() -> dict[tuple[str, str], int]:
    """(module, name) -> source lines, for every definition no root reaches."""
    idx = _Index()
    frontier = set()
    for path in _root_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        frontier |= idx.references([tree], None, idx._alias_map(tree, None))
    for mod, tree in idx.trees.items():
        top = [
            s for s in tree.body
            if not isinstance(s, (ast.Import, ast.ImportFrom))
            and not _defined_names(s)
            and not _is_export_list(s)
        ]
        frontier |= idx.references(top, mod, idx.aliases[mod])
        frontier |= {
            (mod, s.name) for s in tree.body
            if isinstance(s, _DEFS) and _is_cli_command(s)
        }
    reached = set()
    while frontier:
        key = frontier.pop()
        if key in reached:
            continue
        reached.add(key)
        mod, name = key
        frontier |= idx.references([idx.defs[mod][name]], mod, idx.aliases[mod]) - reached
    out = {}
    for mod, defs in idx.defs.items():
        for name, node in defs.items():
            if (mod, name) not in reached:
                decorators = getattr(node, "decorator_list", [])
                first = min([node.lineno] + [d.lineno for d in decorators])
                out[(mod, name)] = node.end_lineno - first + 1
    return out


def test_every_definition_has_a_caller():
    dead = {k: n for k, n in unreachable().items() if k not in ALLOWED}
    assert not dead, "only tests reach: " + ", ".join(
        f"{m}.{n} ({lines} lines)" for (m, n), lines in sorted(dead.items())
    )


def test_allowlist_names_live_test_oracles():
    dead = unreachable()
    stale = [k for k in ALLOWED if k not in dead]
    assert not stale, f"allowlisted but reached (drop from ALLOWED): {stale}"


if __name__ == "__main__":
    found = unreachable()
    for (m, n), lines in sorted(found.items()):
        tag = "  [allowed: %s]" % ALLOWED[(m, n)] if (m, n) in ALLOWED else ""
        print(f"{lines:5d}  {m}.{n}{tag}")
    print(f"{sum(found.values()):5d}  total")
