"""Static module reachability of the package from the code users run.

Starts at ``impresso_ta.cli`` and every ``benchmark/*.py`` and follows
each ``import``/``from ... import`` statement, function-local ones
included, through the ``impresso_ta`` and ``benchmark`` modules it
reaches. Importing ``a.b.c`` also runs ``a`` and ``a.b``, so parent
packages count as reached; ``from a import b`` reaches ``a.b`` when
that is a module. No code is imported or run.

Prints the package's total line count, the line count of the modules
nothing reaches, and those modules by size:

    python tools/reachability.py

``--functions`` adds a name-level walk inside the reachable modules. Its
roots are every name ``cli.py`` and ``benchmark/*.py`` mention and every
name in a module's top-level statements (decorators, base classes and
default values included); the body of each live top-level function or
class adds its names in turn. A name counts wherever it appears, as a
variable, an attribute, an imported name or an identifier-shaped string,
so the walk over-approximates what is live and its counts are a floor.
It lists the top-level functions and classes of reachable package
modules that no live name refers to, with per-module line totals:

    python tools/reachability.py --functions
"""

from __future__ import annotations

import ast
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("impresso_ta", "benchmark")


def _modules() -> dict[str, str]:
    """Dotted module name -> file path for every module under ROOTS."""
    mods = {}
    for root in ROOTS:
        for path in glob.glob(os.path.join(REPO, root, "**", "*.py"), recursive=True):
            rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            mods[".".join(rel)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Every module under ROOTS that running ``path`` can import."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    is_pkg = os.path.basename(path) == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            found.update(_with_parents(base))
            found.update(f"{base}.{alias.name}" for alias in node.names)
    return {m for m in found if m in mods}


def reachable(mods: dict[str, str]) -> set[str]:
    """The modules ``impresso_ta.cli`` and ``benchmark/*.py`` import."""
    seen: set[str] = set()
    todo = ["impresso_ta.cli"] + sorted(
        m for m in mods if m.count(".") == 1 and m.startswith("benchmark.")
    )
    for start in list(todo):
        todo.extend(p for p in _with_parents(start) if p in mods)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return seen


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions: variables, attributes, imported
    names and identifier-shaped string constants."""
    found: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                found.add(n.value)
    return found


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _header(node: ast.AST) -> list[ast.AST]:
    """The parts of a top-level def that run at import time."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return parts + node.bases + node.keywords
    return parts + node.args.defaults + [
        d for d in node.args.kw_defaults if d is not None
    ]


def dead_definitions(mods: dict[str, str] | None = None) -> dict[str, list]:
    """Reachable package module -> ``[(lines, name), ...]``, largest
    first: its top-level functions and classes that no live name refers
    to (see the module docstring)."""
    mods = mods or _modules()
    seen = reachable(mods)
    live: set[str] = set()
    defs = []  # (module, name, node)
    for m in sorted(seen):
        with open(mods[m]) as f:
            tree = ast.parse(f.read(), mods[m])
        if m == "impresso_ta.cli" or m.startswith("benchmark."):
            live |= _names(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.append((m, stmt.name, stmt))
                for part in _header(stmt):
                    live |= _names(part)
            else:
                live |= _names(stmt)
    done: set[int] = set()
    grew = True
    while grew:
        grew = False
        for i, (_, name, node) in enumerate(defs):
            if i not in done and name in live:
                done.add(i)
                live |= _names(node)
                grew = True
    dead: dict[str, list] = {}
    for m, name, node in defs:
        if name in live or not m.startswith("impresso_ta"):
            continue
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        dead.setdefault(m, []).append((node.end_lineno - first + 1, name))
    return {m: sorted(v, reverse=True) for m, v in dead.items()}


def main() -> None:
    mods = _modules()
    seen = reachable(mods)

    def lines(name: str) -> int:
        with open(mods[name]) as f:
            return sum(1 for _ in f)

    package = sorted(m for m in mods if m.split(".")[0] == "impresso_ta")
    dead = sorted(
        ((lines(m), m) for m in package if m not in seen), reverse=True
    )
    print(f"package lines: {sum(lines(m) for m in package):,}")
    print(f"unreachable lines: {sum(n for n, _ in dead):,}")
    for n, m in dead:
        print(f"{n:>7,}  {m}")
    if "--functions" not in sys.argv[1:]:
        return
    by_module = sorted(
        ((sum(n for n, _ in v), m, v) for m, v in dead_definitions(mods).items()),
        reverse=True,
    )
    total = sum(t for t, _, _ in by_module)
    n_defs = sum(len(v) for _, _, v in by_module)
    print(
        f"unreferenced top-level definitions in reachable modules: "
        f"{n_defs}, {total:,} lines"
    )
    for t, m, v in by_module:
        print(f"{t:>7,}  {m}")
        for n, name in v:
            print(f"{n:>13,}  {name}")


if __name__ == "__main__":
    main()
