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
"""

from __future__ import annotations

import ast
import glob
import os

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


def main() -> None:
    mods = _modules()
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


if __name__ == "__main__":
    main()
