"""Pre-snapshot gate: refuse to end a round with silent evidence drift.

Round 5's only process fault was an end-of-round commit that added two new
catalog queries without running the suite — one missing COVERAGE.md row and
one brittle plan assertion shipped red.  This gate makes that impossible to
do silently.  Run it before ANY end-of-round / snapshot commit:

    python tools/preflight.py            # fast gate (consistency + new queries)
    python tools/preflight.py --full     # + the whole pytest suite

Fast gate =
  1. ``pytest -q tests/test_coverage_consistency.py`` — every registry query
     has a COVERAGE.md row, every oracle key resolves, etc.
  2. ``tools/check.py`` on every registry query that is NOT in the newest
     committed ``CHECK_r*.json`` snapshot — i.e. exactly the queries added
     since the last full-catalog verification, the ones a snapshot commit
     would otherwise ship unverified.

Exit 0 = safe to snapshot.  Non-zero = fix before committing.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def static_gate() -> list[str]:
    """The no-Spark consistency core of the fast gate (<5 s): every
    registry query has a COVERAGE.md row, every coverage-named oracle
    exists, queries()/oracle_sql() cover the same keys, and every entry
    calls package code.  Pure imports, an ``ast`` walk and text
    matching — cheap enough for a pre-commit hook."""
    problems: list[str] = []
    try:
        from impresso_ta.queries import REGISTRY

        import __spark_entry__ as e
    except Exception as exc:  # a broken import IS a red gate
        return [f"import failure: {exc}"]
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        text = f.read()
    unlisted = sorted(n for n in REGISTRY if n not in text)
    if unlisted:
        problems.append(f"queries missing from COVERAGE.md: {unlisted}")
    named = set(re.findall(r"oracle[s]? `([a-z0-9_]+)`", text))
    unknown = sorted(n for n in named if n not in REGISTRY)
    if unknown:
        problems.append(f"COVERAGE.md names unknown oracles: {unknown}")
    qs, oracles = set(e.queries()), set(e.oracle_sql())
    if qs != oracles:
        problems.append(
            f"queries()/oracle_sql() key drift: only-queries="
            f"{sorted(qs - oracles)} only-oracles={sorted(oracles - qs)}"
        )
    spark_only = spark_only_entries()
    if spark_only:
        problems.append(
            f"catalog entries that call no impresso_ta code (their oracle "
            f"match tests only Spark): {spark_only}"
        )
    problems += prose_counts(len(REGISTRY))
    return problems


def spark_only_entries(
    path: str = os.path.join(REPO, "impresso_ta", "queries.py"),
) -> list[str]:
    """``@q`` entries whose function body references no name bound to
    an ``impresso_ta`` import — neither a module-level one (``dedup``,
    ``text_analysis``) nor a function-local
    ``from impresso_ta... import``. Such an entry rebuilds its operator
    from raw ``F.`` expressions, so agreeing with DuckDB says nothing
    about this package."""
    with open(path) as f:
        tree = ast.parse(f.read())

    def bound(nodes) -> set[str]:
        names: set[str] = set()
        for n in nodes:
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(
                "impresso_ta"
            ):
                names |= {a.asname or a.name for a in n.names}
            elif isinstance(n, ast.Import):
                names |= {
                    (a.asname or a.name).split(".")[0]
                    for a in n.names
                    if a.name.startswith("impresso_ta")
                }
        return names

    module_names = bound(tree.body)
    offenders = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        entry = next(
            (
                d.args[0].value
                for d in fn.decorator_list
                if isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "q"
            ),
            None,
        )
        if entry is None:
            continue
        nodes = list(ast.walk(fn))
        used = {n.id for n in nodes if isinstance(n, ast.Name)}
        if not used & (module_names | bound(nodes)):
            offenders.append(entry)
    return offenders


def prose_counts(n_registry: int) -> list[str]:
    """README's and COVERAGE.md's stated query counts and README's
    test-function count vs the live repo — prose can't rot (VERDICT r7
    found a stale '371 tests'). Test count is the static ``def test_``
    tally (parametrize expands at collect time, so README states
    FUNCTIONS, a number this gate can verify without importing
    pyspark)."""
    problems: list[str] = []
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    stated_q = {int(m) for m in re.findall(r"(\d+) (?:catalog|oracle-checked) quer", readme)}
    if stated_q != {n_registry}:
        problems.append(
            f"README query counts {sorted(stated_q)} != live catalog "
            f"{n_registry}"
        )
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        totals = re.search(r"^\*\*Totals:\*\* (\d+) catalog queries", f.read(), re.M)
    if totals is None:
        problems.append("COVERAGE.md states no '**Totals:** N catalog queries'")
    elif int(totals.group(1)) != n_registry:
        problems.append(
            f"COVERAGE.md Totals {totals.group(1)} != live catalog {n_registry}"
        )
    n_tests = 0
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")):
        with open(path) as f:
            n_tests += len(re.findall(r"^def test_", f.read(), re.M))
    m = re.search(r"(\d+) test functions", readme)
    if m is None:
        problems.append("README states no 'N test functions' count")
    elif int(m.group(1)) != n_tests:
        problems.append(
            f"README test-function count {m.group(1)} != counted {n_tests}"
        )
    return problems


def unverified_queries() -> tuple[str | None, list[str]]:
    """Registry queries NOT covered by the newest committed CHECK_r*.json
    — the ones a snapshot commit would ship without oracle evidence."""
    import __spark_entry__ as e

    latest, verified = newest_check_snapshot()
    return latest, [q for q in e.queries() if q not in verified]


def newest_check_snapshot() -> tuple[str | None, set[str]]:
    """Names already verified by the latest committed CHECK_r*.json."""
    paths = glob.glob(os.path.join(REPO, "CHECK_r*.json"))
    if not paths:
        return None, set()

    def round_no(p: str) -> int:
        m = re.search(r"CHECK_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    latest = max(paths, key=round_no)
    with open(latest) as f:
        data = json.load(f)
    return latest, set(data.get("queries", data).keys())


def main() -> int:
    full = "--full" in sys.argv

    if "--install-hook" in sys.argv:
        import shutil
        import stat

        src = os.path.join(REPO, "tools", "hooks", "pre-commit")
        dst = os.path.join(REPO, ".git", "hooks", "pre-commit")
        shutil.copyfile(src, dst)
        os.chmod(dst, os.stat(dst).st_mode | stat.S_IXUSR | stat.S_IXGRP)
        print(f"installed {src} -> {dst}")
        return 0

    if "--static" in sys.argv:
        # hook mode: no Spark, no subprocesses, seconds not minutes
        problems = static_gate()
        for p in problems:
            print(f"PREFLIGHT STATIC FAIL: {p}")
        latest, new = unverified_queries()
        if new:
            print(
                f"PREFLIGHT STATIC WARN: {len(new)} quer"
                f"{'y' if len(new) == 1 else 'ies'} not in "
                f"{os.path.basename(latest) if latest else '<none>'}: "
                f"{', '.join(new)} — run tools/check.py (or "
                f"tools/preflight.py) before the snapshot commit"
            )
        if not problems:
            print("PREFLIGHT STATIC OK")
        return 1 if problems else 0

    print("[preflight 1/3] consistency suite")
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "-q",
         "tests/test_coverage_consistency.py"],
        cwd=REPO,
    )
    if r.returncode != 0:
        print("PREFLIGHT FAIL: consistency suite red — fix before snapshot")
        return 1

    import __spark_entry__ as entrymod

    registry = list(entrymod.queries())
    latest, verified = newest_check_snapshot()
    new = [q for q in registry if q not in verified]
    if new:
        print(f"[preflight 2/3] {len(new)} quer{'y' if len(new)==1 else 'ies'} "
              f"not in {os.path.basename(latest) if latest else '<none>'}: "
              f"{', '.join(new)}")
        r = subprocess.run(
            [sys.executable, "tools/check.py", "/root/testdata/sf0.01", *new],
            cwd=REPO,
        )
        if r.returncode != 0:
            print("PREFLIGHT FAIL: new-query oracle check red")
            return 1
    else:
        print(f"[preflight 2/3] no queries newer than "
              f"{os.path.basename(latest) if latest else '<none>'} — skip")

    if full:
        print("[preflight 3/3] full pytest suite (--full)")
        r = subprocess.run([sys.executable, "-m", "pytest", "-q", "tests/"],
                           cwd=REPO)
        if r.returncode != 0:
            print("PREFLIGHT FAIL: pytest red")
            return 1
    else:
        print("[preflight 3/3] full suite skipped (pass --full to include)")

    print("PREFLIGHT OK — safe to snapshot")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
