"""tools/reachability.py: the module walk from the CLI and the
benchmark, and its ``--functions`` name-level walk over the modules
they reach."""

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from tools.reachability import (  # noqa: E402
    _modules,
    dead_definitions,
    reachable,
)


def test_module_unreachable_set_is_pinned():
    """Every package module is imported by a CLI job or the benchmark,
    except these. A new module that nothing reaches fails here."""
    mods = _modules()
    package = {m for m in mods if m.split(".")[0] == "impresso_ta"}
    assert package - reachable(mods) == {
        # the oracle catalogue behind __spark_entry__, run by
        # tools/check.py and tests/test_oracle_parity.py
        "impresso_ta.queries",
        # the synthetic tables __spark_entry__.entry builds for the
        # driver contract, and their package
        "impresso_ta.plans",
        "impresso_ta.plans.synthetic",
        # fuzzy joins, used only by catalogue entries: the next deletion
        "impresso_ta.operators.fuzzy",
    }


def test_function_walk_keeps_cli_entry_points_live():
    dead = {name for defs in dead_definitions().values() for _, name in defs}
    for name in (
        "rebuild_issues_solr",
        "rebuild_issues_passim",
        "import_issues",
        "walk_issues",
        "prepare_corpus",
    ):
        assert name not in dead, name


def test_function_walk_follows_names_from_the_roots(tmp_path):
    files = {
        "impresso_ta.cli": "from impresso_ta.x import used\nused()\n",
        "impresso_ta.x": (
            "import functools\n\n"
            "@functools.cache\n"
            "def used():\n    return helper()\n\n\n"
            "def helper():\n    return 1\n\n\n"
            "def unused():\n    return 2\n\n\n"
            "class Unused:\n    pass\n"
        ),
    }
    mods = {}
    for name, text in files.items():
        path = tmp_path / f"{name}.py"
        path.write_text(text)
        mods[name] = str(path)
    assert dead_definitions(mods) == {
        "impresso_ta.x": [(2, "unused"), (2, "Unused")]
    }
