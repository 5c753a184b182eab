"""tools/reachability.py --functions: the name-level walk over the
modules the CLI and the benchmark reach."""

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from tools.reachability import dead_definitions  # noqa: E402


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
