"""DuckDB-oracle parity of the catalogue entries whose operators the CLI
jobs run: C4/Gopher filters, line-span and document dedup, corpus
mixing, splitting, domain caps, DSIR selection, the LR quality filter,
``prepare_corpus`` and the connected-components clustering behind doc
dedup. Each case is the per-entry comparison of ``tools/check.py``
(columns, row counts and an order-insensitive value hash) at sf0.001,
plus a guard that the result is not empty — an empty frame matching an
empty oracle would prove nothing.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check import check_entry, oracle_connection  # noqa: E402

CLI_REACHABLE = [
    "text_c4_filters",
    "dedup_line_spans",
    "dedup_clusters",
    "dedup_survivor_stats",
    "dedup_minhash_survivors",
    "dedup_incremental_lsh",
    "dedup_exact_substring",
    "corpus_temperature_mix",
    "corpus_split_assign",
    "per_domain_cap",
    "corpus_dsir_selection",
    "text_lr_classifier_rowlocal",
    "corpus_prepare_pipeline",
    "corpus_prepare_dedup_auto",
    "corpus_prepare_dedup_survivors",
    "corpus_prepare_domain_cap",
    "corpus_prepare_dsir",
    "corpus_prepare_lr_filter",
    "graph_connected_components",
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", CLI_REACHABLE)
def test_cli_reachable_entry_matches_oracle(spark, oracle, sf_dir, name):
    rec = check_entry(spark, oracle, name, sf_dir)
    assert rec["err"] is None, rec["err"]
    assert rec["ok"], rec
    assert rec["spark_rows"] > 0, f"{name} returned no rows"
