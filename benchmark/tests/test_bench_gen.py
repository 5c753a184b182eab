"""Generator determinism: the same seed writes the same bytes, another
seed different ones, and the truths match what was written.

Run from the repository root: ``python -m pytest benchmark/tests``.
"""

import json

import pytest

from benchmark import gen


@pytest.mark.parametrize(
    "fn,size",
    [(gen.gen_mets_alto, 6), (gen.gen_canonical, 8), (gen.gen_documents, 60)],
)
def test_same_seed_same_fingerprint_new_seed_new_one(tmp_path, fn, size):
    prints, truths = [], []
    for run, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / run
        out.mkdir()
        truths.append(fn(str(out), seed, size))
        prints.append(gen.fingerprint(str(out)))
    assert prints[0] == prints[1]
    assert truths[0] == truths[1]
    assert prints[0]["md5"] != prints[2]["md5"]
    assert prints[0]["files"] > 0 and prints[0]["bytes"] > 0


def test_canonical_truths_match_written_store(tmp_path):
    import bz2

    truth = gen.gen_canonical(str(tmp_path), 3, 12)
    issues = [
        json.loads(line)
        for p in sorted((tmp_path / "issues").rglob("*.jsonl.bz2"))
        for line in bz2.decompress(p.read_bytes()).decode().splitlines()
    ]
    page_ids = {
        json.loads(line)["id"]
        for p in sorted((tmp_path / "pages").rglob("*.jsonl.bz2"))
        for line in bz2.decompress(p.read_bytes()).decode().splitlines()
    }
    cis = [ci for i in issues for ci in i["i"]]
    missing = [
        ci["m"]["id"]
        for ci in cis
        if any(
            f"{ci['m']['id'][:-6]}-p{p:04d}" not in page_ids for p in ci["m"]["pp"]
        )
    ]
    assert len(issues) == truth["issues"]
    assert len(cis) == truth["cis"]
    assert gen.digest(missing) == truth["problem_digest"]


def test_documents_truths(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.gen_documents(str(tmp_path), 5, 120)
    t = pq.read_table(tmp_path / "documents.parquet")
    ids = t.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == truth["docs"]
    assert set(truth["must_drop"]) <= set(ids)
    # every injected copy shares its text with a lower-id document
    seen: set[str] = set()
    copies = set()
    for i, text in sorted(zip(ids, t.column("text").to_pylist())):
        if text in seen:
            copies.add(i)
        seen.add(text)
    assert len(copies) >= truth["exact_dups"]
