"""The three jobs a user of ``impresso_ta.cli`` runs, and their output
checks.

Each workload generates its input once per run, then runs its job against
the warm session as often as the run allows. A job is the CLI command
function called with the parsed CLI arguments; its outputs are checked
against the generator's truths after the job returns.
"""

from __future__ import annotations

import bz2
import contextlib
import io
import os
import shutil

from benchmark import gen

TS = gen.TS


def data_files(root: str) -> list[str]:
    """Files a Spark write left under ``root``, without the commit
    markers and checksum side files."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [
            os.path.join(dirpath, f)
            for f in files
            if not f.startswith((".", "_"))
        ]
    return sorted(out)


def _lines(root: str) -> list[str]:
    lines: list[str] = []
    for p in data_files(root):
        with open(p, "rb") as fh:
            raw = fh.read()
        if p.endswith(".bz2"):
            raw = bz2.decompress(raw)
        lines += raw.decode().splitlines()
    return [ln for ln in lines if ln]


class Workload:
    """One workload: ``generate`` writes the input and keeps its truths,
    ``job`` runs the CLI command(s), ``check`` returns a list of failed
    checks (empty when the outputs are right); ``state`` carries what a
    check compares across the jobs of one run."""

    name = ""
    command = ""  # the impresso_ta.cli function the job calls
    size = 0

    def __init__(self, work_dir: str, seed: int, scale: float = 1.0):
        self.input_dir = os.path.join(work_dir, "input")
        self.out_dir = os.path.join(work_dir, "out")
        self.seed = seed
        self.n = max(4, int(self.size * scale))
        self.truth: dict = {}
        self.state: dict = {}

    def generate(self) -> dict:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        self.truth = self._generate()
        return gen.fingerprint(self.input_dir)

    def clean_output(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def job(self, spark) -> None:
        from impresso_ta import cli

        command = getattr(cli, self.command)
        with contextlib.redirect_stdout(io.StringIO()):
            for argv in self.argvs():
                command(cli._build_parser().parse_args(argv), spark)

    def bytes_written(self) -> int:
        return sum(os.path.getsize(p) for p in data_files(self.out_dir))


class ImportMetsAlto(Workload):
    name = "import_mets_alto"
    command = "cmd_import"
    size = 24  # issues

    def _generate(self):
        return gen.gen_mets_alto(self.input_dir, self.seed, self.n)

    def argvs(self):
        return [[
            "import", "--input-dir", self.input_dir, "--format", "mets_alto",
            "--output-dir", self.out_dir, "--validate", "--ts", TS,
        ]]

    def check(self) -> list[str]:
        import json

        t = self.truth
        issues = [json.loads(x) for x in _lines(f"{self.out_dir}/issues")]
        ci_ids = [ci["m"]["id"] for i in issues for ci in i.get("i") or []]
        got = {
            "issues": len(issues),
            "pages": len(_lines(f"{self.out_dir}/pages")),
            "error_rows": len(_lines(f"{self.out_dir}/errors")),
            "ci_ids_digest": gen.digest(ci_ids),
        }
        return [f"{k}: {v} != {t[k]}" for k, v in got.items() if v != t[k]]


class RebuildCanonical(Workload):
    name = "rebuild_canonical"
    command = "cmd_rebuild"
    size = 32  # issues

    def _generate(self):
        return gen.gen_canonical(self.input_dir, self.seed, self.n)

    def argvs(self):
        return [
            [
                "rebuild",
                "--issues", f"{self.input_dir}/issues/*/*.jsonl.bz2",
                "--supports", f"{self.input_dir}/pages/*/*/*.jsonl.bz2",
                "--output-dir", f"{self.out_dir}/{fmt}",
                "--fmt", fmt, "--ts", TS,
            ]
            for fmt in ("solr", "passim")
        ]

    def check(self) -> list[str]:
        t = self.truth
        bad = []
        for fmt in ("solr", "passim"):
            n_ok = len(_lines(f"{self.out_dir}/{fmt}/rebuilt"))
            problems = [
                ln.split(": ", 1)[0]
                for ln in _lines(f"{self.out_dir}/{fmt}/errors")
            ]
            if n_ok + len(problems) != t["cis"]:
                bad.append(f"{fmt}: {n_ok} + {len(problems)} != {t['cis']} CIs")
            if gen.digest(problems) != t["problem_digest"]:
                bad.append(f"{fmt}: problem rows are not the injected CIs")
        return bad


class CorpusPrepare(Workload):
    name = "corpus_prepare"
    command = "cmd_corpus"
    size = 400  # distinct base documents

    def _generate(self):
        return gen.gen_documents(self.input_dir, self.seed, self.n)

    def argvs(self):
        return [[
            "corpus", "--input", f"{self.input_dir}/documents.parquet",
            "--output-dir", self.out_dir,
        ]]

    def survivors(self) -> list[int]:
        import pyarrow.parquet as pq

        ids: list[int] = []
        for p in data_files(f"{self.out_dir}/corpus"):
            ids += pq.read_table(p, columns=["doc_id"]).column(0).to_pylist()
        return ids

    def check(self) -> list[str]:
        ids = self.survivors()
        bad = []
        if len(set(ids)) != len(ids):
            bad.append("duplicate doc ids in the corpus")
        kept_bad = set(ids) & set(self.truth["must_drop"])
        if kept_bad:
            bad.append(f"{len(kept_bad)} injected duplicates/low-quality docs kept")
        d = gen.digest(str(i) for i in ids)
        if self.state.setdefault("survivors_digest", d) != d:
            bad.append("surviving doc-id set differs from the first job's")
        self.state["survivors"] = len(ids)
        return bad


WORKLOADS = {w.name: w for w in (ImportMetsAlto, RebuildCanonical, CorpusPrepare)}
