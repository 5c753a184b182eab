"""The traced run: each layer's public function called in pipeline order,
its output materialised before the next call, under a Spark job group
named after the layer.

Spans (name, start, end, parent) are kept in memory and written as JSON
when the run ends. Per-layer figures come from outside the program: CPU
from ``/proc`` (``probe.ProcTree``) and stage metrics from the UI REST
endpoint (``probe.SparkRest``), filtered by job group.
"""

from __future__ import annotations

import contextlib
import os
import time

from benchmark.jobs import TS, data_files

# (name, unit) of every per-layer metric; a layer a workload leaves idle
# reports 0.
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("session.warm_workers_s", "s"),
    ("discovery.busy_s", "s"),
    ("discovery.issues", "count"),
    ("importers.busy_s", "s"),
    ("importers.python_cpu_s", "s"),
    ("importers.jvm_cpu_s", "s"),
    ("importers.error_rows", "count"),
    ("importers.task_max_over_p50", "ratio"),
    ("validate.busy_s", "s"),
    ("validate.rows_rejected", "count"),
    ("sinks.busy_s", "s"),
    ("sinks.jvm_cpu_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("readers.busy_s", "s"),
    ("readers.python_cpu_s", "s"),
    ("readers.bytes_read", "bytes"),
    ("readers.rows", "count"),
    ("rebuild_solr.busy_s", "s"),
    ("rebuild_solr.python_cpu_s", "s"),
    ("rebuild_solr.shuffle_write_mb", "MB"),
    ("rebuild_solr.spill_mb", "MB"),
    ("rebuild_solr.task_max_over_p50", "ratio"),
    ("rebuild_solr.cis_out", "count"),
    ("rebuild_solr.problem_rows", "count"),
    ("rebuild_passim.busy_s", "s"),
    ("rebuild_passim.python_cpu_s", "s"),
    ("rebuild_passim.shuffle_write_mb", "MB"),
    ("rebuild_passim.docs_out", "count"),
    ("text_arrow.busy_s", "s"),
    ("text_arrow.python_cpu_s", "s"),
    ("text_arrow.kept_share", "ratio"),
    ("dedup.line_busy_s", "s"),
    ("dedup.doc_busy_s", "s"),
    ("dedup.shuffle_write_mb", "MB"),
    ("dedup.spill_mb", "MB"),
    ("dedup.docs_dropped", "count"),
    ("dedup.route_minhash", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.gc_s", "s"),
    ("spark.cpu_util", "ratio"),
    ("trace.overhead_s", "s"),
]


class Tracer:
    """Records spans around layer calls; one instance per traced job."""

    def __init__(self, spark, tree, rep: int):
        self.sc = spark.sparkContext
        self.tree = tree
        self.rep = rep
        self.spans: list[dict] = []
        self.groups: list[str] = []
        self._origin = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = "job"):
        group = f"{name}#{self.rep}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        jvm0, py0 = self.tree.cpu()
        t0 = time.perf_counter()
        rec: dict = {}
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            jvm1, py1 = self.tree.cpu()
            self.sc.setJobGroup(f"job#{self.rep}", "job")
            rec.update(
                name=name,
                parent=parent,
                group=group,
                start=t0 - self._origin,
                end=t1 - self._origin,
                busy_s=t1 - t0,
                jvm_cpu_s=jvm1 - jvm0,
                python_cpu_s=py1 - py0,
            )
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def trace_import(spark, w, tr: Tracer) -> None:
    from impresso_ta.importers import base
    from impresso_ta.operators.validate import (
        split_valid,
        validate_audio_records,
        validate_issues,
        validate_pages,
    )
    from impresso_ta.sources import (
        detect_issues,
        manifest_stats,
        write_errors,
        write_issues,
        write_pages,
    )

    out = w.out_dir
    with tr.span("discovery") as s:
        disc = detect_issues(spark, w.input_dir, "mets_alto").persist()
        s["issues"] = disc.count()
    with tr.span("importers") as s:
        # import_issues(disc, ts=TS) with its single parse frame persisted,
        # so the four outputs derived from it parse each issue once
        combined = disc.mapInPandas(
            base._import_udtf(TS), schema=base.IMPORT_ROW_SCHEMA
        ).persist()
        combined.count()
        res = base._split_combined(combined)
        s["error_rows"] = res.errors.count()
    with tr.span("validate") as s:
        issues, issue_errs = split_valid(validate_issues(res.issues), "validate-issue")
        pages, page_errs = split_valid(validate_pages(res.pages), "validate-page")
        records, record_errs = split_valid(
            validate_audio_records(res.records), "validate-record"
        )
        errors = res.errors.unionByName(issue_errs).unionByName(
            page_errs
        ).unionByName(record_errs)
        frames = [f.persist() for f in (issues, pages, records, errors)]
        for f in frames:
            f.count()
        issues, pages, records, errors = frames
        s["rows_rejected"] = (
            issue_errs.count() + page_errs.count() + record_errs.count()
        )
    with tr.span("sinks") as s:
        write_issues(issues, f"{out}/issues")
        write_pages(pages, f"{out}/pages")
        if records.take(1):
            write_pages(records, f"{out}/records")
        write_errors(errors, f"{out}/errors")
        manifest_stats(issues).write.mode("overwrite").json(f"{out}/manifest")
    for f in frames + [combined, disc]:
        f.unpersist()


def trace_rebuild(spark, w, tr: Tracer) -> None:
    from pyspark.sql import functions as F

    from impresso_ta.rebuild import rebuild_issues_passim, rebuild_issues_solr
    from impresso_ta.rebuild.solr import split_errors
    from impresso_ta.sources import write_errors, write_rebuilt
    from impresso_ta.sources.readers import read_issues, read_pages

    inp, out = w.input_dir, w.out_dir
    with tr.span("readers") as s:
        issues = read_issues(spark, f"{inp}/issues/*/*.jsonl.bz2").persist()
        pages = read_pages(spark, f"{inp}/pages/*/*/*.jsonl.bz2").persist()
        s["rows"] = issues.count() + pages.count()
    with tr.span("rebuild_solr") as s:
        solr = rebuild_issues_solr(issues, pages, ts=TS).persist()
        solr.count()
        solr_ok, solr_err = split_errors(solr)
        s["cis_out"] = solr_ok.count()
        s["problem_rows"] = solr_err.count()
    with tr.span("rebuild_passim") as s:
        passim = rebuild_issues_passim(issues, pages).persist()
        passim.count()
        passim_ok = passim.filter(~F.col("has_problem")).drop("has_problem", "error")
        passim_err = passim.filter(F.col("has_problem")).select(
            F.col("id").alias("canonical_path"),
            F.lit("rebuild").alias("stage"),
            F.coalesce(F.col("error"), F.lit("unknown")).alias("error"),
        )
        s["docs_out"] = passim_ok.count()
    with tr.span("sinks"):
        write_rebuilt(solr_ok, f"{out}/solr/rebuilt")
        write_errors(solr_err, f"{out}/solr/errors")
        write_rebuilt(passim_ok, f"{out}/passim/rebuilt")
        write_errors(passim_err, f"{out}/passim/errors")
    for f in (issues, pages, solr, passim):
        f.unpersist()


def trace_corpus(spark, w, tr: Tracer) -> None:
    """Each stage through ``prepare_corpus`` itself with only that stage
    switched on, so the stage composition stays the program's."""
    from impresso_ta.operators.pipeline import prepare_corpus

    off = dict(c4=False, gopher=False, line_spans=None, doc_dedup=False)
    docs = spark.read.parquet(f"{w.input_dir}/documents.parquet")
    n_in = docs.count()
    with tr.span("text_arrow") as s:
        res = prepare_corpus(docs, **{**off, "c4": True, "gopher": True})
        filtered = res.docs.persist()
        s["kept"] = filtered.count()
        s["kept_share"] = s["kept"] / n_in
    with tr.span("dedup_line") as s:
        res_line = prepare_corpus(filtered, **{**off, "line_spans": 10})
        lined = res_line.docs.persist()
        s["docs_out"] = lined.count()
    with tr.span("dedup_doc") as s:
        res_doc = prepare_corpus(lined, **{**off, "doc_dedup": True})
        deduped = res_doc.docs.persist()
        s["docs_out"] = deduped.count()
        plan = deduped._jdf.queryExecution().analyzed().toString()
        s["route_minhash"] = 1 if "is_rep" in plan and "_fp" not in plan else 0
    with tr.span("write"):
        deduped.write.mode("overwrite").parquet(f"{w.out_dir}/corpus")
    for r in (res, res_line, res_doc):
        r.unpersist()
    for f in (filtered, lined, deduped):
        f.unpersist()


TRACERS = {
    "import_mets_alto": trace_import,
    "rebuild_canonical": trace_rebuild,
    "corpus_prepare": trace_corpus,
}


def layer_metrics(tr: Tracer, rest, cores: int) -> dict:
    """Per-layer figures of one traced job (metric name → value)."""
    rest.settle(tr.groups)
    g = {s["name"]: rest.group_metrics(s["group"]) for s in tr.spans}
    m: dict[str, float] = {}
    names = {s["name"] for s in tr.spans}
    sp = tr.get
    if "discovery" in names:
        m["discovery.busy_s"] = sp("discovery")["busy_s"]
        m["discovery.issues"] = sp("discovery")["issues"]
        imp = sp("importers")
        m["importers.busy_s"] = imp["busy_s"]
        m["importers.python_cpu_s"] = imp["python_cpu_s"]
        m["importers.jvm_cpu_s"] = imp["jvm_cpu_s"]
        m["importers.error_rows"] = imp["error_rows"]
        m["importers.task_max_over_p50"] = g["importers"]["task_max_over_p50"]
        m["validate.busy_s"] = sp("validate")["busy_s"]
        m["validate.rows_rejected"] = sp("validate")["rows_rejected"]
    if "readers" in names:
        rd = sp("readers")
        m["readers.busy_s"] = rd["busy_s"]
        m["readers.python_cpu_s"] = rd["python_cpu_s"]
        m["readers.bytes_read"] = g["readers"]["input_mb"] * 1e6
        m["readers.rows"] = rd["rows"]
        so = sp("rebuild_solr")
        m["rebuild_solr.busy_s"] = so["busy_s"]
        m["rebuild_solr.python_cpu_s"] = so["python_cpu_s"]
        m["rebuild_solr.shuffle_write_mb"] = g["rebuild_solr"]["shuffle_write_mb"]
        m["rebuild_solr.spill_mb"] = g["rebuild_solr"]["spill_mb"]
        m["rebuild_solr.task_max_over_p50"] = g["rebuild_solr"]["task_max_over_p50"]
        m["rebuild_solr.cis_out"] = so["cis_out"]
        m["rebuild_solr.problem_rows"] = so["problem_rows"]
        pa = sp("rebuild_passim")
        m["rebuild_passim.busy_s"] = pa["busy_s"]
        m["rebuild_passim.python_cpu_s"] = pa["python_cpu_s"]
        m["rebuild_passim.shuffle_write_mb"] = g["rebuild_passim"]["shuffle_write_mb"]
        m["rebuild_passim.docs_out"] = pa["docs_out"]
    if "sinks" in names:
        m["sinks.busy_s"] = sp("sinks")["busy_s"]
        m["sinks.jvm_cpu_s"] = sp("sinks")["jvm_cpu_s"]
    if "text_arrow" in names:
        ta = sp("text_arrow")
        m["text_arrow.busy_s"] = ta["busy_s"]
        m["text_arrow.python_cpu_s"] = ta["python_cpu_s"]
        m["text_arrow.kept_share"] = ta["kept_share"]
        m["dedup.line_busy_s"] = sp("dedup_line")["busy_s"]
        m["dedup.doc_busy_s"] = sp("dedup_doc")["busy_s"]
        m["dedup.shuffle_write_mb"] = (
            g["dedup_line"]["shuffle_write_mb"] + g["dedup_doc"]["shuffle_write_mb"]
        )
        m["dedup.spill_mb"] = g["dedup_line"]["spill_mb"] + g["dedup_doc"]["spill_mb"]
        m["dedup.docs_dropped"] = ta["kept"] - sp("dedup_doc")["docs_out"]
        m["dedup.route_minhash"] = sp("dedup_doc")["route_minhash"]
    m["spark.tasks"] = sum(x["tasks"] for x in g.values())
    m["spark.failed_tasks"] = sum(x["failed_tasks"] for x in g.values())
    m["spark.gc_s"] = sum(x["gc_s"] for x in g.values())
    job = sp("job")
    m["spark.cpu_util"] = (job["jvm_cpu_s"] + job["python_cpu_s"]) / (
        job["busy_s"] * cores
    )
    return m


def sink_files(out_dir: str) -> tuple[int, int]:
    files = data_files(out_dir)
    return len(files), sum(os.path.getsize(p) for p in files)
