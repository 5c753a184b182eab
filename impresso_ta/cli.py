"""Command-line entry points mirroring the reference's CLI surface.

The reference ships ``impresso-txt-importer`` (docopt, ref:
importers/generic_importer.py:180-208) and ``impresso-rebuilder``
(ref: rebuilders/rebuilder.py:306-327). Same capabilities here, Spark-
backed:

    python -m impresso_ta.cli import --input-dir DIR --format FMT \
        --output-dir OUT [--aliases A,B] [--exclude] \
        [--date-ranges GDL=1900-01-01:1950-12-31] [--incremental] [--ts TS] \
        [--validate]

    python -m impresso_ta.cli rebuild --issues PATH --supports PATH \
        --output-dir OUT [--fmt solr|passim] [--languages fr,de] \
        [--default-language LG] [--ts TS]

Neither has per-year driver loops (SURVEY §3 lifecycle collapsed into
declarative pipelines), but each writes several outputs, so each runs
several Spark jobs. An import parses every issue once: its one parse
frame is cached, and the issues, pages, records, errors and manifest
writes and the console echo all read it. With ``--validate`` the value-
level rules run inside that parse, so rejected rows reach the error
write without a second pass over the outputs. A rebuild parses each
page line once and assembles every issue once: its assembly output is
cached, and the rebuilt write, the error write and the printed count
all read it. Both caches are released when the command returns or
fails.
"""

from __future__ import annotations

import argparse
import datetime
import math
import re
import sys

_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


def _date_ranges(spec: str) -> dict[str, tuple[str, str]]:
    """``ALIAS=start:end[,ALIAS=start:end]`` → ``{alias: (start, end)}``
    with ISO ``YYYY-MM-DD`` dates, so a bad spec fails at argument
    parsing instead of inside the job."""
    ranges = {}
    for part in spec.split(","):
        alias, eq, rng = part.partition("=")
        start, colon, end = rng.partition(":")
        if not (alias and eq and colon):
            raise argparse.ArgumentTypeError(
                f"{part!r} is not ALIAS=start:end"
            )
        for day in (start, end):
            try:
                if not _ISO_DATE.fullmatch(day):
                    raise ValueError(day)
                datetime.date.fromisoformat(day)
            except ValueError:
                raise argparse.ArgumentTypeError(
                    f"{day!r} in {part!r} is not a YYYY-MM-DD date"
                ) from None
        if start > end:
            raise argparse.ArgumentTypeError(f"{part!r} ends before it starts")
        ranges[alias] = (start, end)
    return ranges


def _split_fractions(spec: str) -> dict[str, float]:
    """``NAME=fraction[,NAME=fraction]`` → ``{name: fraction}``; the
    sum-to-one check stays in ``deterministic_split``."""
    fractions = {}
    for part in spec.split(","):
        name, eq, frac = part.partition("=")
        try:
            value = float(frac)
        except ValueError:
            value = math.nan
        if not (name and eq and math.isfinite(value)):
            raise argparse.ArgumentTypeError(f"{part!r} is not NAME=fraction")
        fractions[name] = value
    return fractions


def _non_negative_int(spec: str) -> int:
    """A count or width where 0 means "off". A negative one is rejected
    here, before it reaches the job: a negative ``--domain-cap`` would
    keep no row, and a negative ``--shards`` would fail only after the
    corpus is written."""
    try:
        value = int(spec)
    except ValueError:
        raise argparse.ArgumentTypeError(f"{spec!r} is not an integer") from None
    if value < 0:
        raise argparse.ArgumentTypeError(f"{value} is negative")
    return value


def _positive_int(spec: str) -> int:
    value = _non_negative_int(spec)
    if value == 0:
        raise argparse.ArgumentTypeError("0 is not positive")
    return value


def _jaccard_threshold(spec: str) -> float:
    """A Jaccard similarity threshold in (0, 1]."""
    try:
        value = float(spec)
    except ValueError:
        value = math.nan
    if not 0 < value <= 1:
        raise argparse.ArgumentTypeError(f"{spec!r} is not in (0, 1]")
    return value


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="impresso_ta")
    sub = p.add_subparsers(dest="command", required=True)

    imp = sub.add_parser("import", help="OCR source tree → canonical store")
    imp.add_argument("--input-dir", required=True)
    imp.add_argument("--format", required=True, help="registered plugin name")
    imp.add_argument("--output-dir", required=True)
    imp.add_argument("--aliases", help="comma-separated alias filter (F1)")
    imp.add_argument("--exclude", action="store_true", help="invert --aliases")
    imp.add_argument(
        "--date-ranges",
        type=_date_ranges,
        help="ALIAS=start:end[,ALIAS=start:end] per-title date filter (F2)",
    )
    imp.add_argument(
        "--incremental",
        action="store_true",
        help="anti-join against issues already in --output-dir (F3)",
    )
    imp.add_argument("--ts", help="deterministic timestamp to stamp rows with")
    imp.add_argument("--store-format", default="json", choices=["json", "parquet"])
    imp.add_argument(
        "--image-dirs",
        help="comma-separated image/image-info sidecar dirs for Olive X7 "
        "coordinate conversion (ref generic_importer's --image-dirs)",
    )
    imp.add_argument(
        "--validate",
        action="store_true",
        help="validate canonical rows against the value-level schema "
        "rules before writing; violations go to the error channel "
        "(ref utils.py:71-89 write-time JSON-Schema validation)",
    )

    reb = sub.add_parser("rebuild", help="canonical store → rebuilt docs")
    reb.add_argument("--issues", required=True)
    reb.add_argument("--supports", required=True, help="pages or audio records")
    reb.add_argument("--output-dir", required=True)
    reb.add_argument("--fmt", default="solr", choices=["solr", "passim"])
    reb.add_argument("--languages", help="keep only these CI languages (F6)")
    reb.add_argument("--default-language")
    reb.add_argument("--audio", action="store_true", help="supports are audio records")
    reb.add_argument("--ts")
    reb.add_argument(
        "--filter-config",
        help="reference-style rebuild config JSON: [{alias: [start, end)}...]",
    )
    reb.add_argument("--store-format", default="json", choices=["json", "parquet"])

    cor = sub.add_parser(
        "corpus",
        help="raw documents → filtered/deduped/mixed training corpus",
    )
    cor.add_argument("--input", required=True, help="documents parquet path")
    cor.add_argument("--output-dir", required=True)
    cor.add_argument(
        "--id-col",
        default="doc_id",
        help="document id column; must be integer-typed (or losslessly "
        "castable to BIGINT) — pipeline stages key their joins on the "
        "id cast to long",
    )
    cor.add_argument("--text-col", default="text")
    cor.add_argument("--no-c4", action="store_true")
    cor.add_argument("--no-gopher", action="store_true")
    cor.add_argument(
        "--line-spans",
        type=_non_negative_int,
        default=10,
        help="line-dedup span width in words; 0 disables",
    )
    cor.add_argument(
        "--substring-dedup",
        type=_non_negative_int,
        default=0,
        metavar="K",
        help="corpus-wide exact-substring dedup window (tokens); 0 "
        "disables (default). Repeated K-token windows are removed "
        "everywhere but their globally-first occurrence (ExactSubstr).",
    )
    cor.add_argument("--no-doc-dedup", action="store_true")
    cor.add_argument(
        "--jaccard-threshold",
        type=_jaccard_threshold,
        default=None,
        help="near-dup Jaccard threshold for the 'jaccard' doc-dedup "
        "form (default 0.7). IGNORED when dedup runs through "
        "'minhash_survivors' — including when 'auto' routes there at "
        ">=25k docs (a warning is emitted); force --doc-dedup-method "
        "jaccard to keep thresholded semantics at any scale.",
    )
    cor.add_argument(
        "--doc-dedup-method",
        choices=["auto", "jaccard", "minhash_survivors"],
        default="auto",
        help="auto (default): jaccard below 25k filtered docs, "
        "minhash_survivors at or above. jaccard: exact-verified "
        "near-dup pairs (precision; pair set quadratic in "
        "duplicate-clique size). minhash_survivors: band-bucket "
        "union-find, linear at any duplicate distribution (the "
        "crawl-scale form; threshold-free).",
    )
    cor.add_argument(
        "--domain-cap",
        type=_non_negative_int,
        default=0,
        metavar="N",
        help="keep at most N docs per --domain-col value (RefinedWeb "
        "per-domain cap; salted two-stage window, hot-domain-proof); "
        "0 disables (default)",
    )
    cor.add_argument(
        "--domain-cap-order",
        help="column ranking docs within a capped domain (ascending; "
        "default: --id-col)",
    )
    cor.add_argument(
        "--benchmark", help="parquet of benchmark docs to decontaminate against"
    )
    cor.add_argument(
        "--dsir-target",
        help="parquet of target-distribution docs: DSIR importance "
        "resampling (Xie et al. 2023) keeps the --dsir-n filtered docs "
        "most like this corpus (deterministic Gumbel top-k)",
    )
    cor.add_argument(
        "--dsir-n",
        type=_non_negative_int,
        default=0,
        metavar="N",
        help="number of docs DSIR selection keeps (required with "
        "--dsir-target)",
    )
    cor.add_argument(
        "--dsir-ngram",
        type=int,
        default=1,
        choices=[1, 2],
        help="DSIR feature order: 1 = hashed unigrams, 2 = unigrams + "
        "bigrams (the paper's full n<=2 set; needed when the target "
        "differs by word order, not vocabulary)",
    )
    cor.add_argument(
        "--quality-model",
        help="parquet of trained (bucket, w) LR weights "
        "(lr_hashed_train): learned quality filter — drop docs whose "
        "hashed-feature probability falls below --quality-threshold, "
        "right after the heuristic filters",
    )
    cor.add_argument(
        "--quality-threshold",
        type=float,
        default=0.5,
        metavar="P",
        help="minimum lr_prob a doc must score to survive "
        "--quality-model (default 0.5)",
    )
    cor.add_argument(
        "--quality-dim",
        type=_positive_int,
        default=64,
        metavar="D",
        help="hashed feature dimension the --quality-model was trained "
        "with (must match lr_hashed_train's dim; default 64)",
    )
    cor.add_argument(
        "--quality-raw-counts",
        action="store_true",
        help="score with raw hashed counts instead of term frequencies "
        "(only if the model was trained with tf=False)",
    )
    cor.add_argument(
        "--dedup-against",
        help="parquet of the already-ingested corpus: drop input docs "
        "near-duplicating it (MinHash band probe + exact-Jaccard "
        "verify) BEFORE the pipeline stages — the incremental-crawl "
        "gate",
    )
    cor.add_argument("--temperature-alpha", type=float)
    cor.add_argument("--temperature-target", type=int, default=0)
    cor.add_argument("--domain-col", default="lang")
    cor.add_argument(
        "--shards",
        type=_non_negative_int,
        default=0,
        help="also export N training shards",
    )
    cor.add_argument(
        "--split",
        type=_split_fractions,
        help="add a deterministic split column, e.g. train=0.98,val=0.01,test=0.01",
    )
    cor.add_argument("--stats", action="store_true", help="print per-stage counts")
    return p


def cmd_import(args, spark) -> int:
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from impresso_ta.importers import import_issues
    from impresso_ta.sources import (
        alias_filter,
        date_filter,
        incremental_filter,
        manifest_stats,
        walk_issues,
        write_errors,
        write_issues,
        write_pages,
    )
    from impresso_ta.schemas import DISCOVERY_SCHEMA
    from impresso_ta.sources.readers import read_issues

    # the walk lists the tree on the driver, so an empty one fails here,
    # before any Spark job; filters that leave nothing are a valid no-op
    found = walk_issues(args.input_dir, args.format)
    if not found:
        print(
            f"import: no issue found under --input-dir {args.input_dir} "
            f"with --format {args.format}",
            file=sys.stderr,
        )
        return 2
    disc = spark.createDataFrame(found, DISCOVERY_SCHEMA)
    if args.aliases:
        disc = alias_filter(disc, args.aliases.split(","), exclude=args.exclude)
    if args.date_ranges:
        disc = date_filter(disc, args.date_ranges)
    if getattr(args, "image_dirs", None):
        # Olive X7 coordinate conversion: the importer reads the sidecar
        # location from a path suffix so the discovery schema stays flat
        disc = disc.withColumn(
            "path",
            F.when(
                F.col("format") == "olive",
                F.concat(
                    F.col("path"), F.lit("::image_dirs=" + args.image_dirs)
                ),
            ).otherwise(F.col("path")),
        )
    if args.incremental:
        try:
            store = read_issues(spark, f"{args.output_dir}/issues")
        except AnalysisException as exc:
            # only a missing store counts as empty; any other read failure
            # raises instead of silently re-importing every issue
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
        else:
            done = store.select(
                F.split("id", "-")[0].alias("alias"),
                F.to_date(
                    F.concat_ws(
                        "-",
                        F.split("id", "-")[1],
                        F.split("id", "-")[2],
                        F.split("id", "-")[3],
                    )
                ).alias("date"),
                F.element_at(F.split("id", "-"), -1).alias("edition"),
            )
            disc = incremental_filter(disc, done)
            # resolve the anti-join now: evaluated lazily, it would read
            # the store after the first write below had changed it
            disc = spark.createDataFrame(disc.collect(), disc.schema)
    # an incremental run adds to the store; any other run replaces it
    mode = "append" if args.incremental else "overwrite"

    # Every write, the manifest and the echo below are column filters of
    # the one parse frame, which also applies the --validate rules. Cached,
    # each issue is parsed once per import instead of once per action; the
    # cache is released even when a write fails.
    res = import_issues(disc, ts=args.ts, validate=args.validate)
    res.combined.persist()
    try:
        write_issues(
            res.issues, f"{args.output_dir}/issues",
            fmt=args.store_format, mode=mode,
        )
        write_pages(
            res.pages, f"{args.output_dir}/pages",
            fmt=args.store_format, mode=mode,
        )
        if res.records.take(1):
            write_pages(
                res.records, f"{args.output_dir}/records",
                fmt=args.store_format, mode=mode,
            )
        write_errors(res.errors, f"{args.output_dir}/errors", mode=mode)
        # manifest goes through the sink (distributed write) — at scale the
        # (alias, year) grid is big enough that a full driver collect is a
        # bottleneck; the console only echoes a bounded sample. It counts
        # the whole store, earlier incremental runs included.
        stats_df = manifest_stats(
            read_issues(spark, f"{args.output_dir}/issues")
            if args.incremental
            else res.issues
        )
        stats_df.write.mode("overwrite").json(f"{args.output_dir}/manifest")
        echo = stats_df.orderBy("alias", "year").limit(20).collect()
    finally:
        res.combined.unpersist()
    for row in echo:
        print(
            f"{row['alias']}-{row['year']}: {row['n_issues']} issues, "
            f"{row['n_content_items']} content items, {row['n_pages']} pages"
        )
    print(f"manifest written to {args.output_dir}/manifest")
    return 0


def cmd_rebuild(args, spark) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from impresso_ta.rebuild import rebuild_issues_passim, rebuild_issues_solr
    from impresso_ta.rebuild.solr import split_errors
    from impresso_ta.sources import write_errors, write_rebuilt
    from impresso_ta.sources.readers import (
        read_audio_records,
        read_issues,
        read_pages,
    )

    issues = read_issues(spark, args.issues)
    if args.filter_config:
        import json as _json

        from impresso_ta.sources.discovery import rebuild_config_filter

        with open(args.filter_config) as f:
            issues = rebuild_config_filter(issues, _json.load(f))
    supports = (
        read_audio_records(spark, args.supports)
        if args.audio
        else read_pages(spark, args.supports)
    )
    if args.fmt == "solr":
        out = rebuild_issues_solr(
            issues, supports, ts=args.ts, default_language=args.default_language
        )
    else:
        out = rebuild_issues_passim(
            issues, supports, default_language=args.default_language
        )
    ok, errors = split_errors(out)
    if args.languages:
        ok = ok.filter(F.col("lg").isin(args.languages.split(",")))
    # the ok write and the error write both read the one assembly:
    # cached, the read, shuffle and Python assembly run once; the ok
    # write counts its own rows
    written = Observation("rebuilt")
    out.persist()
    try:
        write_rebuilt(
            ok.observe(written, F.count(F.lit(1)).alias("n")),
            f"{args.output_dir}/rebuilt",
            fmt=args.store_format,
        )
        write_errors(errors, f"{args.output_dir}/errors")
    finally:
        out.unpersist()
    print(f"rebuilt {written.get['n']} content items")
    return 0


def cmd_corpus(args, spark) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from impresso_ta.operators.pipeline import prepare_corpus

    docs = spark.read.parquet(args.input)
    # pipeline stages (c4_filters, line_dedup, hashed joins) key on the id
    # cast to long — a non-castable id would fail under ANSI mode or
    # silently null-join every row away, so validate up front.
    dtypes = dict(docs.dtypes)
    if args.id_col not in dtypes:
        raise SystemExit(
            f"--id-col {args.id_col!r} not found; columns: {sorted(dtypes)}"
        )
    if dtypes[args.id_col] not in {"tinyint", "smallint", "int", "bigint"}:
        bad = docs.filter(
            F.col(args.id_col).isNotNull()
            & F.col(args.id_col).try_cast("long").isNull()
        )
        if bad.take(1):
            raise SystemExit(
                f"--id-col {args.id_col!r} has {dtypes[args.id_col]} values "
                "that do not cast to BIGINT; supply an integer id column"
            )
    dedup_counts = None
    if args.dedup_against:
        from impresso_ta.operators.dedup import incremental_minhash_dedup

        existing = spark.read.parquet(args.dedup_against)
        # counted by the corpus job itself, which runs the dedup once
        dedup_counts = (Observation("dedup_in"), Observation("dedup_out"))
        docs = incremental_minhash_dedup(
            docs.observe(dedup_counts[0], F.count(F.lit(1)).alias("n")),
            existing,
            id_col=args.id_col,
            text_col=args.text_col,
            threshold=(
                0.7
                if args.jaccard_threshold is None
                else args.jaccard_threshold
            ),
        ).observe(dedup_counts[1], F.count(F.lit(1)).alias("n"))
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    res = prepare_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        c4=not args.no_c4,
        gopher=not args.no_gopher,
        line_spans=args.line_spans or None,
        substring_dedup=args.substring_dedup or None,
        doc_dedup=not args.no_doc_dedup,
        jaccard_threshold=args.jaccard_threshold,
        doc_dedup_method=args.doc_dedup_method,
        benchmark=bench,
        dsir_target=(
            spark.read.parquet(args.dsir_target)
            if args.dsir_target
            else None
        ),
        dsir_n=args.dsir_n or None,
        dsir_ngram=args.dsir_ngram,
        quality_model=(
            spark.read.parquet(args.quality_model)
            if args.quality_model
            else None
        ),
        quality_threshold=args.quality_threshold,
        quality_dim=args.quality_dim,
        quality_tf=not args.quality_raw_counts,
        domain_cap=args.domain_cap or None,
        domain_cap_order=args.domain_cap_order,
        temperature_alpha=args.temperature_alpha,
        temperature_target=args.temperature_target,
        domain_col=args.domain_col,
        collect_stats=args.stats,
    )
    # the parquet sink is the last consumer of the pipeline's persist
    # boundaries; release executor storage before the (re-read) shard
    # pass, and also when the write fails, so a long-lived session
    # doesn't accumulate cached frames
    try:
        out_docs = res.docs
        if args.split:
            from impresso_ta.operators.corpus import deterministic_split

            out_docs = deterministic_split(
                out_docs, args.split, id_col=args.id_col
            )
        written = Observation("corpus")
        out_docs.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{args.output_dir}/corpus")
    finally:
        res.unpersist()
    if dedup_counts:
        before, after = (o.get["n"] for o in dedup_counts)
        print(f"incremental_dedup: {before} -> {after}")
    for stage, n_in, n_out in res.stats:
        print(f"{stage}: {n_in} -> {n_out}")
    if args.shards:
        from impresso_ta.sources.sinks import write_training_shards

        write_training_shards(
            spark.read.parquet(f"{args.output_dir}/corpus"),
            f"{args.output_dir}/shards",
            n_shards=args.shards,
            id_col=args.id_col,
        )
    print(
        f"prepared corpus: {written.get['n']} documents -> "
        f"{args.output_dir}/corpus"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    # malformed specs (--date-ranges, --split) already failed in
    # parse_args; cross-flag contracts fail HERE, before any Spark session
    # spins up — not as a ValueError deep inside prepare_corpus (and never
    # silently)
    if args.command == "corpus":
        if args.dsir_target and not args.dsir_n:
            parser.error("--dsir-target requires --dsir-n > 0")
        if args.dsir_n and not args.dsir_target:
            parser.error("--dsir-n has no effect without --dsir-target")
        if args.temperature_alpha is not None and args.temperature_target <= 0:
            parser.error("--temperature-alpha requires --temperature-target > 0")
        if args.temperature_target and args.temperature_alpha is None:
            parser.error(
                "--temperature-target has no effect without --temperature-alpha"
            )
        if args.quality_model and not (0.0 <= args.quality_threshold <= 1.0):
            parser.error("--quality-threshold must be in [0, 1]")
    if args.command == "rebuild" and args.audio and args.fmt == "passim":
        # audio CIs list records, not pages: every passim document would
        # come out empty
        parser.error("--fmt passim is print-only; --audio needs --fmt solr")
    from impresso_ta.session import get_spark

    spark = get_spark(app_name=f"impresso_ta-{args.command}")
    try:
        if args.command == "import":
            return cmd_import(args, spark)
        if args.command == "corpus":
            return cmd_corpus(args, spark)
        return cmd_rebuild(args, spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
