"""spark-submit entry point:

    spark-submit --py-files webextract.zip -m webextract  # via wrapper, or
    python -m webextract --input /path/pages --output /path/extracted \
        --metrics /path/metrics --partitions 64 [--config cfg.json]

The CLI is the engine's analog of the reference's
``python inference.py -c config.yaml -i input_dir -o output_dir``
(``inference.py:28-61``): config file + input + output, resumable by
default. Config JSON carries ExtractConfig fields (the declared-schema
stance of the reference's CfgNode: unknown keys are an error).
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import ExtractConfig
from .pipeline import PipelineOptions, read_pages, run_extraction, ship_package


def _load_raw_config(path: str, seen: tuple[str, ...] = ()) -> dict:
    """JSON config with ``_base_`` inheritance — the analog of the
    reference's ``_BASE_`` YAML chain (``configs/segmentation/
    segmentation_base.yaml:1``, merged in ``core/setup.py:67-177``):
    the base file loads first (relative to the child), the child's keys
    override; dict-valued keys (merge_aliases) merge per-key."""
    import os

    real = os.path.realpath(path)
    if real in seen:
        raise SystemExit(f"_base_ cycle: {' -> '.join(seen + (real,))}")
    with open(path, encoding="utf-8") as fh:
        raw = json.load(fh)
    base_ref = raw.pop("_base_", None)
    if base_ref is None:
        return raw
    base_path = os.path.join(os.path.dirname(path), base_ref)
    merged = _load_raw_config(base_path, seen + (real,))
    for key, value in raw.items():
        if isinstance(value, dict) and isinstance(merged.get(key), dict):
            merged[key] = {**merged[key], **value}
        else:
            merged[key] = value
    return merged


def load_config(path: str | None) -> ExtractConfig:
    if not path:
        return ExtractConfig()
    raw = _load_raw_config(path)
    known = set(ExtractConfig.__dataclass_fields__)
    unknown = set(raw) - known
    if unknown:  # closed schema, like CfgNode set_new_allowed(False)
        raise SystemExit(f"unknown config keys: {sorted(unknown)} "
                         f"(known: {sorted(known)})")
    return ExtractConfig(**raw)


def _add_extract_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input", required=True,
                   help="pages parquet path or table name (or a WARC "
                        "directory/glob with --input-format warc)")
    p.add_argument("--input-format",
                   choices=("pages", "warc", "jsonl", "jsonl-base64"),
                   default="pages",
                   help="'warc' parses raw (member-gzipped) WARC files "
                        "into pages rows before extraction")
    p.add_argument("--output", required=True, help="extracted sink path")
    p.add_argument("--metrics", default=None,
                   help="lineage/metrics sink path")
    p.add_argument("--config", default=None, help="ExtractConfig JSON file")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--giant-bytes", type=int, default=1 << 20)
    p.add_argument("--run-id", default=None)
    p.add_argument("--partition-by-date", action="store_true",
                   help="hive-partition the sink by warc_date (crawl day)")
    p.add_argument("--sink-format", default="parquet",
                   choices=("parquet", "iceberg"),
                   help="sink provider; iceberg requires --sink-table and "
                        "an Iceberg catalog on the session")
    p.add_argument("--sink-table", action="store_true",
                   help="treat --output as a catalog table identifier "
                        "instead of a filesystem path")


def _add_corpus_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input", required=True,
                   help="documents parquet path (id + text columns)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near-dup Jaccard threshold")


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # legacy invocation: bare flags == the extract command
    if argv and argv[0].startswith("-"):
        argv = ["extract"] + argv
    p = argparse.ArgumentParser(prog="webextract",
                                description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="command", required=True)
    _add_extract_args(sub.add_parser(
        "extract", help="HTML/PDF -> text + spans (resumable)"))
    stages = sub.add_parser(
        "dedup-stages",
        help="materialize the near-dup stages of a corpus snapshot: "
             "{out}/signatures, {out}/candidates, {out}/pairs")
    _add_corpus_args(stages)
    stages.add_argument("--output", required=True, help="stage directory")
    stages.add_argument("--n-hashes", type=int, default=4,
                        help="MinHash signature width (one md5 per "
                             "shingle per 4 hashes)")
    stages.add_argument("--band-size", type=int, default=2,
                        help="minhashes per LSH band (r of r-by-b); "
                             "n-hashes must be divisible by it")
    curate = sub.add_parser(
        "curate",
        help="quality gate -> exact dedup -> near-dup drop; survivors to "
             "parquet")
    _add_corpus_args(curate)
    curate.add_argument("--output", required=True, help="survivors path")
    curate.add_argument("--min-quality", type=float, default=0.3)
    curate.add_argument("--transitive", action="store_true",
                        help="one survivor per near-dup connected "
                             "component (vs greedy pairwise drop)")
    curate.add_argument("--stages", default=None,
                        help="dedup-stages output dir: candidates/pairs "
                             "are consumed instead of recomputed")
    hyg = sub.add_parser(
        "hygiene",
        help="corpus-hygiene pass: pii-mask | decontaminate | "
             "paragraph-dedup | sample")
    hyg.add_argument("--op", required=True,
                     choices=("pii-mask", "decontaminate",
                              "paragraph-dedup", "sample",
                              "canonicalize", "lm-score"))
    hyg.add_argument("--input", required=True,
                     help="documents parquet path")
    hyg.add_argument("--output", required=True)
    hyg.add_argument("--id-col", default="doc_id")
    hyg.add_argument("--text-col", default="text")
    hyg.add_argument("--benchmark", default=None,
                     help="decontaminate: held-out eval-set parquet; "
                          "lm-score: trusted reference-corpus parquet")
    hyg.add_argument("--url-col", default="url",
                     help="canonicalize: URL column")
    hyg.add_argument("--ngram", type=int, default=8,
                     help="decontaminate: overlap n-gram width")
    hyg.add_argument("--min-overlap", type=int, default=1)
    hyg.add_argument("--max-occurrences", type=int, default=1,
                     help="paragraph-dedup: keep paragraphs seen <= N "
                          "times corpus-wide")
    hyg.add_argument("--strata-col", default=None,
                     help="sample: stratum column")
    hyg.add_argument("--rate", action="append", default=[],
                     metavar="VALUE=FRACTION",
                     help="sample: per-stratum keep fraction (repeat)")
    hyg.add_argument("--default-rate", type=float, default=0.0)
    hyg.add_argument("--salt", default="ws1",
                     help="sample: changing it draws an independent "
                          "sample")
    met = sub.add_parser(
        "metrics",
        help="post-run counter summary: metrics table -> Prometheus "
             "exposition text (same metric names as the serving "
             "/metrics endpoint)")
    met.add_argument("--metrics", required=True,
                     help="metrics table parquet path")
    met.add_argument("--run-id", default=None,
                     help="summarize one run (default: every run, "
                          "labeled, plus the all-runs total)")
    inc = sub.add_parser(
        "increment",
        help="dedup a NEW crawl snapshot against a committed corpus "
             "(exact + near-dup; the corpus never self-joins); "
             "survivors (id, fingerprint) to parquet")
    _add_corpus_args(inc)
    inc.add_argument("--corpus", required=True,
                     help="committed corpus parquet path (id + text)")
    inc.add_argument("--output", required=True, help="survivors path")
    inc.add_argument("--stages", default=None,
                     help="dedup-stages output dir of the COMMITTED "
                          "corpus: its stored signatures are consumed "
                          "instead of recomputed (fingerprints still "
                          "derive from --corpus text)")
    rend = sub.add_parser(
        "render",
        help="fixture inspection: one url's extracted text with its "
             "region spans + text lines overlaid as annotated HTML "
             "(reference tooling/visualization.py analog; driver-side, "
             "one collected row)")
    rend.add_argument("--input", required=True,
                      help="extraction sink (parquet path or table)")
    rend.add_argument("--url", required=True, help="url to render")
    rend.add_argument("--output", default=None,
                      help="HTML file (default: stdout)")
    args = p.parse_args(argv)

    if args.command == "metrics":
        # no package shipping needed: one aggregation over a tiny table
        from pyspark.sql import SparkSession

        from .metrics import summarize_metrics

        spark = SparkSession.builder.appName("webextract").getOrCreate()
        print(summarize_metrics(spark, args.metrics, args.run_id), end="")
        return 0

    if args.command == "render":
        # driver-side one-row tooling: no package shipping needed
        from pyspark.sql import SparkSession

        from .render import render_from_sink

        spark = SparkSession.builder.appName("webextract").getOrCreate()
        page = render_from_sink(spark, args.input, args.url)
        if args.output:
            with open(args.output, "w", encoding="utf-8") as fh:
                fh.write(page)
            print(args.output)
        else:
            print(page, end="")
        return 0

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("webextract").getOrCreate()
    ship_package(spark)
    if args.command == "extract":
        cfg = load_config(args.config)
        opts = PipelineOptions(num_partitions=args.partitions,
                               giant_bytes=args.giant_bytes,
                               sink_format=args.sink_format,
                               sink_is_table=args.sink_table)
        if args.input_format == "warc":
            from .warc import read_warc_pages

            pages = read_warc_pages(spark, args.input)
        elif args.input_format.startswith("jsonl"):
            from .pipeline import read_pages_jsonl

            enc = "base64" if args.input_format.endswith("base64") else "utf-8"
            pages = read_pages_jsonl(spark, args.input, html_encoding=enc)
        else:
            pages = read_pages(spark, args.input)
        summary = run_extraction(spark, pages, args.output,
                                 metrics_path=args.metrics, cfg=cfg,
                                 opts=opts, run_id=args.run_id,
                                 partition_by_date=args.partition_by_date)
    elif args.command == "dedup-stages":
        summary = _run_dedup_stages(spark, args)
    elif args.command == "hygiene":
        summary = _run_hygiene(spark, args)
    elif args.command == "increment":
        summary = _run_increment(spark, args)
    else:
        summary = _run_curate(spark, args)
    print(json.dumps(summary))
    return 0


def _run_increment(spark, args) -> dict:
    """Snapshot-growth dedup: new batch vs committed corpus, survivors
    to parquet. With --stages, the committed corpus's stored signature
    stage table feeds the band join instead of being re-derived."""
    from .functions.dedup import dedup_increment

    new = spark.read.parquet(args.input)
    corpus = spark.read.parquet(args.corpus)
    corpus_sigs = (spark.read.parquet(f"{args.stages.rstrip('/')}"
                                      "/signatures")
                   if args.stages else None)
    out = dedup_increment(new, corpus, id_col=args.id_col,
                          text_col=args.text_col, threshold=args.threshold,
                          corpus_signatures=corpus_sigs)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {"new_rows": new.count(), "survivors": n}


def _run_dedup_stages(spark, args) -> dict:
    """Materialize the production dedup stages once per corpus snapshot;
    downstream consumers (curate --stages, analytics) read them back as
    plain scans instead of re-deriving the MinHash stack."""
    from .functions.dedup import (
        lsh_candidate_pairs, near_duplicate_docs, with_minhash,
    )

    if args.n_hashes % args.band_size:
        raise SystemExit("--n-hashes must be divisible by --band-size")
    docs = spark.read.parquet(args.input)
    out = args.output.rstrip("/")
    sig = with_minhash(docs, args.id_col, args.text_col,
                       n_hashes=args.n_hashes)
    sig.write.mode("overwrite").parquet(f"{out}/signatures")
    sig = spark.read.parquet(f"{out}/signatures")
    cands = lsh_candidate_pairs(sig, id_col=args.id_col,
                                n_hashes=args.n_hashes,
                                band_size=args.band_size,
                                persist_bands=False)
    cands.write.mode("overwrite").parquet(f"{out}/candidates")
    cands = spark.read.parquet(f"{out}/candidates")
    pairs = near_duplicate_docs(
        docs, id_col=args.id_col, text_col=args.text_col,
        threshold=args.threshold, candidates=cands)
    pairs.write.mode("overwrite").parquet(f"{out}/pairs")
    # stage metadata: pairs are only valid for curate thresholds >= the
    # stage threshold (lower ones would silently under-drop — the pairs
    # scan excludes [curate_t, stage_t)); written as a 1-row json dir so
    # it rides any Hadoop filesystem, not just local paths
    spark.createDataFrame(
        [(float(args.threshold), args.id_col, args.text_col,
          args.n_hashes, args.band_size)],
        "threshold double, id_col string, text_col string, "
        "n_hashes int, band_size int",
    ).coalesce(1).write.mode("overwrite").json(f"{out}/stage_meta")
    return {
        "signatures": spark.read.parquet(f"{out}/signatures").count(),
        "candidates": spark.read.parquet(f"{out}/candidates").count(),
        "pairs": spark.read.parquet(f"{out}/pairs").count(),
    }


def _run_hygiene(spark, args) -> dict:
    """One corpus-hygiene pass, documents parquet in → parquet out.
    Each op is a thin CLI veneer over :mod:`webextract.functions`:
    the plan properties (map-only PII/sampling, broadcast bench-gram
    join, keyed paragraph-count exchanges) are the functions' own."""
    docs = spark.read.parquet(args.input)
    if args.op == "pii-mask":
        from .functions.hygiene import with_pii_masked

        out = with_pii_masked(docs, text_col=args.text_col)
    elif args.op == "decontaminate":
        if not args.benchmark:
            raise SystemExit("--op decontaminate requires --benchmark")
        from .functions.hygiene import decontaminate

        bench = spark.read.parquet(args.benchmark)
        out = decontaminate(docs, bench, id_col=args.id_col,
                            text_col=args.text_col, n=args.ngram,
                            min_overlap=args.min_overlap)
    elif args.op == "paragraph-dedup":
        from .functions.dedup import paragraph_dedup

        out = paragraph_dedup(docs, id_col=args.id_col,
                              text_col=args.text_col,
                              max_occurrences=args.max_occurrences)
    elif args.op == "canonicalize":
        from pyspark.sql import functions as F

        from .functions.hygiene import canonicalize_url

        if args.url_col not in docs.columns:
            raise SystemExit(
                f"--op canonicalize: input has no {args.url_col!r} "
                f"column (have: {docs.columns}); set --url-col")
        out = docs.withColumn("canonical_url",
                              canonicalize_url(F.col(args.url_col)))
    elif args.op == "lm-score":
        if not args.benchmark:
            raise SystemExit("--op lm-score requires --benchmark "
                             "(the trusted reference corpus)")
        from .functions.hygiene import lm_bigram_model, with_lm_familiarity

        ref = spark.read.parquet(args.benchmark)
        out = with_lm_familiarity(
            docs, lm_bigram_model(ref, text_col=args.text_col),
            id_col=args.id_col, text_col=args.text_col)
    else:  # sample
        if not args.strata_col:
            raise SystemExit("--op sample requires --strata-col")
        from .functions.hygiene import stratified_sample

        rates = {}
        for spec in args.rate:
            value, _, frac = spec.partition("=")
            if not frac:
                raise SystemExit(f"bad --rate {spec!r}; want VALUE=FRAC")
            rates[value] = float(frac)
        out = stratified_sample(docs, rates, strata_col=args.strata_col,
                                id_col=args.id_col,
                                default_rate=args.default_rate,
                                salt=args.salt)
    out.write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    return {"op": args.op, "rows_in": n_in, "rows_out": n_out}


def _run_curate(spark, args) -> dict:
    from .functions.curate import curate_corpus

    docs = spark.read.parquet(args.input)
    candidates = pairs = None
    staged_pairs_ignored = False
    if args.stages:
        st = args.stages.rstrip("/")
        candidates = spark.read.parquet(f"{st}/candidates")
        pairs = spark.read.parquet(f"{st}/pairs")
        meta = _read_stage_meta(spark, st)
        if meta is not None and (meta["id_col"] != args.id_col
                                 or meta["text_col"] != args.text_col):
            raise SystemExit(
                f"--stages was built on ({meta['id_col']},"
                f" {meta['text_col']}), not ({args.id_col},"
                f" {args.text_col}): stage tables are content-keyed on"
                " those columns and cannot be reused")
        # staged pairs only contain jaccard >= stage threshold; a LOWER
        # curate threshold would silently miss pairs in [curate_t,
        # stage_t). Candidates are threshold-independent, so fall back
        # to re-verifying from them instead of under-dropping.
        if meta is None or args.threshold < meta["threshold"]:
            pairs = None
            staged_pairs_ignored = True
            print(json.dumps({
                "warning": "staged pairs ignored; re-verifying from "
                           "candidates",
                "reason": ("stage_meta missing" if meta is None else
                           f"curate threshold {args.threshold} < stage "
                           f"threshold {meta['threshold']}"),
            }), file=sys.stderr)
    survivors = curate_corpus(
        docs, id_col=args.id_col, text_col=args.text_col,
        min_quality=args.min_quality, threshold=args.threshold,
        candidates=candidates, pairs=pairs, transitive=args.transitive)
    survivors.write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    return {"rows_in": n_in, "rows_out": n_out,
            "dropped": n_in - n_out, "transitive": args.transitive,
            "staged": bool(args.stages),
            "staged_pairs_ignored": staged_pairs_ignored}


def _read_stage_meta(spark, stage_dir: str) -> dict | None:
    """The dedup-stages metadata row, or None for a pre-metadata dir."""
    try:
        rows = spark.read.json(f"{stage_dir}/stage_meta").collect()
    except Exception:
        return None
    return rows[0].asDict() if rows else None


if __name__ == "__main__":
    sys.exit(main())
