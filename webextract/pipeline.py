"""DataFrame wiring: scan → resume anti-join → salted repartition with
giant-blob skew routing → ``mapInArrow`` extraction → sink + per-partition
lineage/metrics.

This is the Spark lifecycle of the reference's flagship entry point
(``python inference.py -c cfg -i dir -o out``, SURVEY.md §3.1):

- corpus scan (S1, ``utils/input_utils.py:64-137``)   → parquet/Iceberg scan
- skip-if-exists incremental recompute
  (``data/preprocess.py:404-408``)                    → **left_anti join**
  against already-committed urls (checkpoint/resume)
- ``Pool(os.cpu_count()).imap_unordered`` fan-out
  (``data/preprocess.py:774-781``)                    → salted repartition
  sized to the cluster, with giant blobs routed round-robin so one 50 MB
  page cannot wreck a partition of 4 KB pages (north_rule skew handling)
- DataLoader prefetch (``inference.py:377-387``)      → Arrow batching
- atomic PAGE-XML publish (``utils/tempdir.py:122-140``) → parquet append /
  Iceberg snapshot commit (both atomic at the commit level)
- provenance stamp (``core/setup.py:102-105``)        → run_id + git hash +
  config hash in a per-partition metrics table

Scale notes (100 TB design point): ``extract_dataframe`` is scan →
exchange → Python runner → write, with one shuffle: the salted
repartition that re-balances raw WARC-sized input splits and isolates
skew (giant pages hash into their own salt space). ``run_extraction``
puts ``plan_todo`` in front, so the html column crosses two exchanges:
the url-keyed one of ``dropDuplicates``, then the salted one. The resume
anti-join is a broadcast join only while the committed url set is
small; at 10^12 committed urls it is a shuffle join on the url key,
which Catalyst plans as sort-merge and which reuses the url exchange;
AQE handles post-shuffle sizing. Metrics derive from the *committed* output
(column-pruned read-back of 5 int columns), so metrics and data can never
disagree after a partial failure.
"""

from __future__ import annotations

import json
import subprocess
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_CONFIG, ExtractConfig
from .extract import make_extract_batches
from .schema import EXTRACTED_SCHEMA, METRICS_SCHEMA, PAGES_SCHEMA


def ship_package(spark: SparkSession) -> str:
    """Ship ``webextract`` to executors (the programmatic equivalent of
    ``spark-submit --py-files webextract.zip``, which is how production
    runs deploy per the north rule). Idempotent; returns the zip path."""
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    sources = sorted(pkg_dir.rglob("*.py"))
    digest = hashlib.sha256()
    for py in sources:
        digest.update(str(py.relative_to(pkg_dir)).encode())
        digest.update(py.read_bytes())
    # content-addressed: a stale zip from an older code version can never
    # be shipped after an edit
    zip_path = (Path(tempfile.gettempdir())
                / f"webextract_pyfiles_{digest.hexdigest()[:16]}.zip")
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sources:
                zf.write(py, f"webextract/{py.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zip_path))
    return str(zip_path)


def _git_hash() -> str:
    from pathlib import Path

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
            cwd=Path(__file__).resolve().parent,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


@dataclass(frozen=True)
class PipelineOptions:
    num_partitions: int = 32
    giant_bytes: int = 1 << 20       # blobs above this get their own routing
    # sink provider + addressing: with ``sink_is_table=False`` (default)
    # the output argument is a filesystem path and ``sink_format`` must be
    # "parquet"; with ``sink_is_table=True`` the output argument is a
    # catalog TABLE identifier and ``sink_format`` is the DataSource
    # provider — "iceberg" in production (atomic snapshot commits; needs
    # the Iceberg catalog configured on the session), "parquet" for a
    # session-catalog managed table (used by the tests).
    sink_format: str = "parquet"     # "parquet" | "iceberg"
    sink_is_table: bool = False

    def __post_init__(self) -> None:
        if self.sink_format not in ("parquet", "iceberg"):
            raise ValueError(
                f"unknown sink_format: {self.sink_format!r} "
                "(supported: parquet, iceberg)")
        if self.sink_format == "iceberg" and not self.sink_is_table:
            raise ValueError(
                "sink_format='iceberg' writes catalog tables: "
                "set sink_is_table=True and pass a table identifier")


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Scan the pages table (S1): a registered catalog table (Iceberg in
    production — same columnar/pushdown properties) if the name resolves,
    else a parquet path."""
    try:
        if spark.catalog.tableExists(source):
            return spark.read.table(source)
    except Exception:
        pass  # not a valid table identifier (e.g. a filesystem path)
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def read_pages_jsonl(spark: SparkSession, source: str,
                     html_encoding: str = "utf-8") -> DataFrame:
    """JSONL crawl-dump scan → the pages contract (url, warc_ts, html).

    The other common interchange shape beside parquet/WARC: one JSON
    object per line (Dolma/CC-derived dumps), gzip handled transparently
    by the reader. JSON cannot carry bytes, so ``html`` arrives as a
    string: ``html_encoding="utf-8"`` re-encodes it (text dumps),
    ``"base64"`` decodes dumps that base64-wrap raw response bytes.
    The schema is DECLARED, not inferred — inference would scan the
    data twice and drift with the corpus (the engine's fixed-schema
    stance, SURVEY §1.3); unknown keys are simply never read (column
    pruning at the scan).
    """
    if html_encoding not in ("utf-8", "base64"):
        raise ValueError("html_encoding must be 'utf-8' or 'base64'")
    raw = spark.read.schema(
        "url string, warc_ts timestamp, html string, "
        "text string, lang string").json(source)
    html = (F.unbase64("html") if html_encoding == "base64"
            else F.encode("html", "utf-8"))
    return raw.select(
        "url", "warc_ts",
        F.when(F.col("html").isNotNull(), html).alias("html"),
        "text", "lang")


def read_sink(spark: SparkSession, output: str,
              opts: PipelineOptions = PipelineOptions()) -> DataFrame | None:
    """Read the committed sink (table or path), or None if nothing was
    ever committed. Only the two "first run" conditions map to None —
    missing path / missing table, and a path with no committed parquet
    footers (a killed first attempt leaves ``_temporary`` litter but no
    data files). Any OTHER read failure (permissions, corrupt footer, FS
    hiccup) re-raises: treating it as "first run" would silently
    reprocess everything and append duplicate rows.
    """
    from pyspark.errors import AnalysisException

    if opts.sink_is_table:
        if not spark.catalog.tableExists(output):
            return None
        return spark.read.table(output)
    try:
        return spark.read.parquet(output)
    except AnalysisException as exc:
        get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
        if get_cls() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def completed_urls(spark: SparkSession, output: str,
                   opts: PipelineOptions = PipelineOptions()) -> DataFrame | None:
    """urls already committed to the sink — the checkpoint unit.

    Analog of the reference's skip-if-exists stamp files
    (``data/preprocess.py:404-408,471-475``); with Iceberg the read pins
    the current snapshot so resume is consistent under concurrent writers.
    """
    committed = read_sink(spark, output, opts)
    return None if committed is None else committed.select("url")


def plan_todo(pages: DataFrame, done: DataFrame | None) -> DataFrame:
    """Resume anti-join: only never-committed urls are (re)processed.

    The ``dropDuplicates`` is the S2 ingest guard (reference duplicate-name
    check, ``data/preprocess.py:241-281``): crawl tables can carry
    duplicate urls; exactly one row per url survives. It and the left_anti
    join shuffle on the same key, so Catalyst/AQE reuses the exchange —
    one url-keyed shuffle total, not two. Combined with deterministic span
    ids (P14) this makes reruns after partial failure idempotent: no
    duplicates, no gaps.
    """
    pages = pages.filter(F.col("url").isNotNull()).dropDuplicates(["url"])
    if done is None:
        return pages
    return pages.join(done, "url", "left_anti")


def salted_repartition(df: DataFrame, opts: PipelineOptions) -> DataFrame:
    """Explicit skew handling (north_rule; no Catalyst equivalent for
    UDF-stage value skew — AQE only fixes shuffle-size skew).

    Normal pages: salted url-hash repartition — ``pmod(xxhash64(url),
    4n)``, four salts per target partition, spreads hot key ranges
    evenly. Giant blobs (> ``giant_bytes``) must not queue behind one
    unlucky partition (the reference's per-record ``imap_unordered`` has
    the same straggler-avoidance goal, ``data/preprocess.py:774-781``):
    ONE scan and ONE exchange — giants hash into a dedicated
    fine-grained salt space (4n extra buckets) disjoint from the normal
    space.
    Expected giants per bucket ~ n_giants / num_partitions; the tail is a
    small constant factor of one giant's parse time. At 100 TB a second
    scan of the html column to spread giants round-robin would cost more
    than that tail.
    """
    size = F.coalesce(F.octet_length(F.col("html")), F.lit(0))
    n_salts = opts.num_partitions * 4
    # giant salt space is as fine-grained as the normal one (n_salts extra
    # values, disjoint range): with only num_partitions giant salts, the
    # salt->partition hash collides again and one partition can collect
    # 3-4x its giant share (observed empirically); fine salts keep the max
    # load near the balls-in-bins optimum
    salt = F.when(
        size > opts.giant_bytes,
        F.lit(n_salts) + F.pmod(F.xxhash64("url", F.lit(1)), F.lit(n_salts)),
    ).otherwise(F.pmod(F.xxhash64("url"), F.lit(n_salts)))
    return (
        df.withColumn("_salt", salt)
        .repartition(opts.num_partitions, "_salt")
        .drop("_salt")
    )


def extract_dataframe(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                      opts: PipelineOptions = PipelineOptions(),
                      run_id: str | None = None,
                      passthrough: tuple[str, ...] = (),
                      debug_scores: bool = False) -> DataFrame:
    """pages → extracted (lazy; no sink). Column-prunes to (url, html)
    before the Arrow exchange so the Python workers never receive columns
    they don't read (the projection-pushdown analog of the reference's
    early resize, ``inference.py:170``). ``passthrough`` columns ride
    through the Arrow stage zero-copy and are appended to the output
    schema (e.g. ``warc_ts`` for date-partitioned sinks).

    ``debug_scores=True`` returns the per-block feature/score view
    (``BLOCK_SCORES_SCHEMA``) instead of the extracted rows — the S8
    debug-sink analog (reference ``page_xml/output_page_xml.py:156-189``)
    for tuning link-density / min-size thresholds on a real crawl sample.
    Same scan pruning and skew routing; one row per (url, block)."""
    from pyspark.sql.types import StructType

    from .extract import make_block_score_batches
    from .schema import BLOCK_SCORES_SCHEMA

    run_id = run_id or uuid.uuid4().hex[:16]
    slim = pages.select("url", "html", *passthrough)
    routed = salted_repartition(slim, opts)
    if debug_scores:
        return routed.mapInArrow(
            make_block_score_batches(cfg), BLOCK_SCORES_SCHEMA)
    schema = StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [slim.schema[name] for name in passthrough])
    return routed.mapInArrow(
        make_extract_batches(cfg, run_id, passthrough=passthrough), schema)


def write_bucketed(df: DataFrame, table_name: str, n_buckets: int = 64,
                   bucket_col: str = "url") -> None:
    """Persist a DataFrame bucketed by key for co-located downstream joins.

    Bucketing pre-shuffles once at write time: any later equi-join or
    aggregation on ``bucket_col`` between tables bucketed the same way
    runs shuffle-free (SortMergeJoin with no Exchange). At 100 TB this is
    the difference between re-shuffling the corpus per analysis query and
    paying the shuffle once at ingest — the same trade Iceberg's
    bucket-partition transform makes.
    """
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, bucket_col)
     .sortBy(bucket_col)
     .saveAsTable(table_name))


def run_extraction(spark: SparkSession, pages: DataFrame, output_path: str,
                   metrics_path: str | None = None,
                   cfg: ExtractConfig = DEFAULT_CONFIG,
                   opts: PipelineOptions = PipelineOptions(),
                   run_id: str | None = None,
                   partition_by_date: bool = False) -> dict:
    """Full resumable run: anti-join → extract → append → metrics append.

    ``partition_by_date=True`` lays the sink out hive-partitioned by
    ``warc_date`` (crawl day): at 10^12 rows, time-ranged reads of the
    output prune whole partitions at plan time instead of scanning the
    table (the Iceberg day-transform partition analog).

    Returns a small summary dict (row counts), not data — nothing big ever
    lands on the driver.
    """
    run_id = run_id or uuid.uuid4().hex[:16]
    existing = read_sink(spark, output_path, opts)
    done = None if existing is None else existing.select("url")
    # layout guard: appending flat files into a date-partitioned sink (or
    # vice versa) makes the new files INVISIBLE to partition discovery —
    # silent data loss. Refuse the mismatch instead.
    if existing is not None:
        existing_dated = "warc_date" in existing.columns
        if existing_dated != partition_by_date:
            raise ValueError(
                f"output layout mismatch at {output_path}: existing sink "
                f"{'IS' if existing_dated else 'is NOT'} date-partitioned "
                f"but partition_by_date={partition_by_date}; appending "
                "across layouts silently hides the new files from reads")
        # same guard for the run_id level: appending run_id= directories
        # into a sink whose data files sit flat at the root (pre-run_id
        # layout, or run_id stored as a DATA column) produces a mix that
        # partition discovery rejects or mis-reads. One metadata-sized
        # probe row, not a scan.
        if not opts.sink_is_table:
            probe = existing.select(
                F.input_file_name().alias("f")).limit(1).first()
            if "run_id" not in existing.columns or (
                    probe is not None and "/run_id=" not in probe["f"]):
                raise ValueError(
                    f"output layout mismatch at {output_path}: existing "
                    "sink is not run_id-partitioned; appending the "
                    "run_id-partitioned layout would mix root data files "
                    "with run_id= directories. Rewrite the old sink with "
                    ".partitionBy(..., 'run_id') or point output_path at "
                    "a fresh location")
    todo = plan_todo(pages, done)
    # run_id is the LAST partition level of every sink layout: the metrics
    # read-back below prunes to exactly this run's files at plan time
    # instead of scanning all historical output (Iceberg analog: the
    # snapshot just committed).
    if partition_by_date:
        extracted = (
            extract_dataframe(todo, cfg, opts, run_id=run_id,
                              passthrough=("warc_ts",))
            .withColumn("warc_date", F.to_date("warc_ts"))
        )
        partition_cols = ("warc_date", "run_id")
    else:
        extracted = extract_dataframe(todo, cfg, opts, run_id=run_id)
        partition_cols = ("run_id",)
    if opts.sink_is_table:
        (extracted.write.format(opts.sink_format).mode("append")
         .partitionBy(*partition_cols).saveAsTable(output_path))
    else:
        extracted.write.mode("append").partitionBy(*partition_cols) \
            .parquet(output_path)

    # lineage/metrics from committed data only; the run_id partition
    # filter prunes the read-back to the files this run just wrote
    committed_all = read_sink(spark, output_path, opts)
    if committed_all is None:
        # zero-row FIRST run: a dynamic-partition append of an empty frame
        # creates no data files at all, so there is nothing to read back
        return {"run_id": run_id, "rows_written": 0, "partitions": 0}
    committed = committed_all.filter(F.col("run_id") == run_id)
    metrics = (
        committed.groupBy("run_id", "partition_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_bytes_in").alias("n_bytes_in"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failed"),
            (F.sum("parse_us") / F.lit(1000)).cast("long").alias("wall_ms"),
        )
        .withColumn("git_hash", F.lit(_git_hash()))
        .withColumn("config_hash", F.lit(cfg.config_hash()))
        .select([f.name for f in METRICS_SCHEMA.fields])
    )
    if metrics_path:
        metrics.write.mode("append").parquet(metrics_path)
        n_parts = spark.read.parquet(metrics_path).filter(
            F.col("run_id") == run_id).count()
    else:
        n_parts = metrics.count()
    n_done = committed.count()
    if not opts.sink_is_table:
        write_run_manifest(spark, output_path, run_id=run_id, cfg=cfg,
                           n_rows=n_done, n_partitions=n_parts,
                           schema=committed_all.schema)
    return {"run_id": run_id, "rows_written": n_done, "partitions": n_parts}


def write_run_manifest(spark: SparkSession, output_path: str, run_id: str,
                       cfg: ExtractConfig, n_rows: int, n_partitions: int,
                       schema) -> None:
    """Per-run dataset manifest beside the sink (S10 — the recast of the
    reference's ``info.json`` dataset manifest, ``data/preprocess.py:
    783-792``): schema + row count + provenance as ONE self-describing
    JSON record under ``{output}/_manifests/{run_id}`` — the underscore
    prefix keeps it invisible to parquet partition discovery, exactly
    like ``_SUCCESS``. A consumer can validate a delivered sink (schema
    drift, truncated copy) without reading any data files."""
    record = {
        "run_id": run_id,
        "n_rows": n_rows,
        "n_partitions": n_partitions,
        "git_hash": _git_hash(),
        "config_hash": cfg.config_hash(),
        "columns": [
            {"name": f.name, "type": f.dataType.simpleString(),
             "nullable": f.nullable} for f in schema.fields
        ],
    }
    spark.createDataFrame([(json.dumps(record, sort_keys=True),)],
                          "manifest string") \
        .coalesce(1).write.mode("overwrite") \
        .text(f"{output_path.rstrip('/')}/_manifests/{run_id}")


def read_run_manifest(spark: SparkSession, output_path: str,
                      run_id: str) -> dict:
    """Read back one run's manifest (validation-side counterpart)."""
    rows = spark.read.text(
        f"{output_path.rstrip('/')}/_manifests/{run_id}").collect()
    return json.loads(rows[0]["value"])
