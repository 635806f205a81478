"""Structured Streaming ingest — the recast of the reference's serving
path (Flask ``POST /predict`` → queue → single GPU worker,
``api/flask_app.py:452-523``, SURVEY.md §3.3).

The queue/ledger/status machine of the reference maps onto streaming
primitives Spark already guarantees:

- bounded ingest queue (``LAYPA_MAX_QUEUE_SIZE`` 429s,
  ``flask_app.py:499-503``)    → ``maxFilesPerTrigger`` backpressure
- ledger status machine + dedupe of in-flight work
  (``flask_app.py:166-284``)   → the streaming checkpoint (exactly-once
  file-sink semantics; a restarted query never re-emits a processed file)
- Prometheus counters (``flask_app.py:120-130``) → the same per-row
  ``parse_us``/``n_bytes_in`` columns as the batch path, plus
  :func:`stream_span_rates`' watermarked windowed aggregates

The extraction logic is byte-identical to the batch path — the same
``make_extract_batches`` closure over the same frozen config — so a url
processed via streaming equals the same url processed via batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from .config import DEFAULT_CONFIG, ExtractConfig
from .extract import make_extract_batches
from .schema import EXTRACTED_SCHEMA, PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    # ignoreCorruptFiles: a malformed crawl drop must be skipped, not kill
    # the query — the streaming form of the reference's skip-on-corrupt
    # contract (inference.py:344-346)
    reader = (spark.readStream.schema(PAGES_SCHEMA)
              .option("ignoreCorruptFiles", "true"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def _start_parquet_sink(extracted: DataFrame, output_path: str,
                        checkpoint_path: str,
                        available_now: bool) -> StreamingQuery:
    """The shared exactly-once parquet sink of every extraction stream."""
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extraction(spark: SparkSession, input_path: str,
                      output_path: str, checkpoint_path: str,
                      cfg: ExtractConfig = DEFAULT_CONFIG,
                      run_id: str = "stream",
                      available_now: bool = True,
                      max_files_per_trigger: int | None = None) -> StreamingQuery:
    """Continuous extraction: new pages files → extracted parquet.

    Exactly-once per input file via the checkpoint; restarting the query
    after a stop resumes where it left off (the streaming counterpart of
    the batch anti-join resume). No repartition inside the stream — file
    micro-batches already bound per-task bytes, and a blocking shuffle
    would only add latency per micro-batch.
    """
    pages = read_pages_stream(spark, input_path, max_files_per_trigger)
    extracted = pages.select("url", "html").mapInArrow(
        make_extract_batches(cfg, run_id), EXTRACTED_SCHEMA)
    return _start_parquet_sink(extracted, output_path, checkpoint_path,
                               available_now)


def dedup_first_seen(pages_stream: DataFrame,
                     revisit_horizon: str | None = None,
                     watermark: str = "10 minutes"):
    """Custom stateful operator: keep only the FIRST crawl of each url
    across micro-batches (``applyInPandasWithState``).

    Crawls revisit urls; the batch path dedupes with an anti-join against
    committed output, but a *stream* needs cross-trigger state. Per-url
    state is one boolean; the first arrival (earliest ``warc_ts`` within
    the batch) passes through, every later revisit is dropped. State lives
    in the streaming checkpoint, so a restarted query still remembers
    every url it has ever passed. This is the engine's
    ``applyInPandasWithState`` surface — the streaming analog of the
    reference's ledger status machine (``api/flask_app.py:166-284``),
    which tracks in-flight/done work to avoid duplicates.

    ``revisit_horizon`` (e.g. ``"7 days"``) bounds the state: without it
    the per-url boolean grows without bound for the checkpoint's lifetime
    — at crawl scale that is every url ever seen. With it, the stream is
    watermarked on ``warc_ts`` and each url's state carries an event-time
    timeout of (its latest arrival + horizon); when the watermark passes
    that, the state is dropped — a url not revisited within the crawl's
    revisit horizon frees its entry, and a revisit AFTER expiry is
    treated as a fresh first-seen (the semantics a recrawl wants: the
    page content has a new snapshot anyway). Every arrival extends the
    TTL, so a hot url's state never lapses mid-activity.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # schema-generic: rows pass through with whatever columns arrived
    # (full PAGES_SCHEMA from parquet drops, or the url/warc_ts/html
    # slice a WARC segment stream carries)
    out_schema = pages_stream.schema
    state_schema = "seen boolean"
    horizon_ms = (int(pd.Timedelta(revisit_horizon).total_seconds() * 1000)
                  if revisit_horizon else None)
    # Arrow delivers warc_ts as session-timezone-naive pandas timestamps,
    # while getCurrentWatermarkMs() is true UTC epoch ms — localize before
    # taking .value or the event-time TTL skews by the session tz offset
    session_tz = pages_stream.sparkSession.conf.get(
        "spark.sql.session.timeZone")

    def _utc_ms(ts: pd.Timestamp) -> int:
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz)
        return int(ts.value) // 1_000_000

    def first_seen(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # horizon passed with no revisit: free the entry
            state.remove()
            return
        first: pd.DataFrame | None = None
        latest_ms: int | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("warc_ts", kind="stable",
                                  na_position="last")
            head = pdf.iloc[[0]]
            # a NaT head (all-null-timestamp chunk) is replaceable by any
            # valid-timestamp head: NaT comparisons are always False, so
            # without this an early NaT row would pin `first` forever and
            # the emitted first-seen row might not be the earliest
            head_ts = head["warc_ts"].iloc[0]
            if first is None:
                first = head
            elif not pd.isna(head_ts):
                first_ts = first["warc_ts"].iloc[0]
                if pd.isna(first_ts) or head_ts < first_ts:
                    first = head
            # NaT-safe: WARC rows may carry a null warc_ts (unparseable
            # WARC-Date) and NaT sorts last — _utc_ms(NaT) would yield a
            # huge NEGATIVE epoch, collapsing the TTL to the watermark
            # floor and re-emitting later revisits as first-seen
            valid_ts = pdf["warc_ts"].dropna()
            if len(valid_ts):
                tail_ms = _utc_ms(valid_ts.iloc[-1])
                if latest_ms is None or tail_ms > latest_ms:
                    latest_ms = tail_ms
        emitted = state.exists
        if not emitted and first is not None:
            state.update((True,))
        if horizon_ms is not None and latest_ms is not None:
            # extend the TTL past the watermark on every arrival
            floor = state.getCurrentWatermarkMs() + 1
            state.setTimeoutTimestamp(max(latest_ms + horizon_ms, floor))
        if not emitted and first is not None:
            yield first

    stream = pages_stream
    timeout = GroupStateTimeout.NoTimeout
    if revisit_horizon is not None:
        stream = stream.withWatermark("warc_ts", watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        stream.groupBy("url")
        .applyInPandasWithState(
            first_seen, out_schema, state_schema, "append", timeout,
        )
    )


def stream_dedup_extraction(spark: SparkSession, input_path: str,
                            output_path: str, checkpoint_path: str,
                            cfg: ExtractConfig = DEFAULT_CONFIG,
                            run_id: str = "stream-dedup",
                            available_now: bool = True,
                            revisit_horizon: str | None = None,
                            watermark: str = "10 minutes") -> StreamingQuery:
    """Streaming ingest with first-seen url dedup in front of extraction:
    revisited urls never reach the (expensive) parse stage.
    ``revisit_horizon`` bounds dedup state — see
    :func:`dedup_first_seen`."""
    pages = read_pages_stream(spark, input_path)
    deduped = dedup_first_seen(pages, revisit_horizon=revisit_horizon,
                               watermark=watermark)
    extracted = deduped.select("url", "html").mapInArrow(
        make_extract_batches(cfg, run_id), EXTRACTED_SCHEMA)
    return _start_parquet_sink(extracted, output_path, checkpoint_path,
                               available_now)


def stream_span_rates(spark: SparkSession, input_path: str,
                      cfg: ExtractConfig = DEFAULT_CONFIG,
                      window: str = "1 hour",
                      watermark: str = "2 hours"):
    """Watermarked windowed throughput metrics over the crawl timestamp.

    Late pages (warc_ts older than the watermark) are dropped from the
    aggregate instead of blocking state forever — the streaming analog of
    the reference's bounded queue. Returns the aggregated streaming
    DataFrame (caller attaches a sink); used with ``availableNow`` in
    tests via a memory sink.
    """
    from pyspark.sql.types import StructField, StructType, TimestampType

    pages = read_pages_stream(spark, input_path)
    slim = pages.select("url", "html", "warc_ts")
    # warc_ts rides through the Arrow stage 1:1 — a stream-stream join
    # back onto the source would need append mode + watermarks on both
    # sides; the passthrough is free (zero-copy column reuse).
    # NB: build a NEW StructType — StructType.add mutates in place and
    # would corrupt the shared EXTRACTED_SCHEMA for the whole process.
    out_schema = StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [StructField("warc_ts", TimestampType(), True)])
    extracted = slim.mapInArrow(
        make_extract_batches(cfg, "rates", passthrough=("warc_ts",)),
        out_schema)
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "content_kind")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_spans").alias("n_spans"),
             F.sum("n_bytes_in").alias("n_bytes_in"))
        .select(F.col("w.start").alias("window_start"), "content_kind",
                "n_docs", "n_spans", "n_bytes_in")
    )


def stream_warc_extraction(spark: SparkSession, input_path: str,
                           output_path: str, checkpoint_path: str,
                           cfg: ExtractConfig = DEFAULT_CONFIG,
                           run_id: str = "stream-warc",
                           available_now: bool = True,
                           max_bytes: int = 1 << 30,
                           max_files_per_trigger: int | None = None,
                           dedup_revisits: bool = False,
                           revisit_horizon: str | None = None,
                           watermark: str = "10 minutes") -> StreamingQuery:
    """Continuous crawl ingestion: WARC segment files landing in a
    directory → extracted parquet, exactly-once per segment file.

    The production Common-Crawl topology — a fetcher fleet drops
    ``*.warc[.gz]`` segments, extraction runs behind it as a standing
    query — composed from the engine's own stages: the batch WARC
    parser (:func:`webextract.warc.read_warc_stream`, same per-file
    totality/bomb guard), optional first-seen url dedup across
    micro-batches (crawls revisit urls; ``dedup_revisits=True`` puts
    :func:`dedup_first_seen`'s ``applyInPandasWithState`` in front of
    the expensive parse), and the byte-identical batch extraction
    closure. Restarting with the same checkpoint resumes; processed
    segments never re-emit.
    """
    from .warc import read_warc_stream

    rows = read_warc_stream(spark, input_path, max_bytes=max_bytes,
                            max_files_per_trigger=max_files_per_trigger)
    pages = rows.filter(F.col("url").isNotNull()) \
        .select("url", "warc_ts", "html")
    if dedup_revisits:
        pages = dedup_first_seen(pages, revisit_horizon=revisit_horizon,
                                 watermark=watermark)
    extracted = pages.select("url", "html").mapInArrow(
        make_extract_batches(cfg, run_id), EXTRACTED_SCHEMA)
    return _start_parquet_sink(extracted, output_path, checkpoint_path,
                               available_now)
