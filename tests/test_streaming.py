"""Streaming ingest tests: exactly-once extraction, checkpoint resume,
and batch/stream output equality (SURVEY.md §3.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webextract.fixtures import gen_pages
from webextract.pipeline import PipelineOptions, extract_dataframe, ship_package
from webextract.schema import PAGES_SCHEMA
from webextract.streaming import stream_extraction, stream_span_rates


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Three parquet 'crawl drops' in one streaming input dir."""
    ship_package(spark)
    base = tmp_path_factory.mktemp("stream_in")
    chunks = [gen_pages(30, giant_every=0),
              [r for r in gen_pages(60, giant_every=0)][30:],
              [r for r in gen_pages(80, giant_every=0)][60:]]
    paths = []
    for i, chunk in enumerate(chunks):
        p = str(base / f"drop_{i}.parquet")
        spark.createDataFrame(chunk, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(p)
        paths.append(p)
    return str(base), paths


def test_stream_matches_batch_and_resumes(spark, staged, tmp_path):
    base, paths = staged
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    # glob over the first two drops only (third arrives "later")
    q = stream_extraction(spark, f"{base}/drop_[01].parquet", out, cp)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.select("url").distinct().count() == 60

    # restart with the third drop visible: only new files are processed
    q2 = stream_extraction(spark, f"{base}/drop_*.parquet", out, cp)
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.select("url").distinct().count() == 80  # exactly-once

    # stream output == batch output, url for url
    batch = extract_dataframe(
        spark.read.schema(PAGES_SCHEMA).parquet(f"{base}/drop_*.parquet"),
        opts=PipelineOptions(num_partitions=4))
    diff = (
        got.select("url", "extracted_text", "n_spans")
        .exceptAll(batch.select("url", "extracted_text", "n_spans"))
    )
    assert diff.count() == 0


def test_stream_span_rates_windowed(spark, staged):
    base, _ = staged
    agg = stream_span_rates(spark, f"{base}/drop_*.parquet")
    q = (agg.writeStream.format("memory").queryName("rates")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from rates").collect()
    assert sum(r["n_docs"] for r in rows) == 80
    kinds = {r["content_kind"] for r in rows}
    assert "html" in kinds and "pdf" in kinds
    for r in rows:
        assert r["window_start"] is not None


def test_span_rates_does_not_mutate_global_schema(spark, staged):
    from webextract.schema import EXTRACTED_SCHEMA

    names_before = [f.name for f in EXTRACTED_SCHEMA.fields]
    base, _ = staged
    stream_span_rates(spark, f"{base}/drop_0.parquet")
    assert [f.name for f in EXTRACTED_SCHEMA.fields] == names_before
    assert "warc_ts" not in names_before


def test_stateful_first_seen_dedup_across_restarts(spark, tmp_path):
    """applyInPandasWithState: revisited urls are dropped across triggers
    AND across query restarts (state lives in the checkpoint)."""
    import datetime as dt
    from webextract.streaming import stream_dedup_extraction

    base = tmp_path / "in"
    base.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(base / name))

    t0 = dt.datetime(2024, 1, 1)
    drop("d0.parquet", [
        ("u://a", t0, b"<p>first crawl of a</p>", None, None),
        ("u://b", t0, b"<p>first crawl of b</p>", None, None),
        # same-batch revisit of a, later ts -> must lose to the first
        ("u://a", t0 + dt.timedelta(hours=1), b"<p>revisit of a</p>", None, None),
    ])
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = stream_dedup_extraction(spark, f"{base}/d0.parquet", out, cp)
    q.awaitTermination(120)
    got = {r["url"]: r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    assert got == {"u://a": "first crawl of a", "u://b": "first crawl of b"}

    # second drop after a RESTART: a revisited again + one new url
    drop("d1.parquet", [
        ("u://a", t0 + dt.timedelta(days=1), b"<p>late revisit of a</p>", None, None),
        ("u://c", t0, b"<p>first crawl of c</p>", None, None),
    ])
    q2 = stream_dedup_extraction(spark, f"{base}/d*.parquet", out, cp)
    q2.awaitTermination(120)
    got = {r["url"]: r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    assert got == {"u://a": "first crawl of a", "u://b": "first crawl of b",
                   "u://c": "first crawl of c"}


def test_first_seen_prefers_valid_timestamp_over_nat(spark, tmp_path):
    """A null warc_ts row (unparseable WARC-Date) arriving first must not
    pin the first-seen choice: NaT comparisons are always False, so
    without the explicit preference a later valid-timestamp row could
    never replace the NaT head and the emitted row would not be the
    chronologically earliest."""
    import datetime as dt
    from webextract.streaming import stream_dedup_extraction

    base = tmp_path / "in"
    base.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(base / name))

    t0 = dt.datetime(2024, 1, 1)
    drop("d0.parquet", [
        # NaT row listed first; the valid-timestamp row must win
        ("u://a", None, b"<p>nat snapshot of a</p>", None, None),
        ("u://a", t0, b"<p>dated snapshot of a</p>", None, None),
        # and a NaT-only url still emits (its single row)
        ("u://b", None, b"<p>nat only b</p>", None, None),
    ])
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    # one row per Arrow chunk: the state function's pdfs iterator yields
    # the NaT row as its OWN chunk before the dated one — the exact
    # cross-chunk case where a NaT head must be replaceable
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        q = stream_dedup_extraction(spark, f"{base}/d0.parquet", out, cp)
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, prev)
    got = {r["url"]: r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    assert got == {"u://a": "dated snapshot of a",
                   "u://b": "nat only b"}


def test_stateful_dedup_event_time_ttl(spark, tmp_path):
    """revisit_horizon bounds the dedup state: a revisit INSIDE the
    horizon is dropped; once the watermark passes a url's TTL its state
    is freed, and a revisit AFTER expiry is a fresh first-seen."""
    import datetime as dt
    from webextract.streaming import stream_dedup_extraction

    base = tmp_path / "in"
    base.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(base / name))

    def run(glob):
        q = stream_dedup_extraction(
            spark, f"{base}/{glob}", str(tmp_path / "out"),
            str(tmp_path / "cp"), revisit_horizon="1 day",
            watermark="1 minute")
        q.awaitTermination(120)
        rows = spark.read.parquet(str(tmp_path / "out")).collect()
        return sorted((r["url"], r["extracted_text"]) for r in rows)

    t0 = dt.datetime(2024, 1, 1)
    drop("d0.parquet", [
        ("u://a", t0, b"<p>first crawl of a</p>", None, None),
        ("u://b", t0, b"<p>first crawl of b</p>", None, None),
    ])
    assert run("d0.parquet") == [
        ("u://a", "first crawl of a"), ("u://b", "first crawl of b")]

    # revisit INSIDE the horizon -> dropped; far-future url advances the
    # watermark well past a's and b's TTLs at the end of this batch
    drop("d1.parquet", [
        ("u://a", t0 + dt.timedelta(hours=1),
         b"<p>revisit inside horizon</p>", None, None),
        ("u://x", t0 + dt.timedelta(days=30),
         b"<p>first crawl of x</p>", None, None),
    ])
    assert run("d[01].parquet") == [
        ("u://a", "first crawl of a"), ("u://b", "first crawl of b"),
        ("u://x", "first crawl of x")]

    # next batch: a/b have no data and expired timers -> state removed
    drop("d2.parquet", [
        ("u://y", t0 + dt.timedelta(days=30),
         b"<p>first crawl of y</p>", None, None),
    ])
    run("d[012].parquet")

    # revisit AFTER expiry: state is gone -> fresh first-seen, emitted
    drop("d3.parquet", [
        ("u://a", t0 + dt.timedelta(days=31),
         b"<p>post-expiry recrawl of a</p>", None, None),
    ])
    final = run("d*.parquet")
    a_texts = sorted(t for u, t in final if u == "u://a")
    assert a_texts == ["first crawl of a", "post-expiry recrawl of a"]
    assert ("u://y", "first crawl of y") in final


def test_ttl_correct_under_non_utc_session_timezone(spark, tmp_path):
    """Arrow hands the state function session-tz-NAIVE timestamps while
    getCurrentWatermarkMs() is true UTC epoch ms (ADVICE r4): under
    Etc/GMT+12 (UTC-12) an unlocalized .value makes every TTL fire 12 h
    early, so a revisit INSIDE the horizon would wrongly re-emit. The
    localized path must keep the state alive."""
    import datetime as dt
    from webextract.streaming import stream_dedup_extraction

    base = tmp_path / "in"
    base.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(base / name))

    def run(glob):
        q = stream_dedup_extraction(
            spark, f"{base}/{glob}", str(tmp_path / "out"),
            str(tmp_path / "cp"), revisit_horizon="1 day",
            watermark="1 minute")
        q.awaitTermination(120)
        return sorted(
            (r["url"], r["extracted_text"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect())

    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Etc/GMT+12")
    try:
        t0 = dt.datetime(2024, 1, 1)
        drop("d0.parquet", [
            ("u://a", t0, b"<p>first crawl of a</p>", None, None)])
        run("d0.parquet")
        # z advances the watermark to t0+18h-1min: past a skewed TTL of
        # t0+12h, well before the true TTL of t0+24h
        drop("d1.parquet", [
            ("u://z", t0 + dt.timedelta(hours=18),
             b"<p>first crawl of z</p>", None, None)])
        run("d[01].parquet")
        # a batch with no a-data: an early (skewed) timer would fire here
        drop("d2.parquet", [
            ("u://y", t0 + dt.timedelta(hours=18, minutes=30),
             b"<p>first crawl of y</p>", None, None)])
        run("d[012].parquet")
        # revisit INSIDE the true horizon: must still be deduped
        drop("d3.parquet", [
            ("u://a", t0 + dt.timedelta(hours=20),
             b"<p>revisit inside horizon</p>", None, None)])
        final = run("d*.parquet")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    a_texts = [t for u, t in final if u == "u://a"]
    assert a_texts == ["first crawl of a"]
