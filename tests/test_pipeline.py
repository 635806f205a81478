"""End-to-end pipeline tests: run → resume → invariance under partitioning.

Mirrors SURVEY.md §5.2: partition-invariance (same input at different
partition counts ⇒ identical output contents) and resume idempotence
(rerun after partial completion ⇒ no duplicates) — the Spark recasts of
the reference's skip-if-exists incremental checks
(``data/preprocess.py:404-408``)."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from webextract.config import ExtractConfig
from webextract.fixtures import gen_pages, pages_dataframe, pages_from_documents
from webextract.pipeline import (
    PipelineOptions,
    extract_dataframe,
    plan_todo,
    run_extraction,
    salted_repartition,
)
from webextract.schema import EXTRACTED_SCHEMA, PAGES_SCHEMA

N = 80


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(gen_pages(N, giant_every=40, giant_repeat=200),
                               PAGES_SCHEMA)
    df.persist()
    df.count()
    return df


def _content_hash(df):
    """Order-insensitive content hash of (url, extracted_text, n_spans)."""
    return (
        df.select(F.sha2(F.concat_ws("|", "url", "extracted_text",
                                     F.col("n_spans").cast("string")), 256)
                  .alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
        .collect()[0][0]
    )


def test_end_to_end_counts_and_schema(spark, pages):
    out = extract_dataframe(pages, opts=PipelineOptions(num_partitions=4))
    assert out.schema == EXTRACTED_SCHEMA
    rows = out.collect()
    assert len(rows) == N  # every url yields exactly one row, even empty/bad
    by_url = {r["url"]: r for r in rows}
    assert len(by_url) == N
    # template 0 pages are plain articles -> header + paragraph spans
    art = by_url["https://example-0.test/p0/0"]
    assert [s["region_class"] for s in art["spans"]] == ["header", "paragraph"]
    assert art["content_kind"] == "html"
    # template 7 rows are PDFs
    pdf = by_url["https://example-7.test/p0/7"]
    assert pdf["content_kind"] == "pdf"
    assert [s["region_class"] for s in pdf["spans"]] == ["header", "paragraph"]
    # empty page (template 5, idx 5 variant 0) -> empty text, no error
    empty = by_url["https://example-5.test/p0/5"]
    assert empty["extracted_text"] == "" and empty["error"] is None


def test_partition_invariance(spark, pages):
    hashes = set()
    for nparts in (1, 3, 7):
        out = extract_dataframe(pages, opts=PipelineOptions(num_partitions=nparts))
        hashes.add(_content_hash(out))
    assert len(hashes) == 1


def test_salted_repartition_routes_giants(spark, pages):
    opts = PipelineOptions(num_partitions=4, giant_bytes=2000)
    routed = salted_repartition(pages.select("url", "html"), opts)
    assert routed.count() == N  # nothing lost (incl. null/empty html rows)


def test_resume_anti_join_and_idempotence(spark, pages, tmp_path):
    out_dir = str(tmp_path / "extracted")
    metrics_dir = str(tmp_path / "metrics")
    first_half = pages.filter(F.xxhash64("url") % 2 == 0)
    s1 = run_extraction(spark, first_half, out_dir, metrics_dir,
                        opts=PipelineOptions(num_partitions=3))
    n1 = s1["rows_written"]
    assert n1 == first_half.count()

    # rerun over the FULL input: only the missing urls are processed
    s2 = run_extraction(spark, pages, out_dir, metrics_dir,
                        opts=PipelineOptions(num_partitions=3))
    final = spark.read.parquet(out_dir)
    assert final.count() == N
    assert final.select("url").distinct().count() == N  # no duplicates
    assert s2["rows_written"] == N - n1

    # third run: nothing to do, still no duplicates
    run_extraction(spark, pages, out_dir, metrics_dir,
                   opts=PipelineOptions(num_partitions=3))
    assert spark.read.parquet(out_dir).count() == N

    # lineage/metrics: totals reconcile with committed data
    metrics = spark.read.parquet(metrics_dir)
    assert metrics.agg(F.sum("n_rows")).collect()[0][0] == N
    assert metrics.filter(F.col("config_hash").isNull()).count() == 0


def test_flat_legacy_sink_append_refused(spark, pages, tmp_path):
    # a sink written WITHOUT run_id partitioning (legacy flat layout)
    # must refuse a run_id-partitioned append instead of mixing layouts
    out_dir = str(tmp_path / "legacy")
    extract_dataframe(pages, opts=PipelineOptions(num_partitions=3),
                      run_id="legacy") \
        .write.mode("overwrite").parquet(out_dir)
    with pytest.raises(ValueError, match="run_id-partitioned"):
        run_extraction(spark, pages, out_dir,
                       opts=PipelineOptions(num_partitions=3))


def test_plan_todo_no_done(spark, pages):
    assert plan_todo(pages, None).count() == N


def test_deterministic_across_runs(spark, pages):
    a = extract_dataframe(pages, opts=PipelineOptions(num_partitions=2))
    b = extract_dataframe(pages, opts=PipelineOptions(num_partitions=2))
    assert _content_hash(a) == _content_hash(b)


def test_merge_alias_config_through_pipeline(spark, pages):
    cfg = ExtractConfig(merge_aliases={"title": "header"})
    out = extract_dataframe(pages, cfg=cfg, opts=PipelineOptions(num_partitions=2))
    classes = (
        out.select(F.explode("spans").alias("s"))
        .select(F.col("s.region_class").alias("c")).distinct().collect()
    )
    assert "title" not in {r["c"] for r in classes}


def test_pages_from_documents_extraction(spark):
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_dataframe(pages, opts=PipelineOptions(num_partitions=2))
    joined = (
        out.join(pages.select("url", F.col("text").alias("orig")), "url")
        .withColumn("norm", F.trim(F.regexp_replace("orig", r"\s+", " ")))
    )
    # single-<p> wrap: extracted text must equal normalized original text
    assert joined.filter(F.col("extracted_text") != F.col("norm")).count() == 0


def test_distributed_fixture_render(spark):
    df = pages_dataframe(spark, 30, num_partitions=3, giant_every=0)
    assert df.count() == 30
    local = gen_pages(30, giant_every=0)
    got = {r["url"]: bytes(r["html"]) for r in df.collect()}
    assert got == {r["url"]: r["html"] for r in local}


def test_date_partitioned_sink_prunes(spark, pages, tmp_path):
    out = str(tmp_path / "by_date")
    s = run_extraction(spark, pages, out,
                       opts=PipelineOptions(num_partitions=3),
                       partition_by_date=True)
    assert s["rows_written"] == N
    import os
    parts = [d for d in os.listdir(out) if d.startswith("warc_date=")]
    assert len(parts) >= 1
    back = spark.read.parquet(out)
    assert back.count() == N
    # a date-ranged read must prune at plan time (PartitionFilters)
    one_day = back.filter(F.col("warc_date") == "2024-01-01")
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "warc_date" in plan
    # resume still keyed on url across partitions
    s2 = run_extraction(spark, pages, out,
                        opts=PipelineOptions(num_partitions=3),
                        partition_by_date=True)
    assert s2["rows_written"] == 0
    assert spark.read.parquet(out).count() == N


def test_metrics_readback_is_partition_pruned(spark, pages, tmp_path):
    out = str(tmp_path / "pruned")
    s = run_extraction(spark, pages, out,
                       opts=PipelineOptions(num_partitions=3),
                       run_id="prunedrun1")
    assert s["rows_written"] == N
    import os
    # the sink is laid out with run_id as the (last) partition level ...
    assert any(d.startswith("run_id=") for d in os.listdir(out))
    # ... so the metrics read-back (same read + filter the pipeline does)
    # prunes to this run's files at plan time instead of scanning history
    back = spark.read.parquet(out).filter(F.col("run_id") == "prunedrun1")
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "run_id" in pf_line, pf_line


def test_table_sink_create_append_resume(spark, pages, tmp_path):
    # the catalog-table sink branch (sink_is_table=True): in production
    # sink_format="iceberg" (atomic snapshot appends); the session-catalog
    # parquet provider exercises the identical code path here
    spark.sql("DROP TABLE IF EXISTS webextract_sink_test")
    opts = PipelineOptions(num_partitions=3, sink_is_table=True)
    half = pages.filter(F.xxhash64("url") % 2 == 0)
    s1 = run_extraction(spark, half, "webextract_sink_test", opts=opts)
    assert s1["rows_written"] == half.count()
    s2 = run_extraction(spark, pages, "webextract_sink_test", opts=opts)
    assert s2["rows_written"] == N - s1["rows_written"]
    final = spark.read.table("webextract_sink_test")
    assert final.count() == N
    assert final.select("url").distinct().count() == N
    # third run: resume no-op
    s3 = run_extraction(spark, pages, "webextract_sink_test", opts=opts)
    assert s3["rows_written"] == 0
    spark.sql("DROP TABLE webextract_sink_test")


def _iceberg_runtime_jar() -> str | None:
    """Locate an iceberg-spark-runtime jar: the ICEBERG_SPARK_RUNTIME_JAR
    env var, the session's spark.jars dirs, or pyspark's bundled jars —
    None means the integration test skips (this sandbox ships no jar)."""
    import glob
    import os

    env = os.environ.get("ICEBERG_SPARK_RUNTIME_JAR")
    if env and os.path.exists(env):
        return env
    import pyspark

    hits = glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                                  "jars", "iceberg-spark-runtime*.jar"))
    return hits[0] if hits else None


@pytest.mark.skipif(_iceberg_runtime_jar() is None,
                    reason="no iceberg-spark-runtime jar available "
                           "(set ICEBERG_SPARK_RUNTIME_JAR to enable)")
def test_iceberg_sink_end_to_end(tmp_path):
    # the ACTUAL Iceberg writer (north_rule's named sink), not the
    # session-catalog stand-in above: append, resume anti-join, rerun
    # no-op, snapshot history and snapshot-id time travel. Runs in a
    # fresh JVM because spark.sql.extensions / catalog impls are static
    # confs that cannot be added to the shared test session.
    import subprocess
    import sys
    import textwrap

    jar = _iceberg_runtime_jar()
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    warehouse = str(tmp_path / "warehouse")
    metrics = str(tmp_path / "metrics")
    script = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession, functions as F
        from webextract.fixtures import pages_dataframe
        from webextract.pipeline import (
            PipelineOptions, run_extraction, ship_package)
        spark = (SparkSession.builder.master("local[4]")
            .config("spark.jars", {jar!r})
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions")
            .config("spark.sql.catalog.ice",
                    "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.ice.type", "hadoop")
            .config("spark.sql.catalog.ice.warehouse", {warehouse!r})
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR"); ship_package(spark)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.db")
        table = "ice.db.extracted"
        opts = PipelineOptions(num_partitions=4, sink_format="iceberg",
                               sink_is_table=True)
        pages = pages_dataframe(spark, 40, num_partitions=2, giant_every=0)
        half = pages.filter(F.xxhash64("url") % 2 == 0)
        s1 = run_extraction(spark, half, table, {metrics!r}, opts=opts)
        s2 = run_extraction(spark, pages, table, {metrics!r}, opts=opts)
        assert s1["rows_written"] > 0 and s2["rows_written"] > 0
        ext = spark.read.table(table)
        assert ext.count() == 40 == ext.select("url").distinct().count()
        s3 = run_extraction(spark, pages, table, opts=opts)
        assert s3["rows_written"] == 0, s3   # resume rerun: no-op
        snaps = spark.sql(
            "SELECT snapshot_id FROM ice.db.extracted.snapshots "
            "ORDER BY committed_at").collect()
        assert len(snaps) >= 2, snaps        # one commit per append
        first = (spark.read.option("snapshot-id",
                                   str(snaps[0]["snapshot_id"]))
                 .table(table))
        assert first.count() == s1["rows_written"]  # time travel
        print("ICEBERG-E2E-OK")
    """)
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ICEBERG-E2E-OK" in out.stdout


def test_sink_format_validation():
    with pytest.raises(ValueError, match="unknown sink_format"):
        PipelineOptions(sink_format="avro")
    with pytest.raises(ValueError, match="sink_is_table"):
        PipelineOptions(sink_format="iceberg")  # table identifier required
    PipelineOptions(sink_format="iceberg", sink_is_table=True)  # ok


def test_corrupt_sink_read_raises_not_first_run(spark, tmp_path):
    from webextract.pipeline import read_sink

    # missing path -> genuinely a first run
    assert read_sink(spark, str(tmp_path / "nope")) is None
    # corrupt committed data must RAISE (resuming as "first run" would
    # silently duplicate the whole corpus into the sink)
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.snappy.parquet").write_bytes(b"not a parquet file!!")
    with pytest.raises(Exception):
        df = read_sink(spark, str(bad))
        if df is not None:  # schema inference may defer the footer read
            df.collect()


def test_debug_block_scores(spark):
    import datetime as dt
    html = (b"<html><body>"
            b'<nav><ul><li><a href="/a">only link words here</a></li></ul></nav>'
            b"<p>real content sentence with words</p>"
            b"<p>ab</p></body></html>")
    pages = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 1), html, None, None),
         ("u2", dt.datetime(2024, 1, 1), None, None, None)],  # empty: no rows
        PAGES_SCHEMA)
    out = extract_dataframe(pages, opts=PipelineOptions(num_partitions=1),
                            debug_scores=True).collect()
    rows = sorted((r for r in out), key=lambda r: r["block_order"])
    assert [r["url"] for r in rows] == ["u1"] * 3
    nav, content, tiny = rows
    # boilerplate block is PRESENT in the debug view, with its features
    assert nav["tag"] == "li" and nav["marginal"] is True
    assert nav["link_density"] == 1.0
    assert nav["region_class"] == "background" and nav["kept"] is False
    assert content["region_class"] == "paragraph" and content["kept"] is True
    assert content["n_chars"] == len("real content sentence with words")
    # min-size filtered block also visible
    assert tiny["region_class"] == "background" and tiny["n_chars"] == 2


def test_zero_row_first_run(spark, pages, tmp_path):
    # an empty todo on a FIRST run appends no files at all (dynamic
    # partitioning): the summary must report 0 rows, not crash on the
    # missing read-back
    none = pages.filter(F.col("url").isNull())
    s = run_extraction(spark, none, str(tmp_path / "zero"),
                       opts=PipelineOptions(num_partitions=2))
    assert s["rows_written"] == 0 and s["partitions"] == 0


def test_layout_mismatch_rejected(spark, pages, tmp_path):
    out = str(tmp_path / "dated2")
    run_extraction(spark, pages.limit(10), out,
                   opts=PipelineOptions(num_partitions=2),
                   partition_by_date=True)
    with pytest.raises(ValueError, match="layout mismatch"):
        run_extraction(spark, pages, out,
                       opts=PipelineOptions(num_partitions=2),
                       partition_by_date=False)
    flat = str(tmp_path / "flat2")
    run_extraction(spark, pages.limit(10), flat,
                   opts=PipelineOptions(num_partitions=2))
    with pytest.raises(ValueError, match="layout mismatch"):
        run_extraction(spark, pages, flat,
                       opts=PipelineOptions(num_partitions=2),
                       partition_by_date=True)


def test_read_pages_jsonl(spark, tmp_path):
    # the JSONL crawl-dump interchange shape: text dumps re-encode html,
    # base64 dumps decode to the original bytes; extra keys never read
    import base64
    import gzip
    import json

    from webextract.pipeline import extract_dataframe, read_pages_jsonl

    html = "<html><body><p>jsonl dump body text here</p></body></html>"
    lines = [
        json.dumps({"url": "https://j.test/1",
                    "warc_ts": "2024-03-04T05:06:07Z",
                    "html": html, "extra_key": 42}),
        json.dumps({"url": "https://j.test/2", "html": None}),
    ]
    (tmp_path / "dump.jsonl.gz").write_bytes(
        gzip.compress("\n".join(lines).encode()))
    pages = read_pages_jsonl(spark, str(tmp_path / "dump.jsonl.gz"))
    rows = {r["url"]: r for r in pages.collect()}
    assert bytes(rows["https://j.test/1"]["html"]).decode() == html
    assert rows["https://j.test/1"]["warc_ts"] is not None
    assert rows["https://j.test/2"]["html"] is None
    out = extract_dataframe(pages).collect()
    assert any("jsonl dump body text" in r["extracted_text"] for r in out)

    b64 = [json.dumps({"url": "https://j.test/3",
                       "html": base64.b64encode(html.encode()).decode()})]
    (tmp_path / "b64.jsonl").write_text("\n".join(b64))
    pages64 = read_pages_jsonl(spark, str(tmp_path / "b64.jsonl"),
                               html_encoding="base64")
    assert bytes(pages64.collect()[0]["html"]).decode() == html


def test_run_manifest_written_and_reconciles(spark, pages, tmp_path):
    # S10 manifest sink: one self-describing JSON per run beside the
    # data, invisible to parquet discovery, reconciling schema + counts
    from webextract.pipeline import read_run_manifest

    out_dir = str(tmp_path / "extracted")
    s1 = run_extraction(spark, pages.limit(10), out_dir,
                        opts=PipelineOptions(num_partitions=2))
    s2 = run_extraction(spark, pages, out_dir,
                        opts=PipelineOptions(num_partitions=2))
    m1 = read_run_manifest(spark, out_dir, s1["run_id"])
    m2 = read_run_manifest(spark, out_dir, s2["run_id"])
    assert m1["n_rows"] == 10 and m2["n_rows"] == N - 10
    assert m1["config_hash"] == m2["config_hash"]
    cols = {c["name"]: c["type"] for c in m1["columns"]}
    assert cols["url"] == "string" and "spans" in cols
    # the _manifests dir must NOT leak into sink reads or break resume
    assert spark.read.parquet(out_dir).count() == N
    s3 = run_extraction(spark, pages, out_dir,
                        opts=PipelineOptions(num_partitions=2))
    assert s3["rows_written"] == 0  # resume no-op: manifests don't
    assert spark.read.parquet(out_dir).count() == N  # confuse the anti-join


def test_extract_batches_drop_zip_finders(tmp_path):
    # Python workers are reused and pyspark calls
    # importlib.invalidate_caches() before each task, which makes every
    # cached zipimporter re-read its archive; the batch function must
    # leave none behind, and imports from the zip must keep working
    import importlib
    import sys
    import zipfile
    import zipimport

    import pyarrow as pa

    from webextract.config import DEFAULT_CONFIG
    from webextract.extract import _extract_batch, make_extract_batches

    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zip_probe_a.py", "A = 1\n")
        zf.writestr("_zip_probe_b.py", "B = 2\n")
    saved_path = list(sys.path)
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("_zip_probe_a").A == 1
        assert isinstance(sys.path_importer_cache[str(archive)],
                          zipimport.zipimporter)

        rows = gen_pages(3, giant_every=0)
        urls = [r["url"] for r in rows]
        payloads = [r["html"] for r in rows]
        batch = pa.RecordBatch.from_pydict(
            {"url": urls, "html": payloads},
            pa.schema([("url", pa.string()), ("html", pa.binary())]))
        fn = make_extract_batches(DEFAULT_CONFIG, "r")
        (out,) = list(fn(iter([batch])))

        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        assert importlib.import_module("_zip_probe_b").B == 2
        want = _extract_batch(urls, payloads, DEFAULT_CONFIG, -1, "r")
        assert out.schema == want.schema
        timing = out.schema.get_field_index("parse_us")
        assert [c for i, c in enumerate(out.columns) if i != timing] \
            == [c for i, c in enumerate(want.columns) if i != timing]

        # closed after the first of two batches: finders still dropped
        assert isinstance(sys.path_importer_cache[str(archive)],
                          zipimport.zipimporter)
        it = fn(iter([batch, batch]))
        next(it)
        it.close()
        assert str(archive) not in sys.path_importer_cache
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(str(archive), None)
        sys.modules.pop("_zip_probe_a", None)
        sys.modules.pop("_zip_probe_b", None)
