"""webextract — PySpark-native web-document layout & content extraction.

A from-scratch engine with the capabilities of stefanklut/laypa recast for
Common-Crawl-style web pages: where the reference segments scanned document
*images* into typed layout instances (regions + baselines + reading order,
emitted as PAGE XML — see reference ``inference.py:390-414``,
``page_xml/output_page_xml.py:564-641``), this engine performs DOM- and
byte-stream-level layout analysis over a ``pages(url, warc_ts, html, text,
lang)`` table, emitting per-url extracted text plus typed layout spans
(region class, char offsets, reading order, confidence).

Layout:

- :mod:`webextract.config`       — frozen extraction config (class vocab,
  merge aliases, thresholds) — analog of the reference's CfgNode +
  ``page_xml/xml_regions.py`` vocabulary.
- :mod:`webextract.html_extract` — pure-Python (Spark-free) HTML → blocks →
  features → classify → spans/text. The "model + post-processing" of the
  pipeline (reference ``models/meta_arch/binary_seg.py`` +
  ``page_xml/output_page_xml.py``), replaced by deterministic DOM
  text-density / link-density scoring.
- :mod:`webextract.pdf_extract`  — minimal deterministic PDF text-object
  parser (the PDF branch of the north star).
- :mod:`webextract.extract`      — content-type dispatch + Arrow-batch API
  (the analog of the reference's ``build_{mode}`` reflection dispatch,
  ``page_xml/xml_converters/xml_converter.py:72-107``).
- :mod:`webextract.schema`       — Spark StructTypes for every table.
- :mod:`webextract.pipeline`     — DataFrame wiring: scan → resume anti-join
  → salted repartition with giant-blob skew routing → ``mapInArrow`` →
  sink + per-partition lineage/metrics.
- :mod:`webextract.fixtures`     — deterministic synthetic pages (seed=42).
- :mod:`webextract.evaluate`     — confusion-matrix / IoU-analog metrics
  (reference ``evaluation/sem_seg_evaluation.py:96-212``).
- :mod:`webextract.functions`    — training-data-pipeline column functions:
  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
  similarity search, text analysis, multimodal stubs.
- :mod:`webextract.streaming`    — Structured Streaming ingest: exactly-once
  checkpointed extraction, stateful first-seen dedup, watermarked rates.
- :mod:`webextract.golden`       — golden-encode regression harness
  (byte-identical text/span asserts, A/B across code versions).
- :mod:`webextract.serve`        — HTTP scoring entry (bounded admission,
  Prometheus metrics, parquet spool) over the same extractor.
"""

__version__ = "0.1.0"
