"""Content-type dispatch + Arrow-batch extraction API.

Dispatch mirrors the reference's reflective ``build_{mode}`` converter
dispatch (``page_xml/xml_converters/xml_converter.py:72-107``): a per-row
content sniff routes each payload to the HTML or PDF branch. The batch API
is the *only* Python on the hot path and runs via ``mapInArrow`` — the
engine's analog of the reference's DataLoader worker processes
(``inference.py:377-387``), with the JVM↔Python Arrow socket as the
process boundary (once per batch, never per row). Arrow RecordBatches are
consumed and produced directly (no pandas materialization): for a
binary-payload pipeline the pandas detour costs ~4x on batch conversion.

pyarrow (and the numpy it pulls in) loads only on the batch path, on the
first batch: :func:`extract_record`, which the HTTP server runs per
request, needs neither, so a serving process starts about 40 MB smaller.
"""

from __future__ import annotations

import functools
import sys
import time
import zipimport
from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from .config import DEFAULT_CONFIG, ExtractConfig
from .html_extract import (
    ExtractResult,
    classify_block,
    decode_payload,
    extract_html,
    tokenize_blocks,
)
from .pdf_extract import extract_pdf, is_pdf

if TYPE_CHECKING:
    import pyarrow as pa

_EMPTY = ExtractResult(text="", spans=())


@functools.cache
def _arrow_types() -> tuple:
    """(span list type, line-span list type, block-score schema), built
    on first use so that importing this module does not import pyarrow."""
    import pyarrow as pa

    span_type = pa.list_(pa.struct([
        ("span_id", pa.string()),
        ("region_class", pa.string()),
        ("region_type", pa.string()),
        ("char_start", pa.int64()),
        ("char_end", pa.int64()),
        ("reading_order", pa.int32()),
        ("confidence", pa.float64()),
    ]))
    line_span_type = pa.list_(pa.struct([
        ("line_id", pa.string()),
        ("parent_span_id", pa.string()),
        ("char_start", pa.int64()),
        ("char_end", pa.int64()),
        ("line_order", pa.int32()),
    ]))
    block_score_schema = pa.schema([
        ("url", pa.string()),
        ("block_order", pa.int32()),
        ("tag", pa.string()),
        ("marginal", pa.bool_()),
        ("n_chars", pa.int64()),
        ("link_density", pa.float64()),
        ("region_class", pa.string()),
        ("confidence", pa.float64()),
        ("kept", pa.bool_()),
    ])
    return span_type, line_span_type, block_score_schema


def _extract_one(url: str, payload: bytes | None,
                 cfg: ExtractConfig) -> tuple:
    """One document → (kind, result, error, parse_us, n_bytes_in).

    Pure; never raises: errors are captured as a value — the reference's
    skip-with-warning contract (``inference.py:344-346``) recast so a bad
    row can never fail a 10^12-row job.
    """
    t0 = time.perf_counter()
    kind = "html"
    error = None
    try:
        if not payload:
            kind, result = "empty", _EMPTY
        elif is_pdf(payload):
            kind = "pdf"
            result = extract_pdf(url, payload, cfg)
        else:
            result = extract_html(url, payload, cfg)
    except Exception as exc:  # pragma: no cover - extractors are total
        result, error = _EMPTY, f"{type(exc).__name__}: {exc}"
    parse_us = int((time.perf_counter() - t0) * 1_000_000)
    return kind, result, error, parse_us, len(payload) if payload else 0


def extract_record(url: str, payload: bytes | None,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> dict[str, Any]:
    """One document → one output row as a dict — the single-document
    debugging API. The batch path (:func:`make_extract_batches`) does NOT
    go through dicts; it fills columnar accumulators directly."""
    kind, result, error, parse_us, n_bytes = _extract_one(url, payload, cfg)
    spans = [
        {
            "span_id": s.span_id,
            "region_class": s.region_class,
            "region_type": s.region_type,
            "char_start": s.char_start,
            "char_end": s.char_end,
            "reading_order": s.reading_order,
            "confidence": s.confidence,
        }
        for s in result.spans
    ]
    line_spans = [
        {
            "line_id": ls.line_id,
            "parent_span_id": ls.parent_span_id,
            "char_start": ls.char_start,
            "char_end": ls.char_end,
            "line_order": ls.line_order,
        }
        for ls in result.line_spans
    ]
    mean_conf = (
        round(sum(s.confidence for s in result.spans) / len(result.spans), 6)
        if result.spans else None
    )
    return {
        "url": url,
        "extracted_text": result.text,
        "spans": spans,
        "line_spans": line_spans,
        "n_spans": len(spans),
        "mean_confidence": mean_conf,
        "content_kind": kind,
        "error": error,
        "n_bytes_in": n_bytes,
        "parse_us": parse_us,
    }


def _extract_batch(urls: list, payloads: list, cfg: ExtractConfig,
                   pid: int, run_id: str) -> pa.RecordBatch:
    """Columnar batch assembly: one pass over the documents filling flat
    column accumulators; spans/line_spans become Arrow List(Struct) via
    offsets + flattened child arrays — no per-row dicts, no per-span
    dicts, no pandas."""
    import pyarrow as pa

    span_type, line_span_type, _ = _arrow_types()
    n = len(urls)
    texts: list[str] = []
    n_spans: list[int] = []
    mean_conf: list[float | None] = []
    kinds: list[str] = []
    errors: list[str | None] = []
    n_bytes: list[int] = []
    parse_us: list[int] = []
    # flattened span children + list offsets
    s_id: list[str] = []; s_cls: list[str] = []; s_typ: list[str] = []
    s_cs: list[int] = []; s_ce: list[int] = []
    s_ro: list[int] = []; s_cf: list[float] = []
    s_off: list[int] = [0]
    l_id: list[str] = []; l_pid: list[str] = []
    l_cs: list[int] = []; l_ce: list[int] = []; l_lo: list[int] = []
    l_off: list[int] = [0]

    for url, payload in zip(urls, payloads):
        kind, result, error, us, nb = _extract_one(url, payload, cfg)
        spans = result.spans
        texts.append(result.text)
        n_spans.append(len(spans))
        kinds.append(kind)
        errors.append(error)
        n_bytes.append(nb)
        parse_us.append(us)
        conf_sum = 0.0
        for s in spans:
            s_id.append(s.span_id)
            s_cls.append(s.region_class)
            s_typ.append(s.region_type)
            s_cs.append(s.char_start)
            s_ce.append(s.char_end)
            s_ro.append(s.reading_order)
            s_cf.append(s.confidence)
            conf_sum += s.confidence
        s_off.append(len(s_id))
        mean_conf.append(round(conf_sum / len(spans), 6) if spans else None)
        for ls in result.line_spans:
            l_id.append(ls.line_id)
            l_pid.append(ls.parent_span_id)
            l_cs.append(ls.char_start)
            l_ce.append(ls.char_end)
            l_lo.append(ls.line_order)
        l_off.append(len(l_id))

    span_struct = pa.StructArray.from_arrays(
        [pa.array(s_id, pa.string()), pa.array(s_cls, pa.string()),
         pa.array(s_typ, pa.string()), pa.array(s_cs, pa.int64()),
         pa.array(s_ce, pa.int64()), pa.array(s_ro, pa.int32()),
         pa.array(s_cf, pa.float64())],
        fields=list(span_type.value_type))
    line_struct = pa.StructArray.from_arrays(
        [pa.array(l_id, pa.string()), pa.array(l_pid, pa.string()),
         pa.array(l_cs, pa.int64()), pa.array(l_ce, pa.int64()),
         pa.array(l_lo, pa.int32())],
        fields=list(line_span_type.value_type))
    return pa.record_batch({
        "url": pa.array(urls, pa.string()),
        "extracted_text": pa.array(texts, pa.string()),
        "spans": pa.ListArray.from_arrays(
            pa.array(s_off, pa.int32()), span_struct),
        "line_spans": pa.ListArray.from_arrays(
            pa.array(l_off, pa.int32()), line_struct),
        "n_spans": pa.array(n_spans, pa.int32()),
        "mean_confidence": pa.array(mean_conf, pa.float64()),
        "content_kind": pa.array(kinds, pa.string()),
        "error": pa.array(errors, pa.string()),
        "n_bytes_in": pa.array(n_bytes, pa.int64()),
        "parse_us": pa.array(parse_us, pa.int64()),
        "partition_id": pa.array([pid] * n, pa.int32()),
        "run_id": pa.array([run_id] * n, pa.string()),
    })


def block_score_rows(url: str, payload: bytes | None,
                     cfg: ExtractConfig = DEFAULT_CONFIG) -> list[dict]:
    """Per-block feature/score rows — the S8 debug-sink analog (the
    reference's optional per-pixel score output,
    ``page_xml/output_page_xml.py:156-189``): every block the classifier
    saw, with the features it scored on and the decision, INCLUDING
    dropped boilerplate. Pure; never raises; non-HTML payloads yield
    no rows (the classifier has no block view of PDFs)."""
    try:
        if not payload or is_pdf(payload):
            return []
        if len(payload) > cfg.max_html_bytes:
            payload = payload[: cfg.max_html_bytes]
        rows = []
        for i, block in enumerate(tokenize_blocks(decode_payload(payload))):
            cls, conf = classify_block(block, cfg)
            rows.append({
                "url": url,
                "block_order": i,
                "tag": block.tag,
                "marginal": block.marginal,
                "n_chars": len(block.text()),
                "link_density": round(block.link_density(), 6),
                "region_class": cls,
                "confidence": conf,
                "kept": cls != "background",
            })
        return rows
    except Exception:  # pragma: no cover - tokenizer/classifier are total
        return []


def drops_zip_finders(batch_fn):
    """Wrap a ``mapInArrow``/``mapInPandas`` batch function so that, when
    its iterator ends or is closed, every ``zipimport.zipimporter`` is
    removed from ``sys.path_importer_cache``.

    Python workers are reused, and pyspark calls
    ``importlib.invalidate_caches()`` before every task. On Python
    3.10-3.12 that makes each cached zipimporter re-read its whole archive
    directory (``pyspark.zip``, the spark-core jar, py4j, the shipped
    package zip): about 0.2 s per task. With no zip finder cached the call
    costs nothing. A later import gets a fresh finder from the path hook,
    filled from ``zipimport._zip_directory_cache`` without a re-read; the
    archives do not change while a worker runs (shipped pyfiles are
    content-addressed).
    """

    @functools.wraps(batch_fn)
    def run(batches):
        try:
            yield from batch_fn(batches)
        finally:
            cache = sys.path_importer_cache
            for path, finder in list(cache.items()):
                if isinstance(finder, zipimport.zipimporter):
                    del cache[path]

    return run


def make_block_score_batches(cfg: ExtractConfig):
    """``mapInArrow`` function for the per-block debug sink: one output
    row per (url, block), matching ``BLOCK_SCORES_SCHEMA``."""

    @drops_zip_finders
    def score_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa

        schema = _arrow_types()[2]
        for batch in batches:
            urls = batch.column("url").to_pylist()
            payloads = batch.column("html").to_pylist()
            rows: list[dict] = []
            for u, p in zip(urls, payloads):
                rows.extend(block_score_rows(u, p, cfg))
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return score_batches


def make_extract_batches(cfg: ExtractConfig, run_id: str,
                         passthrough: tuple[str, ...] = ()):
    """Build the ``mapInArrow`` function: Iterator[RecordBatch] →
    Iterator[RecordBatch].

    The closure carries only the frozen config + run id (the broadcast-
    variable analog of the reference's checkpoint load, S12). Requires
    columns ``url`` and ``html`` in the input batches; emits
    ``EXTRACTED_SCHEMA`` rows. ``passthrough`` columns are copied from the
    input batch to the output 1:1 (zero-copy Arrow column reuse) — used by
    the streaming path to keep ``warc_ts`` without a stream-stream join.
    The function drops the worker's cached zip import finders when it
    ends, so the next task's import-cache reset does not re-read
    ``pyspark.zip`` and the spark-core jar (see ``drops_zip_finders``).
    """

    @drops_zip_finders
    def extract_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for batch in batches:
            urls = batch.column("url").to_pylist()
            payloads = batch.column("html").to_pylist()
            out = _extract_batch(urls, payloads, cfg, pid, run_id)
            for name in passthrough:
                out = out.append_column(name, batch.column(name))
            yield out

    return extract_batches
