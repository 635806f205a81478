"""WARC ingestion source: raw Common-Crawl-style archive files → the
engine's pages table (url, warc_ts, html bytes).

This closes the front of the pipeline: production corpora arrive as
WARC (ISO 28500) — per-record gzip members concatenated into ~1 GiB
files, 10^4–10^5 files per crawl — and everything downstream here
(extraction, dedup, curation) consumes the pages table this module
emits. The reference's analog is its filesystem image loader
(``utils/input_utils.py``, ``data/dataset.py:72-73``); the web-native
equivalent of "a directory of images" is "a directory of WARCs".

Plan shape: one Spark task per WARC file via the ``binaryFile`` source
(Common Crawl's file count gives ample parallelism at 10^4+ files per
crawl; individual files are never split — gzip members are not seekable
without an index), record parsing inside ``mapInPandas`` so bytes flow
through Arrow once. Per-file decompression is BOUNDED (``max_bytes``)
before any allocation growth: a crafted 1000:1 deflate bomb cannot
balloon an executor (same stance as the PDF stream cap).

Scope: WARC/1.0 and 1.1; ``response`` records carrying HTTP payloads
(status line + headers stripped, body kept raw for the pipeline's own
charset decoding) and ``conversion`` records (WET-style, body kept
verbatim); ``request``/``metadata``/``warcinfo`` records are skipped.
Both plain and member-gzipped files are handled (magic-sniffed).
"""

from __future__ import annotations

import datetime as dt
import io
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from .extract import drops_zip_finders

WARC_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("warc_ts", TimestampType(), True),
    StructField("warc_type", StringType(), True),
    StructField("content_type", StringType(), True),  # from HTTP headers
    StructField("html", BinaryType(), True),          # raw body bytes
    StructField("source_file", StringType(), True),
])


def _gunzip_bounded(data: bytes, max_bytes: int) -> bytes:
    """Inflate a (possibly multi-member) gzip stream with a hard output
    cap — member-gzipped WARCs are plain concatenated members, which
    ``zlib.decompressobj`` walks via ``unused_data``."""
    out = io.BytesIO()
    total = 0
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(rest, max_bytes - total + 1)
        except zlib.error as exc:   # corrupt member → total error value
            raise ValueError(f"corrupt WARC gzip member: {exc}") from exc
        total += len(chunk)
        if total > max_bytes:
            raise ValueError("WARC gzip stream exceeds max_bytes cap")
        out.write(chunk)
        if not d.eof:   # truncated member
            break
        rest = d.unused_data
    return out.getvalue()


def _parse_warc_date(value: str) -> dt.datetime | None:
    """WARC-Date → tz-AWARE UTC datetime: non-Z offsets are converted
    (not dropped), and the tzinfo survives into the Arrow batch so the
    stored instant is machine-independent (a naive datetime would be
    re-interpreted in whatever spark.sql.session.timeZone the ingesting
    cluster happens to run)."""
    try:
        parsed = dt.datetime.strptime(value.strip(), "%Y-%m-%dT%H:%M:%SZ")
        return parsed.replace(tzinfo=dt.timezone.utc)
    except ValueError:
        try:
            parsed = dt.datetime.fromisoformat(
                value.strip().replace("Z", "+00:00"))
        except ValueError:
            return None
        if parsed.tzinfo is None:
            return parsed.replace(tzinfo=dt.timezone.utc)
        return parsed.astimezone(dt.timezone.utc)


def _split_http_body(content: bytes) -> tuple[bytes, str | None]:
    """Strip the HTTP status line + headers from a response record's
    content; returns (body, content-type header value or None)."""
    sep = content.find(b"\r\n\r\n")
    if sep < 0 or content[:5] != b"HTTP/":
        return content, None   # not framed as HTTP: keep verbatim
    headers = content[:sep].decode("latin-1", "replace")
    ctype = None
    for line in headers.split("\r\n")[1:]:
        name, _, val = line.partition(":")
        if name.strip().lower() == "content-type":
            ctype = val.strip()
            break
    return content[sep + 4:], ctype


DEFAULT_RECORD_TYPES = ("response", "conversion")


def parse_warc_records(data: bytes, source_file: str = "",
                       max_bytes: int = 1 << 30,
                       record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
                       ) -> list[dict]:
    """Walk one WARC file's bytes → list of WARC_SCHEMA row dicts.
    Structural damage stops the walk at the last good record (a
    truncated tail loses only that tail, never earlier records).

    ``record_types`` selects which WARC-Type values are emitted
    (default response + conversion — the payload-bearing kinds);
    pass e.g. ``("response", "metadata")`` to ingest Common-Crawl WAT
    sidecars for URL-graph work."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_bounded(data, max_bytes)
    rows: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            break
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        lines = data[pos:hdr_end].decode("latin-1", "replace").split("\r\n")
        for line in lines[1:]:
            name, _, val = line.partition(":")
            headers[name.strip().lower()] = val.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        if length < 0:
            # a negative Content-Length would move pos BACKWARD
            # (body_start + length < body_start) and re-parse the same
            # record forever — totality requires pos to strictly
            # advance, so a malformed length ends the walk here
            break
        body_start = hdr_end + 4
        if body_start + length > n:
            break   # truncated record
        content = data[body_start:body_start + length]
        pos = body_start + length
        rtype = headers.get("warc-type", "")
        if rtype not in record_types:
            continue   # not opted in (default: response + conversion)
        if rtype == "response":
            body, ctype = _split_http_body(content)
        else:
            # conversion (WET) bodies are verbatim; request records keep
            # their HTTP request framing (callers ingesting WAT-style
            # sidecars want the raw record); metadata/warcinfo likewise
            body, ctype = content, headers.get("content-type")
        rows.append({
            "url": headers.get("warc-target-uri"),
            "warc_ts": _parse_warc_date(headers.get("warc-date", "")),
            "warc_type": rtype,
            "content_type": ctype,
            "html": body,
            "source_file": source_file,
        })
    return rows


def _make_parse_batches(max_bytes: int,
                        record_types: tuple[str, ...]):
    """The (path, content) → WARC_SCHEMA mapInPandas function, shared
    verbatim by the batch and streaming sources — same totality
    contract, same rows, either execution mode."""
    rtypes = tuple(record_types)

    @drops_zip_finders
    def parse_batches(batches):
        for batch in batches:
            rows: list[dict] = []
            for fpath, content in zip(batch["path"], batch["content"]):
                try:
                    rows.extend(parse_warc_records(
                        bytes(content), source_file=fpath,
                        max_bytes=max_bytes, record_types=rtypes))
                except Exception as exc:
                    # one corrupt/bomb file must never kill the task:
                    # surface it as a countable marker row (url NULL →
                    # read_warc_pages drops it; audits can group on
                    # warc_type = 'error')
                    rows.append({
                        "url": None, "warc_ts": None,
                        "warc_type": "error",
                        "content_type": f"{type(exc).__name__}: {exc}",
                        "html": None, "source_file": fpath,
                    })
            pdf = pd.DataFrame.from_records(
                rows, columns=[f.name for f in WARC_SCHEMA.fields])
            # tz-aware UTC series: Arrow carries the instant, so the
            # stored epoch is independent of the session timezone
            pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
            yield pdf

    return parse_batches


def read_warc(spark: SparkSession, path: str,
              max_bytes: int = 1 << 30,
              record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
              ) -> DataFrame:
    """Directory/glob of WARC files → DataFrame(WARC_SCHEMA).

    One task per file (``binaryFile`` never splits); parsing runs in
    ``mapInPandas`` so record bytes cross into the JVM once, as Arrow
    batches. ``max_bytes`` caps per-file decompression (bomb guard).
    ``record_types`` opts into non-default WARC-Type kinds (e.g.
    ``("metadata",)`` for WAT sidecars).
    """
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(
        _make_parse_batches(max_bytes, record_types), WARC_SCHEMA)


# the binaryFile source's fixed schema — readStream requires it declared
# (batch reads infer it; streaming sources must not infer)
_BINARY_FILE_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("modificationTime", TimestampType(), False),
    StructField("length", LongType(), False),
    StructField("content", BinaryType(), True),
])


def read_warc_stream(spark: SparkSession, path: str,
                     max_bytes: int = 1 << 30,
                     record_types: tuple[str, ...] = DEFAULT_RECORD_TYPES,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming WARC source: crawl segments LANDING in a directory →
    an unbounded DataFrame(WARC_SCHEMA) — the production Common-Crawl
    shape (a fetcher drops ``*.warc.gz`` segment files; extraction runs
    continuously behind it). Same parser, same per-file totality and
    bomb guard as :func:`read_warc`; exactly-once per segment file via
    the streaming checkpoint; ``max_files_per_trigger`` bounds
    micro-batch size so one trigger never bites off more segments than
    the cluster chews between checkpoints."""
    reader = spark.readStream.format("binaryFile") \
        .schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(
        _make_parse_batches(max_bytes, record_types), WARC_SCHEMA)


def read_warc_pages(spark: SparkSession, path: str,
                    max_bytes: int = 1 << 30) -> DataFrame:
    """WARC files → the pipeline's pages contract (url, warc_ts, html):
    response + conversion records with a target URI, ready for
    ``pipeline.run_extraction`` / ``extract_dataframe``."""
    from pyspark.sql import functions as F

    return (read_warc(spark, path, max_bytes=max_bytes)
            .filter(F.col("url").isNotNull())
            .select("url", "warc_ts", "html"))
