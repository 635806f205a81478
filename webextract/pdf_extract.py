"""Minimal deterministic PDF text-object parser — the PDF branch of the
north star ("PDF layout parsing into region classes").

Scope: content streams with ``BT … ET`` text objects using ``Tf`` (font
select), ``Tj``/``'``/``TJ`` (show text), ``Td``/``TD``/``T*`` (line
moves). Streams are located by scanning ``stream…endstream`` directly (no
xref walk — tolerates linearized / xref-damaged files), and the declared
``/Filter`` chain is applied in order: ``/FlateDecode`` (stdlib zlib),
``/LZWDecode`` (TIFF-flavor MSB-first LZW), ``/ASCIIHexDecode`` /
``/ASCII85Decode`` (stdlib), ``/RunLengthDecode`` — so real-world
compressed PDFs extract whatever their transport encoding. Image-data
filters (``/DCTDecode`` etc.) carry no text and skip the scan; their
JPEG payloads are surfaced by :func:`pdf_images` for the media pipeline.
A stream that fails to decode is skipped, mirroring the reference's
skip-on-corrupt contract at ``inference.py:344-346``.

Layout mapping: each ``BT … ET`` text object is one block; blocks written
with a font size ≥ ``_HEADER_MIN_PT`` classify as ``header``, else
``paragraph`` — the PDF analog of the reference's region classes. Span
assembly (run-length merge, min-size filter, reading order, deterministic
ids) is shared with the HTML branch via
:func:`webextract.html_extract.assemble_spans`.
"""

from __future__ import annotations

import binascii
import re
import zlib

from .config import ExtractConfig, DEFAULT_CONFIG
from .html_extract import ExtractResult, _normalize_ws, assemble_spans

_HEADER_MIN_PT = 14.0

# decoded-stream output cap: crawled PDFs are untrusted, and Flate/LZW can
# expand ~1000x — bound what one stream may inflate to so a crafted bomb
# can't blow executor memory
_MAX_STREAM_BYTES = 1 << 26  # 64 MiB

_STREAM_START_RE = re.compile(rb"stream\r?\n")
# negative lookaheads: an INDIRECT length (/Length 5 0 R) must not match —
# capturing its object number as a byte count could silently mis-truncate
# a body when an 'endstream' happens to land near start+objnum. (?!\d)
# pins \d+ to the whole number so backtracking can't split '28' into '2'
# + '8 0 R' and sneak past the R-reference lookahead
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# tokens inside a text object we care about, in order
_TOK_RE = re.compile(
    rb"""
    \( ( (?:[^()\\]|\\.)* ) \)\s*(Tj|')   # (string) Tj  or  (string) '
  | \[ ( (?:[^\]\\]|\\.)* ) \]\s*TJ       # [(a) -120 (b)] TJ
  | (T\*|Td|TD)                           # line moves
  | /\S+\s+(\d+(?:\.\d+)?)\s+Tf           # font size
    """,
    re.VERBOSE | re.DOTALL,
)
_TJ_STR_RE = re.compile(rb"\( ( (?:[^()\\]|\\.)* ) \)", re.VERBOSE | re.DOTALL)

_ESC = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _unescape_pdf_string(raw: bytes) -> str:
    """PDF literal-string unescape: \\(, \\), \\\\, \\n..., octal \\ddd."""
    if b"\\" not in raw:  # fast path: nothing to unescape
        return raw.decode("latin-1")
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        b = raw[i:i + 1]
        if b == b"\\" and i + 1 < n:
            nxt = raw[i + 1:i + 2]
            if nxt in _ESC:
                out.append(_ESC[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal, up to 3 digits
                j = i + 1
                while j < min(i + 4, n) and raw[j:j + 1].isdigit():
                    j += 1
                out.append(chr(int(raw[i + 1:j], 8) & 0xFF))
                i = j
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out.append(b.decode("latin-1"))
        i += 1
    return "".join(out)


def _parse_text_object(body: bytes, cur_size: float) -> tuple[str, float, float]:
    """One BT…ET body → (normalized text, font size used, new cur_size)."""
    pieces: list[str] = []
    size = cur_size
    first_size: float | None = None
    for m in _TOK_RE.finditer(body):
        if m.group(1) is not None:  # (string) Tj / '
            if first_size is None:
                first_size = size
            if m.group(2) == b"'":
                pieces.append(" ")
            pieces.append(_unescape_pdf_string(m.group(1)))
        elif m.group(3) is not None:  # TJ array
            if first_size is None:
                first_size = size
            for sm in _TJ_STR_RE.finditer(m.group(3)):
                pieces.append(_unescape_pdf_string(sm.group(1)))
        elif m.group(4) is not None:  # Td/TD/T* — line move
            pieces.append(" ")
        elif m.group(5) is not None:  # Tf
            size = float(m.group(5))
    text = _normalize_ws("".join(pieces))
    return text, (first_size if first_size is not None else size), size


def is_pdf(payload: bytes) -> bool:
    return payload.lstrip()[:5] == b"%PDF-"


def _iter_streams(payload: bytes):
    """Yield ``(dict_head, body)`` per ``stream…endstream`` object.

    The body boundary honors the dict's ``/Length`` when it is a direct
    integer that lands on an ``endstream`` keyword (binary Flate bodies
    may legally contain the bytes ``endstream``, so a bare text scan can
    truncate them); otherwise falls back to the first ``endstream`` scan,
    which tolerates xref-less / indirect-Length / linearized layouts.
    """
    pos = prev_end = 0
    while True:
        m = _STREAM_START_RE.search(payload, pos)
        if m is None:
            return
        head = payload[prev_end:m.start()]
        start = m.end()
        end = -1
        lm = None
        for lm in _LENGTH_RE.finditer(head):
            pass  # last /Length in this object's dict wins
        if lm is not None:
            ln = int(lm.group(1))
            cand = payload.find(b"endstream", start + ln)
            if 0 <= cand <= start + ln + 4:  # allow EOL pad before keyword
                end = start + ln
                nxt = cand + len(b"endstream")
        if end < 0:
            cand = payload.find(b"endstream", start)
            if cand < 0:
                return
            end = cand
            nxt = cand + len(b"endstream")
        yield head, payload[start:end]
        pos = prev_end = nxt


def _inflate(body: bytes) -> bytes | None:
    """Inflate one /FlateDecode stream body; ``None`` on corrupt data.

    ``decompressobj`` (not ``zlib.decompress``) so trailing bytes between
    the deflate stream and ``endstream`` (writers pad with EOLs) are
    ignored, and a truncated-but-started stream still yields its prefix.
    Output is capped at ``_MAX_STREAM_BYTES`` (bomb guard): a stream that
    would exceed the cap yields its prefix, which is still scanned for
    text objects.
    """
    d = zlib.decompressobj()
    try:
        out = d.decompress(body, _MAX_STREAM_BYTES)
    except zlib.error:
        return None
    return out if (out or d.eof) else None


def _ascii_hex(body: bytes) -> bytes | None:
    """/ASCIIHexDecode: hex pairs up to the ``>`` EOD marker; whitespace
    ignored; an odd trailing digit is padded with 0 (PDF 32000-1 §7.4.2)."""
    eod = body.find(b">")
    if eod >= 0:
        body = body[:eod]
    digits = re.sub(rb"\s+", b"", body)
    if len(digits) & 1:
        digits += b"0"
    try:
        return binascii.unhexlify(digits)
    except binascii.Error:
        return None


def _ascii85(body: bytes) -> bytes | None:
    """/ASCII85Decode: base-85 groups up to the ``~>`` EOD marker, with
    the ``z`` zero-group shortcut (stdlib a85decode; PDF 32000-1 §7.4.3)."""
    import base64

    eod = body.find(b"~>")
    if eod >= 0:
        body = body[:eod]
    try:
        return base64.a85decode(body, ignorechars=b" \t\n\r\v\f")
    except ValueError:
        return None


def _run_length(body: bytes) -> bytes | None:
    """/RunLengthDecode: length byte L —  0..127 copies the next L+1
    literal bytes, 129..255 repeats the next byte 257-L times, 128 is
    EOD (PDF 32000-1 §7.4.5)."""
    out, i, n = bytearray(), 0, len(body)
    while i < n:
        ln = body[i]
        if ln == 128:
            break
        if ln < 128:
            chunk = body[i + 1:i + 2 + ln]
            if len(chunk) != ln + 1:
                return None  # truncated literal run
            out += chunk
            i += 2 + ln
        else:
            if i + 1 >= n:
                return None
            out += body[i + 1:i + 2] * (257 - ln)
            i += 2
        if len(out) > _MAX_STREAM_BYTES:
            return bytes(out[:_MAX_STREAM_BYTES])
    return bytes(out)


def _lzw(body: bytes, early: int = 1) -> bytes | None:
    """/LZWDecode (PDF 32000-1 §7.4.4, the TIFF flavor): MSB-first bit
    packing, 9-bit initial width, Clear=256, EOD=257, code width grows at
    table sizes 511/1023/2047 under ``early=1`` (the /EarlyChange default:
    the width bumps one code early) or 512/1024/2048 under ``early=0``
    (a stream declaring ``/DecodeParms <</EarlyChange 0>>``). Distinct
    from the GIF flavor in functions/multimodal.py, which packs LSB-first
    with a variable minimum code size."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, None
    acc = nbits = 0
    for byte in body:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # Clear: reset table and width
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if code < len(table) and (code < 256 or table[code]):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # KwKwK case
            else:
                return None  # corrupt code
            out += entry
            if len(out) > _MAX_STREAM_BYTES:
                return bytes(out[:_MAX_STREAM_BYTES])
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # EarlyChange=1: width bumps one code EARLY (at 511/1023/2047).
            # The decoder's table is one entry BEHIND the encoder's (its
            # append for a code happens on the NEXT read), hence +2: bump
            # when the encoder's next assignment would hit 1<<width - 1.
            # EarlyChange=0 bumps one code later (512/1024/2048): +1.
            if len(table) + 1 + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)  # no explicit EOD: tolerate, yield what decoded


# image-data filters: their output is pixel/glyph data, never a content
# stream, so the text scan skips them. Embedded DCT (JPEG) payloads are
# surfaced separately via pdf_images() for the media pipeline.
_IMAGE_FILTERS = {b"DCTDecode", b"DCT", b"JPXDecode", b"CCITTFaxDecode",
                  b"CCF", b"JBIG2Decode"}

# filter name (canonical + the inline-image abbreviation) -> decoder
_DECODERS = {
    b"FlateDecode": _inflate, b"Fl": _inflate,
    b"ASCIIHexDecode": _ascii_hex, b"AHx": _ascii_hex,
    b"ASCII85Decode": _ascii85, b"A85": _ascii85,
    b"RunLengthDecode": _run_length, b"RL": _run_length,
    b"LZWDecode": _lzw, b"LZW": _lzw,
}

_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_EARLYCHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")


def _filter_chain(head: bytes) -> list[bytes]:
    """Filter names declared in the stream dict, in application order.
    ``/Filter`` may be a single name or an array (a chain); the last
    ``/Filter`` key in the dict wins, matching the /Length convention."""
    m = None
    for m in _FILTER_RE.finditer(head):
        pass
    if m is None:
        return []
    return _NAME_RE.findall(m.group(1))


def _decode_stream(head: bytes, body: bytes) -> bytes | None:
    """Apply the declared filter chain to one stream body.

    Returns the decoded bytes, or ``None`` when the stream is image data,
    uses an unsupported filter, declares a PNG/TIFF ``/Predictor`` (only
    meaningful for image rasters), or is corrupt — the caller skips it and
    keeps the rest of the document (the reference's skip-on-corrupt
    contract at ``inference.py:344-346``)."""
    chain = _filter_chain(head)
    if not chain:
        return body
    pm = _PREDICTOR_RE.search(head)
    if pm is not None and int(pm.group(1)) > 1:
        return None
    # /DecodeParms <</EarlyChange 0>> changes the LZW width schedule;
    # honored by parametrizing the decoder (1 is the spec default)
    em = _EARLYCHANGE_RE.search(head)
    early = int(em.group(1)) if em is not None else 1
    if early not in (0, 1):
        return None  # out-of-spec value: skip rather than mis-decode
    for name in chain:
        if name in _IMAGE_FILTERS:
            return None
        dec = _DECODERS.get(name)
        if dec is None:
            return None  # /Crypt or unknown: skip, keep the rest
        body = dec(body, early) if dec is _lzw else dec(body)
        if body is None:
            return None
    return body


def pdf_images(payload: bytes) -> list[bytes]:
    """Embedded DCT (JPEG) image payloads, transport filters removed.

    The crawl-pipeline shape: PDFs carry their photos as ``/DCTDecode``
    XObject streams whose bytes ARE a JPEG file, optionally wrapped in an
    ASCII transport filter — peel the wrapper and hand the JPEG to the
    media path (``functions.multimodal.media_features``, which reads its
    SOF header; pixels go through ``media_transform``'s ``decoder=``).
    Non-DCT image streams (raw, CCITT, JPX) are out of scope here;
    corrupt wrappers are skipped."""
    out: list[bytes] = []
    for head, body in _iter_streams(payload):
        chain = _filter_chain(head)
        for i, name in enumerate(chain):
            if name in (b"DCTDecode", b"DCT"):
                for pre in chain[:i]:  # peel transport filters
                    dec = _DECODERS.get(pre)
                    body = dec(body) if dec is not None else None
                    if body is None:
                        break
                if body is not None and body[:2] == b"\xff\xd8":
                    out.append(body)
                break
    return out


def extract_pdf(url: str, payload: bytes,
                cfg: ExtractConfig = DEFAULT_CONFIG) -> ExtractResult:
    """PDF bytes → extracted text + typed spans (header/paragraph)."""
    if payload and len(payload) > cfg.max_html_bytes:
        payload = payload[: cfg.max_html_bytes]
    kept: list[tuple[str, float, str]] = []
    cur_size = 11.0
    for head, body in _iter_streams(payload):
        body = _decode_stream(head, body)
        if body is None:
            continue  # image / unsupported / corrupt: skip, keep the rest
        for tm in _BT_ET_RE.finditer(body):
            text, used_size, cur_size = _parse_text_object(tm.group(1), cur_size)
            if len(text) < cfg.min_region_size:
                continue  # P6 min-size filter, shared with HTML branch
            cls = "header" if used_size >= _HEADER_MIN_PT else "paragraph"
            cls = cfg.merge_aliases.get(cls, cls)
            kept.append((cls, 1.0, text))
    return assemble_spans(url, kept, cfg)
