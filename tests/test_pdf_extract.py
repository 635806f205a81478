"""PDF branch tests (north star: "PDF layout parsing into region classes")."""

from __future__ import annotations

from webextract.config import ExtractConfig
from webextract.fixtures import make_pdf
from webextract.pdf_extract import extract_pdf, is_pdf, _unescape_pdf_string


def test_is_pdf_sniff():
    assert is_pdf(b"%PDF-1.4\n...")
    assert is_pdf(b"  \n%PDF-1.7")
    assert not is_pdf(b"<html>")
    assert not is_pdf(b"")


def test_pdf_golden():
    pdf = make_pdf("A Title Here", ["first paragraph text", "second one here"])
    r = extract_pdf("u", pdf)
    assert r.text == "A Title Here\nfirst paragraph text\nsecond one here"
    assert [(s.region_class, s.reading_order) for s in r.spans] == [
        ("header", 0), ("paragraph", 1)]


def test_pdf_tj_array_and_escapes():
    stream = (b"BT /F1 11 Tf 0 0 Td [(Hel) -20 (lo \\(quoted\\))] TJ ET\n"
              b"BT /F1 16 Tf 0 0 Td (Octal \\101 ok) Tj ET")
    pdf = (b"%PDF-1.4\nstream\n" + stream + b"\nendstream\n")
    r = extract_pdf("u", pdf)
    assert r.text == "Hello (quoted)\nOctal A ok"
    assert [s.region_class for s in r.spans] == ["paragraph", "header"]


def test_pdf_min_size_filter():
    pdf = (b"%PDF-1.4\nstream\nBT /F1 11 Tf 0 0 Td (ab) Tj ET\n"
           b"BT (long enough text) Tj ET\nendstream\n")
    r = extract_pdf("u", pdf)
    assert r.text == "long enough text"


def test_pdf_merge_alias():
    pdf = make_pdf("Title Text Here", ["body text here"])
    cfg = ExtractConfig(merge_aliases={"header": "paragraph"})
    r = extract_pdf("u", pdf, cfg)
    # header folded into paragraph -> single merged run (P4 + P11 compose)
    assert [s.region_class for s in r.spans] == ["paragraph"]
    assert len(r.spans) == 1


def test_pdf_corrupt_total():
    assert extract_pdf("u", b"%PDF-1.4 garbage \xff\x00").spans == ()


def test_pdf_flate_byte_identical_to_raw():
    # the crawl-real shape: same content, Flate-compressed — extraction
    # must be byte-identical to the uncompressed variant
    title, paras = "A Title Here", ["first paragraph text", "second one"]
    raw = extract_pdf("u", make_pdf(title, paras))
    comp = extract_pdf("u", make_pdf(title, paras, compress=True))
    assert comp.text == raw.text
    assert comp.spans == raw.spans


def test_pdf_flate_body_containing_endstream_bytes():
    # a deflate body may legally contain the bytes b"endstream"; the
    # /Length-honoring boundary must not truncate it
    import zlib

    import zlib

    stream = b"BT /F1 11 Tf 0 0 Td (text with endstream inside it) Tj ET"
    # stored (level-0) deflate blocks copy bytes verbatim, so the binary
    # body literally contains b"endstream" while being a valid zlib stream
    co = zlib.compressobj(0)
    body = co.compress(stream) + co.flush()
    assert b"endstream" in body
    pdf = (b"%PDF-1.4\n2 0 obj << /Length " + str(len(body)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + body
           + b"\nendstream\nendobj\n%%EOF\n")
    r = extract_pdf("u", pdf)
    assert r.text == "text with endstream inside it"


def test_pdf_flate_corrupt_stream_skipped_keeps_rest():
    import zlib

    good = zlib.compress(b"BT /F1 11 Tf 0 0 Td (good flate text) Tj ET", 6)
    pdf = (
        b"%PDF-1.4\n"
        b"2 0 obj << /Length 12 /Filter /FlateDecode >>\n"
        b"stream\nnot-deflate!\nendstream\nendobj\n"
        b"3 0 obj << /Length " + str(len(good)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + good
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    r = extract_pdf("u", pdf)
    assert r.text == "good flate text"


def test_pdf_length_mismatch_falls_back_to_scan():
    # indirect /Length (e.g. "5 0 R") or a wrong direct one: the scan
    # fallback still finds the uncompressed body
    pdf = (b"%PDF-1.4\n2 0 obj << /Length 99999 >>\nstream\n"
           b"BT /F1 11 Tf 0 0 Td (scan fallback text) Tj ET\n"
           b"endstream\nendobj\n%%EOF\n")
    assert extract_pdf("u", pdf).text == "scan fallback text"


def _pdf_stream_obj(body: bytes, filter_decl: bytes) -> bytes:
    return (b"%PDF-1.4\n2 0 obj << /Length " + str(len(body)).encode()
            + filter_decl + b" >>\nstream\n" + body
            + b"\nendstream\nendobj\n%%EOF\n")


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    # TIFF/PDF-flavor LZW: MSB-first packing, 9-bit start, Clear=256,
    # EOD=257; EarlyChange=1 bumps the width one code early (511/1023/
    # 2047), EarlyChange=0 at the table-full boundary (512/1024/2048)
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    emit(256)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code + early >= (1 << width) and width < 12:
            width += 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    # literal-only RunLength encoding (always valid, never shorter)
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


def test_pdf_filter_ascii_hex():
    import binascii

    stream = b"BT /F1 11 Tf 0 0 Td (ascii hex payload text) Tj ET"
    body = binascii.hexlify(stream)
    # whitespace inside, odd trailing digit via upper/lower mix, > EOD
    body = body[:10] + b"\n " + body[10:].upper() + b">"
    pdf = _pdf_stream_obj(body, b" /Filter /ASCIIHexDecode")
    assert extract_pdf("u", pdf).text == "ascii hex payload text"


def test_pdf_filter_ascii85():
    import base64

    stream = b"BT /F1 11 Tf 0 0 Td (ascii eighty five text) Tj ET"
    body = base64.a85encode(stream) + b"~>"
    pdf = _pdf_stream_obj(body, b" /Filter /ASCII85Decode")
    assert extract_pdf("u", pdf).text == "ascii eighty five text"


def test_pdf_filter_lzw_roundtrip():
    from webextract.pdf_extract import _lzw

    # exercise width growth past 9/10 bits and the KwKwK case
    data = (b"BT /F1 11 Tf 0 0 Td (lzw compressed stream text) Tj ET "
            * 40) + b"aaaaaaa"
    assert _lzw(_lzw_encode(data)) == data
    pdf = _pdf_stream_obj(
        _lzw_encode(b"BT /F1 11 Tf 0 0 Td (lzw text here) Tj ET"),
        b" /Filter /LZWDecode")
    assert extract_pdf("u", pdf).text == "lzw text here"
    # corrupt stream (out-of-range code) skips, stays total
    assert _lzw(b"\xff\xff\xff\xff") is None


def test_pdf_filter_lzw_early_change_zero():
    from webextract.pdf_extract import _lzw

    # long enough to cross the 9->10 bit boundary, where the two width
    # schedules diverge: an EarlyChange=0 stream decoded with the
    # default schedule mis-reads every code past 510
    data = (b"BT /F1 11 Tf 0 0 Td (early change zero stream) Tj ET "
            * 40) + b"zzzzzzz"
    body = _lzw_encode(data, early=0)
    assert _lzw(body, early=0) == data
    assert _lzw(body) != data  # default schedule must NOT silently match
    pdf = _pdf_stream_obj(
        _lzw_encode(b"BT /F1 11 Tf 0 0 Td (early zero text) Tj ET "
                    * 40, early=0),
        b" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>")
    assert extract_pdf("u", pdf).text == "\n".join(
        ["early zero text"] * 40)
    # out-of-spec EarlyChange value: skip the stream, stay total
    pdf2 = _pdf_stream_obj(
        _lzw_encode(b"BT /F1 11 Tf 0 0 Td (never seen) Tj ET"),
        b" /Filter /LZWDecode /DecodeParms << /EarlyChange 2 >>")
    assert extract_pdf("u", pdf2).text == ""


def test_pdf_filter_run_length():
    stream = b"BT /F1 11 Tf 0 0 Td (run length text) Tj ET"
    pdf = _pdf_stream_obj(_rle_encode(stream),
                          b" /Filter /RunLengthDecode")
    assert extract_pdf("u", pdf).text == "run length text"
    from webextract.pdf_extract import _run_length

    # repeat runs + truncated literal totality
    assert _run_length(b"\xfex\x00y\x80") == b"xxxy"  # 257-254=3 repeats
    assert _run_length(b"\x05ab") is None


def test_pdf_filter_chain_ascii85_flate():
    # the canonical chain: ASCII transport wrapping Flate compression —
    # /Filter [/ASCII85Decode /FlateDecode] applies left to right
    import base64
    import zlib

    stream = b"BT /F1 11 Tf 0 0 Td (chained filters text) Tj ET"
    body = base64.a85encode(zlib.compress(stream, 6)) + b"~>"
    pdf = _pdf_stream_obj(
        body, b" /Filter [/ASCII85Decode /FlateDecode]")
    assert extract_pdf("u", pdf).text == "chained filters text"


def test_pdf_unsupported_filter_and_predictor_skip_keep_rest():
    import zlib

    bad1 = _pdf_stream_obj(b"\x00" * 8, b" /Filter /Crypt")
    good = zlib.compress(b"BT /F1 11 Tf 0 0 Td (survivor text) Tj ET", 6)
    bad2 = _pdf_stream_obj(
        good, b" /Filter /FlateDecode "
              b"/DecodeParms << /Predictor 12 /Columns 4 >>")
    ok = _pdf_stream_obj(good, b" /Filter /FlateDecode")
    pdf = (b"%PDF-1.4\n" + bad1[len(b"%PDF-1.4\n"):-6]
           + bad2[len(b"%PDF-1.4\n"):-6] + ok[len(b"%PDF-1.4\n"):])
    r = extract_pdf("u", pdf)
    assert r.text == "survivor text"


def test_pdf_images_extracts_embedded_jpeg():
    import base64

    from webextract.fixtures import make_jpeg_stub
    from webextract.pdf_extract import pdf_images

    jpg = make_jpeg_stub(8, 8, fill=b"embedded photo")
    direct = _pdf_stream_obj(jpg, b" /Subtype /Image /Filter /DCTDecode")
    assert pdf_images(direct) == [jpg]
    # DCT behind an ASCII85 transport wrapper: wrapper peeled
    wrapped = _pdf_stream_obj(
        base64.a85encode(jpg) + b"~>",
        b" /Filter [/ASCII85Decode /DCTDecode]")
    assert pdf_images(wrapped) == [jpg]
    # the image stream must not leak into the text scan
    assert extract_pdf("u", direct).text == ""
    # and the extracted bytes feed the media JPEG header parser
    from webextract.functions.multimodal import _jpeg_dims

    assert _jpeg_dims(pdf_images(direct)[0]) == (8, 8, None)


def test_pdf_flate_bomb_bounded():
    # a 64 KiB deflate stream expanding to ~1 GiB must cap at
    # _MAX_STREAM_BYTES and still extract its prefix, not OOM
    import zlib

    from webextract.pdf_extract import _MAX_STREAM_BYTES, _inflate

    bomb = zlib.compress(b"\x00" * (1 << 28), 9)  # 256 MiB of zeros
    out = _inflate(bomb)
    assert out is not None and len(out) == _MAX_STREAM_BYTES


def test_unescape():
    assert _unescape_pdf_string(rb"a\(b\)c\\d\n") == "a(b)c\\d\n"
    assert _unescape_pdf_string(rb"\101\102") == "AB"


# --- totality fuzz: the skip-on-corrupt contract means NO byte soup may
# raise — corrupt inputs degrade to fewer/empty spans, never exceptions
from hypothesis import given, settings, strategies as st  # noqa: E402

_pdfish = st.one_of(
    st.binary(max_size=400),
    st.builds(
        lambda head, body, ln: (b"%PDF-1.4\n" + head
                                + b" /Length " + str(ln).encode()
                                + b" /Filter /FlateDecode >>\nstream\n"
                                + body + b"\nendstream\n"),
        st.binary(max_size=40), st.binary(max_size=200),
        st.integers(min_value=0, max_value=10_000),
    ),
    st.builds(
        lambda parts: b"%PDF-1.4\n" + b"stream\n".join(parts),
        st.lists(st.binary(max_size=120), max_size=5),
    ),
)


@given(_pdfish)
@settings(max_examples=200, deadline=None)
def test_pdf_extract_total_on_byte_soup(payload):
    r = extract_pdf("u", b"%PDF-" + payload)
    assert isinstance(r.text, str)


def test_pdf_indirect_length_never_truncates_body():
    # /Length 28 0 R is an INDIRECT reference: its object number must not
    # be used as a byte count (ADVICE r4) — with the true endstream at
    # start+32, the old match truncated the body mid-operator to 28 bytes
    from webextract.pdf_extract import _LENGTH_RE

    assert _LENGTH_RE.search(b"/Length 28 0 R") is None
    assert _LENGTH_RE.search(b"/Length 28") is not None
    assert _LENGTH_RE.search(b"/Length 28 0 X") is not None

    body = b"BT (indirect length body) Tj ET"
    assert len(body) == 31
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length 28 0 R >>\nstream\n" + body
           + b"\nendstream\nendobj\n2 0 obj\n31\nendobj\n")
    r = extract_pdf("u://pdf", pdf)
    assert "indirect length body" in r.text


def test_pdf_media_table_totality_and_recovery(spark):
    # distributed doc->media bridge: transport wrappers peeled, JPEG
    # bytes recovered exactly; corrupt/null docs contribute zero rows
    from webextract.fixtures import (
        make_pdf_with_images, pdf_media_dataframe, pdf_media_spec,
    )
    from webextract.functions.multimodal import (
        media_features, pdf_media_table,
    )
    from webextract.pipeline import ship_package

    ship_package(spark)
    pdfs = pdf_media_dataframe(spark, 6).union(spark.createDataFrame(
        [(100, b"%PDF-1.4 garbage no streams"), (101, None)],
        "doc_id long, payload binary"))
    rows = pdf_media_table(pdfs).collect()
    expected = {(i * 64 + j): spec
                for i in range(6)
                for j, spec in enumerate(pdf_media_spec(i))}
    assert {r["media_id"] for r in rows} == set(expected)
    for r in rows:
        w, h, jpeg = expected[r["media_id"]]
        assert bytes(r["payload"]) == jpeg  # byte-exact through wrappers
    feats = media_features(pdf_media_table(pdfs), backend="real").collect()
    assert all(f["error"] is None for f in feats)
    assert {(f["media_id"], f["width"], f["height"]) for f in feats} \
        == {(m, w, h) for m, (w, h, _) in expected.items()}


def test_pdf_media_table_caps_image_count(spark):
    # bomb guard: a PDF with many embedded images yields at most the cap
    from webextract.functions.multimodal import pdf_media_table
    from webextract.fixtures import _pdf_stream_obj, make_jpeg_stub
    from webextract.pipeline import ship_package

    ship_package(spark)
    parts = [b"%PDF-1.4\n"]
    for k in range(10):
        parts.append(_pdf_stream_obj(
            k + 1, make_jpeg_stub(8, 8, str(k).encode()), [b"DCTDecode"]))
    pdf = b"".join(parts)
    out = pdf_media_table(
        spark.createDataFrame([(1, pdf)], "doc_id long, payload binary"),
        max_images_per_doc=4).collect()
    assert len(out) == 4
    assert [r["image_index"] for r in sorted(out, key=lambda r: r["media_id"])] \
        == [0, 1, 2, 3]
