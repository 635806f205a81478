"""Pure-Python HTML → (extracted_text, typed layout spans).

This module is the engine's "model + post-processing": it replaces the
reference's pixel classifier + instance extraction
(``models/meta_arch/binary_seg.py:75-130`` → softmax/argmax/confidence at
``page_xml/output_page_xml.py:534-562`` → connected components / contours /
min-size filter at ``output_page_xml.py:360-383`` and
``baseline_extractor.py:30-36``) with deterministic DOM text-density /
link-density scoring (Readability/Boilerpipe-class heuristics).

It is deliberately **Spark-free**: a pure function of ``(url, payload
bytes, config)``, exactly as the reference's post-processing is separable
from its harness — which is what makes byte-identical regression tests
trivial (reference test style: exact coordinate-string asserts in
``test/test_output_page_xml.py:16-289``).

Stage map (reference → here):

- pixel classification (P1/P2)      → per-block class decision from
  tag + link-density features, with a normalized-margin confidence
- connected components (P4)         → run-length merge of consecutive
  same-class blocks into one span
- min-size filter (P6,
  ``output_page_xml.py:364-367``)    → blocks shorter than
  ``min_region_size`` normalized chars become background
- class merge aliasing (P11,
  ``xml_regions.py:146-177``)        → ``config.merge_aliases``
- region_type tagging (P12,
  ``xml_regions.py:179-208``)        → ``REGION_TYPES``
- reading order (P10,
  ``page_xml_editor.py:62-79``)      → dense document-order index
- unique ids (P14,
  ``output_page_xml.py:227``)        → deterministic
  ``sha256(url|class|char_start)`` (resume/retry-safe, unlike the
  reference's ``uuid.uuid4()``)
"""

from __future__ import annotations

import codecs
import hashlib
import re
from dataclasses import dataclass
from html import unescape as _html_unescape
from html.parser import HTMLParser
from typing import NamedTuple

from .config import (
    BLOCK_TAGS,
    ExtractConfig,
    DEFAULT_CONFIG,
    MARGINAL_ANCESTOR_TAGS,
    REGION_TYPES,
    SKIP_CONTENT_TAGS,
    TAG_CLASS_MAP,
    VOID_TAGS,
)

# closing a void tag is a no-op; precomputing the difference turns the
# hot end_tag membership test into one frozenset lookup instead of two
_BLOCK_NONVOID_TAGS = frozenset(BLOCK_TAGS) - frozenset(VOID_TAGS)

# ---------------------------------------------------------------------------
# byte decoding (analog of image decode S3/S4, utils/image_utils.py:84-168:
# deterministic, corrupt input never raises)
# ---------------------------------------------------------------------------

_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE
)

_BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)


def decode_payload(payload: bytes) -> str:
    """bytes → str, deterministically, never raising.

    Order: BOM sniff → strict UTF-8 → declared ``<meta charset=...>`` in the
    first 4 KiB → latin-1 (total function). Mirrors the reference's decode
    contract: corrupt files yield a skippable value, never a job failure
    (``inference.py:344-346``).
    """
    if not payload:
        return ""
    for bom, enc in _BOMS:
        if payload.startswith(bom):
            return payload[len(bom):].decode(enc, errors="replace")
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _CHARSET_RE.search(payload[:4096])
    if m:
        name = m.group(1).decode("ascii", errors="replace").lower()
        if name not in ("utf-8", "utf8"):  # utf-8 already failed strict
            try:
                codecs.lookup(name)
                return payload.decode(name, errors="replace")
            except LookupError:
                pass
    return payload.decode("latin-1")  # lossless total fallback


# ---------------------------------------------------------------------------
# block tokenizer
# ---------------------------------------------------------------------------


def _normalize_ws(raw: str) -> str:
    """Collapse whitespace runs to single spaces and strip.

    The char-offset discipline (FIXTURES.md §2, reference analog: coordinate
    rescale ``xml_converter.py:109-124``): offsets index into the *emitted*
    normalized text, never the raw HTML. ``" ".join(split())`` is the
    C-level, unicode-whitespace-aware equivalent of
    ``re.sub(r"\\s+", " ", raw).strip()`` and ~3x faster.
    """
    return " ".join(raw.split())


@dataclass(slots=True)
class Block:
    """One layout block — the DOM analog of a connected pixel region."""

    tag: str
    marginal: bool
    pieces: list[str]
    total_nws: int = 0   # non-whitespace chars
    link_nws: int = 0    # non-whitespace chars inside <a>
    _text: str | None = None

    def text(self) -> str:
        if self._text is None:
            self._text = _normalize_ws("".join(self.pieces))
        return self._text

    def link_density(self) -> float:
        if self.total_nws <= 0:
            return 0.0
        return self.link_nws / self.total_nws


class _BlockBuilder:
    """Tag-event → Block state machine, shared by both tokenizer engines.

    Tolerance contract (FIXTURES.md template 6): unclosed tags, comment-only
    pages, CDATA, entity soup and deep nesting must all parse without error.
    """

    __slots__ = ("blocks", "_cur", "_block_stack", "_skip_stack",
                 "_anchor_depth", "_marginal_depth")

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self._cur: Block | None = None
        self._block_stack: list[str] = []
        # stack of OPEN skip-content tags: a stray closer of a skip tag
        # that is not actually open (e.g. a literal "</script>" inside a
        # <textarea> code sample) must not end the skip region — a bare
        # depth counter shared across all skip tags leaked the rest of
        # the textarea body into extracted text
        self._skip_stack: list[str] = []
        self._anchor_depth = 0
        self._marginal_depth = 0

    def flush(self) -> None:
        cur = self._cur
        if cur is not None:
            text = cur.text()
            if text:
                # nws over the normalized text == sum of per-piece token
                # lengths (whitespace runs collapse to single spaces), but
                # counted once per BLOCK in C instead of once per data event
                cur.total_nws = len(text) - text.count(" ")
                self.blocks.append(cur)
            self._cur = None

    def start_tag(self, tag: str) -> None:
        if tag in SKIP_CONTENT_TAGS:
            if self._cur is not None:
                self.flush()
            self._skip_stack.append(tag)
            return
        if self._skip_stack:
            return
        if tag == "a":
            self._anchor_depth += 1
            return
        if tag in BLOCK_TAGS:
            if self._cur is not None:
                self.flush()
            if tag in MARGINAL_ANCESTOR_TAGS:
                self._marginal_depth += 1
            if tag not in VOID_TAGS:
                self._block_stack.append(tag)

    def end_tag(self, tag: str) -> None:
        if tag in SKIP_CONTENT_TAGS:
            stack = self._skip_stack
            if stack and stack[-1] == tag:
                stack.pop()
            elif tag in stack:
                # tolerant unwind to the matching open skip tag (same
                # convention as the block stack); a closer of a skip tag
                # that is NOT open is ignored — it is raw content
                while stack and stack.pop() != tag:
                    pass
            if self._cur is not None:
                self.flush()
            return
        if self._skip_stack:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
            return
        if tag in _BLOCK_NONVOID_TAGS:
            # the None guard at each call site skips ~2 no-op flush()
            # calls per tag event on real pages (most tag closes arrive
            # with no open text block)
            if self._cur is not None:
                self.flush()
            stack = self._block_stack
            # fast path: properly nested markup closes the top of stack
            if stack and stack[-1] == tag:
                stack.pop()
                if tag in MARGINAL_ANCESTOR_TAGS:
                    self._marginal_depth = max(0, self._marginal_depth - 1)
            # tolerant pop: unwind to the matching open tag if present
            elif tag in stack:
                while stack:
                    popped = stack.pop()
                    if popped in MARGINAL_ANCESTOR_TAGS:
                        self._marginal_depth = max(0, self._marginal_depth - 1)
                    if popped == tag:
                        break

    def data(self, data: str) -> None:
        if self._skip_stack or not data:
            return
        if self._cur is None:
            tag = self._block_stack[-1] if self._block_stack else "body"
            self._cur = Block(
                tag=tag, marginal=self._marginal_depth > 0, pieces=[]
            )
        self._cur.pieces.append(data)
        # total_nws is counted once per block at flush(); only anchored
        # pieces need the per-event count (link-density numerator)
        if self._anchor_depth > 0:
            self._cur.link_nws += sum(map(len, data.split()))


class _BlockParser(HTMLParser):
    """stdlib-HTMLParser driver of :class:`_BlockBuilder` — the reference
    engine used for cross-validation of the fast tokenizer."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.builder = _BlockBuilder()

    def handle_starttag(self, tag: str, attrs) -> None:
        self.builder.start_tag(tag)

    def handle_endtag(self, tag: str) -> None:
        self.builder.end_tag(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.builder.start_tag(tag)
        self.builder.end_tag(tag)

    def handle_data(self, data: str) -> None:
        self.builder.data(data)

    # charrefs mostly handled by convert_charrefs; these cover broken cases
    def handle_entityref(self, name: str) -> None:
        self.builder.data(f"&{name};")

    def handle_charref(self, name: str) -> None:
        self.builder.data(f"&#{name};")

    def error(self, message: str) -> None:  # pragma: no cover - py<3.10 hook
        pass


def tokenize_blocks_stdlib(html_text: str) -> list[Block]:
    parser = _BlockParser()
    try:
        parser.feed(html_text)
        parser.close()
    except Exception:
        # Tolerate pathological markup: keep whatever parsed so far
        # (reference contract: corrupt input -> skip, inference.py:344-346).
        pass
    parser.builder.flush()
    return parser.builder.blocks


# ---------------------------------------------------------------------------
# fast tokenizer — the default engine on the hot path
# ---------------------------------------------------------------------------

# One pass, one compiled regex per tag; data segments located with C-level
# str.find. ~6-10x faster than html.parser on large pages while emitting the
# same tag-event stream into _BlockBuilder (equivalence asserted by tests
# over the whole fixture sweep + hypothesis byte soup).
# alternation ordered by frequency: start/end tags dominate real pages;
# '<!'/'<?' branches cannot be shadowed because the tag branches require a
# letter (or '/') after '<'
_TAG_RE = re.compile(
    r"""<([a-zA-Z][a-zA-Z0-9:_-]*)((?:"[^"]*"|'[^']*'|[^"'>])*)(?:>|$)  # start
      | </\s*([a-zA-Z][a-zA-Z0-9:_-]*)[^>]*(?:>|$)          # end tag
      | <!--.*?(?:-->|$)                 # comment (unterminated: to EOF)
      | <!\[CDATA\[.*?(?:\]\]>|$)        # CDATA section
      | <![^>]*>?                        # doctype / declaration
      | <\?[^>]*>?                       # processing instruction
    """,
    re.VERBOSE | re.DOTALL,
)

# elements whose raw content is never markup — EXACTLY the stdlib
# HTMLParser CDATA_CONTENT_ELEMENTS, so the fast engine and the stdlib
# cross-validation engine see the same tag-event stream (textarea content
# is dropped via SKIP_CONTENT_TAGS instead: both engines parse its body
# as markup and suppress the text, identically)
_RAWTEXT_TAGS = frozenset({"script", "style"})


def tokenize_blocks(html_text: str) -> list[Block]:
    """Hot-path tokenizer: the :class:`_BlockBuilder` state machine is
    INLINED as local variables — per-event method calls and ``self``
    attribute loads were ~40% of tokenizer time on tag-dense pages
    (profiled r5), and giant crawl pages are hundreds of thousands of
    events. Semantics are pinned to the stdlib-driven builder by the
    fixture-sweep + hypothesis equivalence tests
    (``tests/test_tokenizer_equiv.py``)."""
    blocks: list[Block] = []
    # current-block state (cur_pieces is None <=> no open text block)
    cur_pieces: list[str] | None = None
    cur_tag = "body"
    cur_marginal = False
    cur_link_nws = 0
    block_stack: list[str] = []
    skip_stack: list[str] = []
    anchor_depth = 0
    marginal_depth = 0

    pos, n = 0, len(html_text)
    lower: str | None = None  # lazily lowered copy for rawtext close scan
    find = html_text.find
    tag_match = _TAG_RE.match
    skip_tags = SKIP_CONTENT_TAGS
    block_tags = BLOCK_TAGS
    nonvoid_block_tags = _BLOCK_NONVOID_TAGS
    marginal_tags = MARGINAL_ANCESTOR_TAGS
    void_tags = VOID_TAGS

    while pos < n:
        lt = find("<", pos)
        # ---- data segment [pos, lt) ----
        if lt != pos:
            seg = html_text[pos:] if lt == -1 else html_text[pos:lt]
            if not skip_stack:
                if "&" in seg:
                    seg = _html_unescape(seg)
                if cur_pieces is None:
                    cur_pieces = [seg]
                    cur_tag = block_stack[-1] if block_stack else "body"
                    cur_marginal = marginal_depth > 0
                    cur_link_nws = 0
                else:
                    cur_pieces.append(seg)
                if anchor_depth:
                    cur_link_nws += sum(map(len, seg.split()))
            if lt == -1:
                break
        m = tag_match(html_text, lt)
        if m is None:
            # bare '<' is text, as in html.parser
            if not skip_stack:
                if cur_pieces is None:
                    cur_pieces = ["<"]
                    cur_tag = block_stack[-1] if block_stack else "body"
                    cur_marginal = marginal_depth > 0
                    cur_link_nws = 0
                else:
                    cur_pieces.append("<")
                if anchor_depth:
                    cur_link_nws += 1
            pos = lt + 1
            continue
        pos = m.end()
        # lastindex dispatch: end tags match only group 3, start tags
        # match groups 1-2 (2 may be empty but still participates),
        # comments/doctypes/PIs match no group
        li = m.lastindex
        if li == 3:
            # ---- end tag ----
            tag = m.group(3).lower()
            if tag in skip_tags:
                if skip_stack and skip_stack[-1] == tag:
                    skip_stack.pop()
                elif tag in skip_stack:
                    while skip_stack and skip_stack.pop() != tag:
                        pass
                if cur_pieces is not None:
                    text = _normalize_ws("".join(cur_pieces))
                    if text:
                        blocks.append(Block(
                            cur_tag, cur_marginal, cur_pieces,
                            len(text) - text.count(" "), cur_link_nws,
                            text))
                    cur_pieces = None
            elif not skip_stack and tag == "a":
                if anchor_depth:
                    anchor_depth -= 1
            elif not skip_stack and tag in nonvoid_block_tags:
                if cur_pieces is not None:
                    text = _normalize_ws("".join(cur_pieces))
                    if text:
                        blocks.append(Block(
                            cur_tag, cur_marginal, cur_pieces,
                            len(text) - text.count(" "), cur_link_nws,
                            text))
                    cur_pieces = None
                # fast path: properly nested markup closes top of stack
                if block_stack and block_stack[-1] == tag:
                    block_stack.pop()
                    if tag in marginal_tags:
                        marginal_depth = max(0, marginal_depth - 1)
                elif tag in block_stack:
                    while block_stack:
                        popped = block_stack.pop()
                        if popped in marginal_tags:
                            marginal_depth = max(0, marginal_depth - 1)
                        if popped == tag:
                            break
        elif li is not None:
            # ---- start tag ----
            tag = m.group(1).lower()
            if tag in skip_tags:
                if cur_pieces is not None:
                    text = _normalize_ws("".join(cur_pieces))
                    if text:
                        blocks.append(Block(
                            cur_tag, cur_marginal, cur_pieces,
                            len(text) - text.count(" "), cur_link_nws,
                            text))
                    cur_pieces = None
                skip_stack.append(tag)
            elif not skip_stack:
                if tag == "a":
                    anchor_depth += 1
                elif tag in block_tags:
                    if cur_pieces is not None:
                        text = _normalize_ws("".join(cur_pieces))
                        if text:
                            blocks.append(Block(
                                cur_tag, cur_marginal, cur_pieces,
                                len(text) - text.count(" "), cur_link_nws,
                                text))
                        cur_pieces = None
                    if tag in marginal_tags:
                        marginal_depth += 1
                    if tag not in void_tags:
                        block_stack.append(tag)
            attrs = m.group(2)
            if attrs and attrs.rstrip().endswith("/"):
                # self-closing: replay the end-tag transition
                if tag in skip_tags:
                    if skip_stack and skip_stack[-1] == tag:
                        skip_stack.pop()
                    elif tag in skip_stack:
                        while skip_stack and skip_stack.pop() != tag:
                            pass
                elif not skip_stack and tag in nonvoid_block_tags:
                    if block_stack and block_stack[-1] == tag:
                        block_stack.pop()
                        if tag in marginal_tags:
                            marginal_depth = max(0, marginal_depth - 1)
                    elif tag in block_stack:
                        while block_stack:
                            popped = block_stack.pop()
                            if popped in marginal_tags:
                                marginal_depth = max(0, marginal_depth - 1)
                            if popped == tag:
                                break
                elif not skip_stack and tag == "a" and anchor_depth:
                    anchor_depth -= 1
            elif tag in _RAWTEXT_TAGS:
                if lower is None:
                    lower = html_text.lower()
                close = lower.find(f"</{tag}", pos)
                if close == -1:
                    # unterminated rawtext swallows the rest; the skip
                    # tag stays open so nothing below emits
                    break
                pos = close  # skip raw content; end tag parsed next loop

    if cur_pieces is not None:
        text = _normalize_ws("".join(cur_pieces))
        if text:
            blocks.append(Block(cur_tag, cur_marginal, cur_pieces,
                                len(text) - text.count(" "),
                                cur_link_nws, text))
    return blocks


# ---------------------------------------------------------------------------
# block classification (P1/P2 analog)
# ---------------------------------------------------------------------------


def classify_block(block: Block, cfg: ExtractConfig) -> tuple[str, float]:
    """block → (region_class, confidence), deterministic.

    Decision order mirrors the reference's postprocess: min-size filter
    first (P6), then the boilerplate score (P2's argmax analog), then the
    tag-derived class with merge aliasing (P11).
    Confidence is a normalized margin in [0, 1] — the analog of the scaled
    softmax confidence at ``output_page_xml.py:534-562``.
    """
    text = block.text()
    if len(text) < cfg.min_region_size:
        return "background", 1.0
    ld = block.link_density()
    if ld > cfg.max_link_density:
        return "background", round(ld, 6)
    if block.marginal:
        cls = "marginalia"
    else:
        cls = TAG_CLASS_MAP.get(block.tag, "paragraph")
    cls = cfg.merge_aliases.get(cls, cls)
    if cls == "marginalia" and cfg.drop_marginalia:
        return "background", round(1.0 - ld, 6)
    return cls, round(1.0 - ld, 6)


# ---------------------------------------------------------------------------
# span assembly (P4/P6/P10/P12/P14 analogs)
# ---------------------------------------------------------------------------


def span_id_for(url: str, region_class: str, char_start: int) -> str:
    """Deterministic span id (P14): content-derived so Spark task retries
    and checkpoint resumes never mint duplicates — intentionally unlike the
    reference's ``uuid.uuid4()`` (``output_page_xml.py:227,284,390``)."""
    key = f"{url}|{region_class}|{char_start}"
    return hashlib.sha256(key.encode("utf-8")).hexdigest()


def _span_id_factory(url: str):
    """Per-document id maker producing the same digests as
    :func:`span_id_for` with the ``url|class|`` prefix ENCODED once per
    class: one one-shot C sha256 call per id beats the
    copy()+update()+hexdigest() triple for the short keys spans have
    (measured ~6% of end-to-end extraction, r5)."""
    cache: dict[str, bytes] = {}
    sha = hashlib.sha256
    url_prefix = url + "|"

    def make(region_class: str, char_start: int) -> str:
        p = cache.get(region_class)
        if p is None:
            p = (url_prefix + region_class + "|").encode("utf-8")
            cache[region_class] = p
        return sha(p + str(char_start).encode()).hexdigest()

    return make


# NamedTuple (not frozen dataclass): hundreds of thousands of spans are
# built per Arrow batch, and a frozen dataclass pays object.__setattr__
# per field at construction; NamedTuple builds at C speed with the same
# immutability and attribute access
class Span(NamedTuple):
    span_id: str
    region_class: str
    region_type: str
    char_start: int
    char_end: int
    reading_order: int
    confidence: float


class LineSpan(NamedTuple):
    """Text-line sub-span — the P7/P8 analog: the reference traces
    per-component baselines (``baseline_extractor.py:97-126``) and nests
    TextLines under their region (``output_page_xml.py:266-288``); here a
    line is a block boundary inside a merged span, nested via
    ``parent_span_id``."""

    line_id: str
    parent_span_id: str
    char_start: int
    char_end: int
    line_order: int


class ExtractResult(NamedTuple):
    text: str
    spans: tuple[Span, ...]
    line_spans: tuple[LineSpan, ...] = ()


def assemble_spans(url: str, kept: list[tuple[str, float, str]],
                   cfg: ExtractConfig) -> ExtractResult:
    """(class, confidence, text) triples in reading order → final result.

    Shared by the HTML and PDF branches (the dispatch analog of the
    reference's shared geometry helpers in ``xml_converter.py:109-182``).
    """
    # P4 analog: run-length merge of consecutive same-class blocks.
    runs: list[tuple[str, list[float], list[str]]] = []
    for cls, conf, text in kept:
        if cfg.merge_adjacent_spans and runs and runs[-1][0] == cls:
            runs[-1][1].append(conf)
            runs[-1][2].append(text)
        else:
            runs.append((cls, [conf], [text]))

    parts: list[str] = []
    spans: list[Span] = []
    line_spans: list[LineSpan] = []
    offset = 0
    make_id = _span_id_factory(url)
    for order, (cls, confs, texts) in enumerate(runs):
        chunk = "\n".join(texts)
        start = offset
        end = start + len(chunk)
        # mean confidence over merged blocks (P3 analog,
        # output_page_xml.py:245)
        conf = round(sum(confs) / len(confs), 6)
        sid = make_id(cls, start)
        # positional NamedTuple construction (field order pinned by the
        # class): ~300k spans per Arrow batch make the kwargs path
        # measurable
        spans.append(Span(sid, cls, REGION_TYPES[cls], start, end,
                          order, conf))
        if cfg.emit_line_spans:
            # P7/P8 analog: each merged block is one text line of the span
            line_off = start
            line_cls = f"line:{cls}"
            for i, text in enumerate(texts):
                line_end = line_off + len(text)
                line_spans.append(LineSpan(make_id(line_cls, line_off),
                                           sid, line_off, line_end, i))
                line_off = line_end + 1
        parts.append(chunk)
        offset = end + 1  # +1 for the joining "\n"

    return ExtractResult(text="\n".join(parts), spans=tuple(spans),
                         line_spans=tuple(line_spans))


def extract_html(url: str, payload: bytes,
                 cfg: ExtractConfig = DEFAULT_CONFIG) -> ExtractResult:
    """The flagship pure function: HTML bytes → extracted text + spans.

    Invariants (asserted by the regression tests, FIXTURES.md §2):
    spans sorted by char_start, non-overlapping, ``0 <= char_start <
    char_end <= len(text)``, reading_order dense from 0, and
    ``text[s.char_start:s.char_end]`` equals the span's contribution —
    text is exactly the non-background spans' slices joined by ``"\\n"``.
    """
    if payload and len(payload) > cfg.max_html_bytes:
        payload = payload[: cfg.max_html_bytes]  # T1/T2 resize-clamp analog
    html_text = decode_payload(payload)
    blocks = tokenize_blocks(html_text)

    kept: list[tuple[str, float, str]] = []  # (class, confidence, text)
    for block in blocks:
        cls, conf = classify_block(block, cfg)
        if cls == "background":
            continue
        kept.append((cls, conf, block.text()))

    return assemble_spans(url, kept, cfg)
