"""Extraction configuration — the engine's analog of the reference's layered
CfgNode config (``core/setup.py:67-177``) and region-class vocabulary
(``page_xml/xml_regions.py:88-257``).

The config is a frozen dataclass: declared schema, no unknown keys — the
same stance as the reference's ``set_new_allowed(False)``
(``core/setup.py:94``). A config hash is stamped into lineage rows the way
the reference stamps run UUID + git hash (``core/setup.py:102-105``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, asdict

# ---------------------------------------------------------------------------
# Region-class vocabulary (web analog of xml_regions.py:88-101's "republic"
# set).  `background` is always class 0, exactly as in the reference
# (xml_regions.py:233).
# ---------------------------------------------------------------------------

REGION_CLASSES: tuple[str, ...] = (
    "background",   # boilerplate — never emitted as a span
    "paragraph",
    "header",
    "marginalia",   # nav / sidebar / footer content that carries real text
    "list_item",
    "table_cell",
    "code",
    "blockquote",
    "caption",
    "title",
)

# region class -> region *type* (element-tag group) — the analog of the
# reference's region→PAGE-element mapping (xml_regions.py:179-208, default
# TextRegion).
REGION_TYPES: dict[str, str] = {
    "background": "Background",
    "paragraph": "TextRegion",
    "header": "Heading",
    "marginalia": "Marginalia",
    "list_item": "ListItem",
    "table_cell": "TableCell",
    "code": "Code",
    "blockquote": "Quote",
    "caption": "Caption",
    "title": "Heading",
}

# ---------------------------------------------------------------------------
# HTML structural vocabulary
# ---------------------------------------------------------------------------

# Tags that open/close a layout block (the DOM analog of a connected pixel
# region).  Text between two block boundaries belongs to one block.
BLOCK_TAGS: frozenset[str] = frozenset({
    "p", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "dt", "dd", "td", "th", "caption", "figcaption",
    "pre", "blockquote", "address", "summary",
    "div", "section", "article", "main", "aside", "nav",
    "header", "footer", "figure", "ul", "ol", "dl", "table",
    "thead", "tbody", "tfoot", "tr", "form", "fieldset", "details",
    "hr", "br", "title", "body", "html", "center",
})

# Content inside these tags is never text (reference analog: corrupt/ignored
# inputs are skipped, ``inference.py:344-346``). textarea is here (form
# input content is boilerplate) rather than in the fast tokenizer's
# rawtext set, so both tokenizer engines handle it identically — stdlib
# HTMLParser only rawtext-scans script/style.
SKIP_CONTENT_TAGS: frozenset[str] = frozenset({
    "script", "style", "noscript", "template", "svg", "iframe",
    "object", "embed", "head", "canvas", "datalist", "textarea",
})

# Void elements (never pushed on the open-tag stack).
VOID_TAGS: frozenset[str] = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
})

# Ancestor tags marking marginal page furniture (nav bars, sidebars,
# footers) — the web analog of the reference's `marginalia` region class.
MARGINAL_ANCESTOR_TAGS: frozenset[str] = frozenset({
    "nav", "aside", "footer",
})

# tag -> region class, applied when no boilerplate rule fires.
TAG_CLASS_MAP: dict[str, str] = {
    "h1": "header", "h2": "header", "h3": "header",
    "h4": "header", "h5": "header", "h6": "header",
    "title": "title",
    "li": "list_item", "dt": "list_item", "dd": "list_item",
    "td": "table_cell", "th": "table_cell",
    "pre": "code",
    "blockquote": "blockquote",
    "figcaption": "caption", "caption": "caption",
    # everything else (p, div, section, ...) -> paragraph
}


@dataclass(frozen=True, slots=True)
class ExtractConfig:
    """Deterministic extraction parameters.

    ``merge_aliases`` is the analog of the reference's ``merge_regions``
    class-collapsing map (``xml_regions.py:146-177``): ``{"title":
    "header"}`` folds `title` blocks into the `header` class *before* span
    ids are assigned, exactly as the reference collapses classes before id
    assignment (``xml_regions.py:210-217``).

    ``min_region_size`` mirrors ``POSTPROCESS.REGION.MIN_REGION_SIZE``
    (default 10 px², ``configs/extra_defaults.py:81``; filter applied at
    ``output_page_xml.py:364-367``) — here in characters of normalized
    block text.
    """

    min_region_size: int = 3
    max_link_density: float = 0.5
    merge_aliases: dict[str, str] = field(default_factory=dict)
    merge_adjacent_spans: bool = True   # P4 connected-components analog
    max_html_bytes: int = 64 * 1024 * 1024  # T1/T2 resize analog: byte cap
    drop_marginalia: bool = False       # if True, marginalia -> background
    emit_line_spans: bool = True        # P7/P8 text-line sub-spans

    def __post_init__(self) -> None:
        # merge-alias validation: unknown classes and alias loops are
        # config errors, mirroring the reference's duplicate/loop checks
        # (xml_regions.py:146-177).
        for src, dst in self.merge_aliases.items():
            if src not in REGION_CLASSES or dst not in REGION_CLASSES:
                raise ValueError(f"merge_aliases refers to unknown class: {src}->{dst}")
            if self.merge_aliases.get(dst) == src:
                raise ValueError(f"merge_aliases loop: {src}<->{dst}")
            if src == dst:
                raise ValueError(f"merge_aliases self-alias: {src}")

    def config_hash(self) -> str:
        """Stable hash stamped into lineage (analog of core/setup.py:102-105)."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


DEFAULT_CONFIG = ExtractConfig()
