"""HTML boilerplate stripping via DOM-node text-density heuristics.

North-rule addition absent from the reference (SURVEY §2.6): main-content
extraction for Common-Crawl-style HTML payloads, in the spirit of the
published text-density / link-density block classifiers (Kohlschütter et
al., "Boilerplate Detection using Shallow Text Features", WSDM 2010; Sun et
al. text-density).  Pure stdlib ``html.parser`` — no external deps — run
inside the unified extract kernel (kernels/ocr.py) and the crawl ingest.

Heuristic: segment the DOM into blocks at block-level elements; per block
accumulate (text_len, link_text_len, tag_count); keep blocks with
  * text_len >= MIN_TEXT_LEN,
  * link_density = link_text_len / text_len < MAX_LINK_DENSITY,
  * text_density = text_len / max(tag_count, 1) >= MIN_TEXT_DENSITY.
Main text = kept block texts joined by "\\n".  Deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

MIN_TEXT_LEN = 25
MAX_LINK_DENSITY = 0.33
MIN_TEXT_DENSITY = 10.0

_BLOCK_TAGS = {
    "p", "div", "article", "section", "main", "li", "td", "blockquote",
    "h1", "h2", "h3", "h4", "h5", "h6", "pre", "aside", "nav", "footer",
    "header", "table", "ul", "ol",
}
_SKIP_TAGS = {"script", "style", "noscript", "template"}


class _Block:
    __slots__ = ("parts", "link_len", "tag_count")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.link_len = 0
        self.tag_count = 1


class _DensityParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._stack: list[_Block] = []
        self._skip_depth = 0
        self._link_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self._stack.append(_Block())
        elif self._stack:
            self._stack[-1].tag_count += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_TAGS and self._stack:
            done = self._stack.pop()
            self.blocks.append(done)

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not self._stack:
            return
        text = " ".join(data.split())
        if not text:
            return
        top = self._stack[-1]
        top.parts.append(text)
        if self._link_depth:
            top.link_len += len(text)


# --------------------------------------------------------------------------
# fast tokenizer (round 5e): stdlib html.parser spends ~580 us/page on its
# per-construct regex stepping — 91% of the whole ingest strip kernel
# (profiled on the 2.56M-page scaling corpus).  This scanner emits events
# into the SAME _DensityParser callbacks for a strict well-formed subset
# whose parse is provably identical to html.parser's tolerant grammar
# (every fast pattern is a subset of the stdlib pattern anchored to the
# same terminator, so an accepted match yields the same span and events);
# ANY construct outside the subset aborts and the document reruns through
# the stdlib parser.  Equivalence is triple-pinned: the adversarial golden
# corpus, a hypothesis fuzzer over html-ish fragments, and the sf0.001
# byte-identity sha.
# --------------------------------------------------------------------------

import re as _re

# subset of (tagfind_tolerant + attrfind_tolerant + locatestarttagend):
# ws-separated attrs, symmetric quotes, optional trailing '/'
_FAST_TAG = _re.compile(
    r'<([a-zA-Z][^\t\n\r\f />\x00]*)'
    r'(?:\s+[^\s"\'>/=]+(?:\s*=\s*(?:"[^"]*"|\'[^\']*\'|[^\s"\'=<>`]+))?)*'
    r'\s*(/?)>')
# exactly html.parser's endtagfind minus the post-'</' whitespace form
_FAST_END = _re.compile(r'</([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')
_COMMENT_CLOSE = _re.compile(r'--\s*>')        # _markupbase._commentclose
_CDATA_CLOSE = {t: _re.compile(r'</\s*%s\s*>' % t, _re.I)
                for t in ("script", "style")}  # parser.set_cdata_mode


def _scan_fast(html: str, p: "_DensityParser") -> bool:
    """Single-pass event emitter; False = construct outside the proven
    subset (caller reruns the stdlib parser on the whole document)."""
    from html import unescape

    i, n = 0, len(html)
    while i < n:
        j = html.find("<", i)
        if j < 0:
            p.handle_data(unescape(html[i:]))
            return True
        if j > i:
            p.handle_data(unescape(html[i:j]))
        i = j
        c = html[j + 1] if j + 1 < n else ""
        if c.isalpha() and c.isascii():
            m = _FAST_TAG.match(html, i)
            if not m:
                return False
            tag = m.group(1).lower()
            i = m.end()
            if m.group(2):                     # '/>': start+end, no cdata
                p.handle_starttag(tag, [])
                p.handle_endtag(tag)
                continue
            p.handle_starttag(tag, [])
            if tag in _CDATA_CLOSE:            # script/style content mode
                mc = _CDATA_CLOSE[tag].search(html, i)
                if not mc:                     # stdlib drops trailing cdata
                    return True                # silently, no endtag event
                if mc.start() > i:
                    p.handle_data(html[i:mc.start()])
                p.handle_endtag(tag)
                i = mc.end()
            continue
        if c == "/":
            m = _FAST_END.match(html, i)
            if not m:
                return False
            p.handle_endtag(m.group(1).lower())
            i = m.end()
            continue
        if html.startswith("<!--", i):
            mc = _COMMENT_CLOSE.search(html, i + 4)
            if not mc:
                return False
            i = mc.end()
            continue
        if c == "!":
            if html.startswith("<![", i):      # marked section
                return False
            k = html.find(">", i + 2)          # doctype / bogus comment
            if k < 0:
                return False
            i = k + 1
            continue
        if c == "?":
            k = html.find(">", i + 2)          # processing instruction
            if k < 0:
                return False
            i = k + 1
            continue
        p.handle_data("<")                     # bare '<' (incl. at EOF)
        i += 1
    return True


def extract_main_text(html: str, impl: str = "fast") -> str:
    """Classify blocks by text/link density; return main content text.

    Malformed input (round 5): blocks left unclosed at EOF are flushed —
    real-web HTML routinely drops closing tags, and losing an unclosed
    ``<p>``'s text silently would throw away main content.

    ``impl="fast"`` (default) runs the subset scanner and reruns the
    stdlib parser only on documents it declines; ``impl="stdlib"`` is
    the reference twin (equivalence pytest-pinned)."""
    if impl == "fast":
        parser = _DensityParser()
        try:
            done = _scan_fast(html, parser)
        except Exception:
            done = False
        if not done:
            return extract_main_text(html, impl="stdlib")
        return _classify_blocks(parser)
    parser = _DensityParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    return _classify_blocks(parser)


def _classify_blocks(parser: _DensityParser) -> str:
    while parser._stack:                      # flush unclosed blocks
        parser.blocks.append(parser._stack.pop())
    kept: list[str] = []
    for b in parser.blocks:
        text = " ".join(b.parts)
        tl = len(text)
        if tl < MIN_TEXT_LEN:
            continue
        if b.link_len / tl >= MAX_LINK_DENSITY:
            continue
        if tl / max(b.tag_count, 1) < MIN_TEXT_DENSITY:
            continue
        kept.append(text)
    return "\n".join(kept)


# ---------------------------------------------------------------------------
# Document metadata (head fields a Common-Crawl pipeline records per page)
# ---------------------------------------------------------------------------

class _MetaParser(HTMLParser):
    """First-occurrence-wins collection of head metadata: <title> text,
    <meta name=description>, <meta property=og:*>, <link rel=canonical>,
    and the <html lang> attribute.  Parsing stops being interesting
    after </head> but runs the whole document — body-level og tags (seen
    in the wild) still count."""

    _OG_KEYS = ("og:title", "og:description", "og:type", "og:image")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.fields: dict[str, str] = {}
        self._in_title = False
        self._title_parts: list[str] = []

    def _set(self, key: str, value: str | None) -> None:
        if value and key not in self.fields:
            self.fields[key] = value.strip()

    def handle_starttag(self, tag: str, attrs) -> None:
        a = {k: v for k, v in attrs if v is not None}
        if tag == "html":
            self._set("html_lang", a.get("lang"))
        elif tag == "title":
            self._in_title = True
        elif tag == "meta":
            name = (a.get("name") or "").lower()
            prop = (a.get("property") or "").lower()
            if name == "description":
                self._set("description", a.get("content"))
            elif name == "robots":
                self._set("robots_meta", a.get("content"))
            elif prop in self._OG_KEYS:
                self._set(prop.replace(":", "_"), a.get("content"))
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels:
                self._set("canonical", a.get("href"))

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self._in_title = False
            self._set("title",
                      " ".join(" ".join(self._title_parts).split()))

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_parts.append(data)


_META_FIELDS = ("title", "description", "canonical", "html_lang",
                "og_title", "og_description", "og_type", "og_image",
                "robots_meta")

META_SCHEMA = ("url string, " + ", ".join(f"{f} string"
                                          for f in _META_FIELDS)
               + ", noindex boolean, nofollow boolean")


def robots_meta_directives(content: str | None) -> tuple[bool, bool]:
    """``(noindex, nofollow)`` from a ``<meta name="robots">`` content
    string: comma-separated directives, case-insensitive, ``none`` =
    ``noindex, nofollow`` (Robots Meta Tag spec).  Absent/empty content
    means no restriction — (False, False), filter-friendly defaults."""
    if not content:
        return False, False
    toks = {t.strip() for t in content.lower().replace(",", " ").split()}
    none = "none" in toks
    return ("noindex" in toks or none, "nofollow" in toks or none)


def extract_page_meta(html: str) -> dict[str, str]:
    """Head-metadata dict (missing keys absent); malformed input yields
    what parsed before the failure — never raises."""
    parser = _MetaParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    if parser._in_title:                      # unclosed <title> at EOF
        parser._in_title = False
        parser._set("title", " ".join(" ".join(parser._title_parts).split()))
    return parser.fields


def meta_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes

    for pdf in batches:
        rows = []
        for url, raw in zip(pdf["url"], pdf["html"]):
            fields = extract_page_meta(decode_bytes(raw)[0])
            noindex, nofollow = robots_meta_directives(
                fields.get("robots_meta"))
            rows.append((url,) + tuple(fields.get(f) for f in _META_FIELDS)
                        + (noindex, nofollow))
        yield pd.DataFrame(rows, columns=["url", *_META_FIELDS,
                                          "noindex", "nofollow"])


def extract_metadata(page_df):
    """Pages table ``(url, html, ...)`` -> one metadata row per page.
    Map-only Arrow kernel over a column-pruned scan; charset-aware."""
    return page_df.select("url", "html").mapInPandas(
        meta_kernel, schema=META_SCHEMA)


# ---------------------------------------------------------------------------
# Hyperlink extraction (link-graph source; analytics/graph.py consumes it)
# ---------------------------------------------------------------------------

class _LinkParser(HTMLParser):
    """Collect ``(href, anchor_text)`` for every ``<a href=...>`` in
    document order.  Nested/unclosed anchors: an ``<a>`` opening inside
    an open link finalizes the outer one first (browsers auto-close),
    and a link left open at EOF is flushed."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str, bool]] = []
        self._href: str | None = None
        self._nofollow = False
        self._parts: list[str] = []
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._href is not None:
            self.links.append((self._href,
                               " ".join(" ".join(self._parts).split()),
                               self._nofollow))
        self._href, self._parts, self._nofollow = None, [], False

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._flush()
            href = next((v for k, v in attrs if k == "href" and v), None)
            if href is not None:
                self._href = href
                rel = next((v for k, v in attrs if k == "rel" and v), "")
                self._nofollow = "nofollow" in rel.lower().split()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None and not self._skip_depth:
            self._parts.append(data)


def extract_links_from_html(html: str) -> list[tuple[str, str, bool]]:
    """``[(href, anchor_text, nofollow), ...]`` in document order
    (``nofollow`` = ``rel`` contains the nofollow token); malformed
    input yields what parsed before the failure (never raises)."""
    parser = _LinkParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    parser._flush()
    return parser.links


LINKS_SCHEMA = ("url string, seq int, href string, anchor string, "
                "resolved string, nofollow boolean")


def links_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, html) -> one row per ``<a href>`` on html-classified
    payloads (payload.sniff contract — non-html payload kinds emit
    nothing; quarantine is the extraction pipeline's job, not the link
    miner's).  ``resolved`` is the stdlib-RFC 3986 join of href against
    the page url; ``seq`` is the 0-based document-order index."""
    from urllib.parse import urljoin

    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
    from image_pdf_ocr_suite_spark.payload import sniff

    for pdf in batches:
        if not len(pdf):
            continue
        urls, seqs, hrefs, anchors, resolveds, nofollows = \
            [], [], [], [], [], []
        for url, raw in zip(pdf["url"], pdf["html"]):
            if raw is None or sniff(bytes(raw)) != "html":
                continue
            html = decode_bytes(raw)[0]
            for seq, (href, anchor, nofollow) in enumerate(
                    extract_links_from_html(html)):
                urls.append(url)
                seqs.append(seq)
                hrefs.append(href)
                anchors.append(anchor)
                nofollows.append(nofollow)
                try:
                    resolveds.append(urljoin(url, href))
                except ValueError:
                    resolveds.append(href)
        yield pd.DataFrame({"url": urls, "seq": pd.array(seqs, dtype="int32"),
                            "href": hrefs, "anchor": anchors,
                            "resolved": resolveds, "nofollow": nofollows})


def extract_links(page_df):
    """Pages table ``(url, html, ...)`` -> ``(url, seq, href, anchor,
    resolved)``.  Map-only Arrow kernel over a column-pruned scan — link
    mining shuffles nothing; downstream graph construction
    (analytics/graph.py) aggregates the edge list it needs."""
    return page_df.select("url", "html").mapInPandas(
        links_kernel, schema=LINKS_SCHEMA)
