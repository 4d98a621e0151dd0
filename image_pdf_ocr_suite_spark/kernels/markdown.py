"""HTML → Markdown serialization: structure-preserving page flattening.

North-rule extraction-tier operator (DOM-heuristics family, next to the
text-density strip in ``kernels/html.py`` and the table model in
``kernels/htmltables.py``): serialize a page's block structure —
headings, paragraphs, lists, blockquotes, code blocks — to Markdown
training text instead of discarding it.  Modern web-corpus pipelines
keep this structure (headings and lists carry signal the flat text
strip loses); the reference suite flattens to plain text only
(/root/reference/image_pdf_ocr/ocr.py extracts linear text), so this is
a task-mandated LLM-pipeline addition.

Pure stdlib ``html.parser``, run as an Arrow-batched ``mapInPandas``
kernel — map-only, no shuffle: at 100 TB the operator is embarrassingly
parallel and the only cost is the Arrow boundary.

Serialization contract (every rule below is mirrored by the driver
query's DuckDB oracle):

- blocks are emitted in document order and joined with ONE blank line;
- ``<h1>``–``<h6>`` → ``#``·level + space + inline text;
- ``<p>`` (and bare text between blocks) → a paragraph;
- ``<ul>``/``<ol>`` → one block; each ``<li>`` is a line with marker
  ``- `` or ``{n}. ``, nested lists indent two spaces per depth;
  implicit ``</li>`` closes are handled (real-world HTML omits them);
- ``<blockquote>`` → ``> `` + its collapsed inline text;
- ``<pre>`` → a fenced ``` block, content RAW (entities decoded but
  whitespace untouched — the one no-collapse region);
- inline: ``<a href>`` → ``[text](href)``, ``<b>/<strong>`` →
  ``**text**``, ``<i>/<em>`` → ``*text*``, ``<code>`` → `` `text` ``,
  ``<img src alt>`` → ``![alt](src)`` (all literal inside ``<pre>``);
- inline text is whitespace-collapsed AFTER assembly — exactly
  ``" ".join(s.split())`` over the full inline run, so marker glue
  (``**``/``[``) participates in the collapse the way character data
  does; the oracle restates this with the shared ``unicode_ws`` class
  over the identical raw concatenation;
- a block whose collapsed text is empty is NOT emitted (ws-only list
  items are skipped the same way);
- ``<script>/<style>/<noscript>/<template>/<head>`` subtrees are
  ignored by ALL handlers (skip-depth gate — <noscript>/<template>
  CONTENT arrives as markup, round-5k rule);
- Markdown metacharacters in character data are NOT escaped: the
  output is training text, verbatim content wins over render fidelity
  (documented deviation from renderer-oriented serializers).

The driver-checked query synthesizes a deterministic page per document
(``build_markdown_html``: token-addressed heading/paragraph/list/
blockquote/code blocks with entity, comment, script and wrapper-div
noise) and serializes it back; the DuckDB oracle REGENERATES the
expected Markdown string relationally (raw ``||`` concatenation +
the shared whitespace-class collapse + ``array_to_string`` over the
non-empty blocks), so the serialization rules are checked against an
independent spelling, not the parser.
"""

from __future__ import annotations

import html as _html
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

_SKIP_TAGS = {"script", "style", "noscript", "template", "head"}
_HEADINGS = {f"h{i}": i for i in range(1, 7)}
_WRAP_OPEN = {"b": "**", "strong": "**", "i": "*", "em": "*",
              "code": "`"}
# block tags that flush an open implicit paragraph
_BLOCK_OPENERS = set(_HEADINGS) | {"p", "ul", "ol", "blockquote", "pre",
                                   "table", "div", "li", "tr", "td",
                                   "th", "section", "article"}


def _collapse(parts: list[str]) -> str:
    return " ".join("".join(parts).split())


class _Item:
    __slots__ = ("parts", "line_done")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.line_done = False


class _MarkdownParser(HTMLParser):
    """One pass over the page; ``self.blocks`` is the result."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._skip = 0                      # _SKIP_TAGS nesting depth
        self._parts: list[str] | None = None  # open inline buffer
        self._prefix = ""                  # block prefix for _parts
        self._pre = 0                      # <pre> nesting depth
        self._pre_parts: list[str] = []
        self._lists: list[dict] = []       # {ordered, count}
        self._items: list[_Item] = []      # open <li> frames
        self._list_lines: list[str] = []
        self._implicit: list[str] = []     # bare text between blocks
        self._anchors: list[tuple[list[str], int, str]] = []

    # -- buffers -----------------------------------------------------
    def _sink(self) -> list[str] | None:
        if self._pre:
            return self._pre_parts
        if self._items:
            return self._items[-1].parts
        if self._parts is not None:
            return self._parts
        return self._implicit

    def _flush_implicit(self) -> None:
        text = _collapse(self._implicit)
        self._implicit = []
        if text:
            self.blocks.append(text)

    def _flush_inline(self) -> None:
        if self._parts is None:
            return
        text = _collapse(self._parts)
        if text:
            self.blocks.append(self._prefix + text)
        self._parts = None
        self._prefix = ""

    def _flush_item_line(self) -> None:
        """Emit the current <li>'s own line (once)."""
        if not self._items:
            return
        it = self._items[-1]
        if it.line_done:
            return
        it.line_done = True
        text = _collapse(it.parts)
        if not text:
            return
        depth = len(self._lists) - 1
        ctx = self._lists[-1]
        if ctx["ordered"]:
            ctx["count"] += 1
            marker = f"{ctx['count']}. "
        else:
            marker = "- "
        self._list_lines.append("  " * depth + marker + text)

    def _close_item(self) -> None:
        if self._items:
            self._flush_item_line()
            self._items.pop()

    # -- tag handlers ------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if self._pre:                       # structure is literal in pre
            if tag == "br":
                self._pre_parts.append("\n")
            return
        if tag in _HEADINGS or tag == "p" or tag == "blockquote":
            if self._items:
                # transparent inside <li> — but a block boundary is
                # still a word boundary (the collapse eats the extra)
                self._sink().append(" ")
                return
            if tag == "p" and self._prefix == "> " and \
                    self._parts is not None:
                self._sink().append(" ")    # <p> in blockquote: transparent
                return
            self._flush_inline()
            if not self._lists:
                self._flush_implicit()
            self._parts = []
            self._prefix = ("#" * _HEADINGS[tag] + " " if tag in _HEADINGS
                            else "> " if tag == "blockquote" else "")
            return
        if tag == "pre":
            if self._items:
                self._flush_item_line()     # pre splits the item's line
            self._flush_inline()
            if not self._lists:
                self._flush_implicit()
            self._pre = 1
            self._pre_parts = []
            return
        if tag in ("ul", "ol"):
            if self._lists:
                self._flush_item_line()     # nested list: parent line first
            else:
                self._flush_inline()
                self._flush_implicit()
            self._lists.append({"ordered": tag == "ol", "count": 0})
            return
        if tag == "li":
            if self._items and len(self._items) >= len(self._lists):
                self._close_item()          # implicit </li>
            if self._lists:
                self._items.append(_Item())
            return
        if tag == "br":
            self._sink().append("\n" if self._pre else " ")
            return
        if tag == "img":
            a = dict(attrs)
            alt = a.get("alt") or ""
            src = a.get("src") or ""
            self._sink().append(f"![{alt}]({src})")
            return
        if tag == "a":
            sink = self._sink()
            self._anchors.append(
                (sink, len(sink), dict(attrs).get("href") or ""))
            sink.append("[")
            return
        if tag in _WRAP_OPEN:
            self._sink().append(_WRAP_OPEN[tag])
            return
        if tag in _BLOCK_OPENERS:
            if self._lists or self._items:
                self._sink().append(" ")    # boundary = word boundary
                return
            self._flush_inline()
            self._flush_implicit()

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in _SKIP_TAGS:
            return
        # self-closed skip tag: starttag bumped the depth, undo it
        self._skip -= 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            if self._skip:
                self._skip -= 1
            return
        if self._skip:
            return
        if tag == "pre":
            if self._pre:
                self._pre = 0
                raw = "".join(self._pre_parts).strip("\n")
                self._pre_parts = []
                if raw.strip():
                    # inside a list: keep document order — the fence
                    # becomes a line of the (still-buffered) list block
                    target = (self._list_lines if self._lists
                              else self.blocks)
                    target.append("```\n" + raw + "\n```")
                if self._items:
                    self._close_item()      # tail text → implicit para
            return
        if self._pre:
            return
        if tag in _HEADINGS or tag == "p" or tag == "blockquote":
            if self._items:
                self._sink().append(" ")    # transparent close boundary
                return
            if tag == "p" and self._prefix == "> " and \
                    self._parts is not None:
                self._sink().append(" ")    # </p> inside blockquote
                return
            self._flush_inline()
            return
        if tag in ("ul", "ol"):
            if not self._lists:
                return
            self._close_item()
            self._lists.pop()
            if not self._lists and self._list_lines:
                self.blocks.append("\n".join(self._list_lines))
                self._list_lines = []
            return
        if tag == "li":
            self._close_item()
            return
        if tag in _BLOCK_OPENERS and (self._lists or self._items):
            self._sink().append(" ")        # boundary = word boundary
            return
        if tag == "a":
            if self._anchors:
                sink, pos, href = self._anchors.pop()
                if sink is self._sink() and len(sink) > pos:
                    sink.append(f"]({href})")
                    return
            self._sink().append("]()")      # orphan/cross-buffer anchor
            return
        if tag in _WRAP_OPEN:
            self._sink().append(_WRAP_OPEN[tag])

    def handle_data(self, data):
        if self._skip:
            return
        self._sink().append(data)

    def close(self):
        super().close()
        if self._pre:                       # unclosed <pre> at EOF
            self._pre = 0
            raw = "".join(self._pre_parts).strip("\n")
            self._pre_parts = []
            if raw.strip():
                self.blocks.append("```\n" + raw + "\n```")
        self._flush_inline()
        while self._lists:
            self._close_item()
            self._lists.pop()
        if self._list_lines:
            self.blocks.append("\n".join(self._list_lines))
            self._list_lines = []
        self._flush_implicit()


def html_to_markdown(page: str) -> tuple[str, int]:
    """(markdown, n_blocks) for one page."""
    p = _MarkdownParser()
    try:
        p.feed(page)
        p.close()
    except Exception:
        pass                                # hostile markup: keep blocks so far
    return "\n\n".join(p.blocks), len(p.blocks)


# ---------------------------------------------------------------------------
# deterministic synthesis for the driver-checked query
# ---------------------------------------------------------------------------

def build_markdown_html(doc_id: int, text: str | None) -> str:
    """A structured page addressed entirely by (doc_id, text tokens) —
    every construct below is mirrored by the query's DuckDB oracle:

    - heading level ``1 + doc_id % 3``, text token 0, inside a
      transparent ``<span>``;
    - a paragraph: token 1, token 2 wrapped ``<b>`` (even doc) or
      ``<i>`` (odd doc), token 3 as a link to ``/p/{doc_id}``, an
      ``<img>`` for ``doc_id % 4 == 1``, then a literal
      ``&amp; more`` entity tail;
    - a list of ``2 + doc_id % 3`` items holding tokens 4+i —
      ``<ul>`` for even docs, ``<ol>`` for odd; ``doc_id % 4 == 0``
      nests a one-item ``<ul>`` (token 8) inside item 0 (and omits
      that ``</li>``: implicit close);
    - ``doc_id % 3 == 0``: a blockquote ``Quote: token 9``;
    - ``doc_id % 5 == 0``: a ``<pre><code>`` block whose indentation
      must survive raw;
    - bare ``Footer {doc_id}`` text at body end (implicit paragraph);
    - noise: a ``<script>`` holding fake Markdown, an HTML comment, a
      wrapper ``<div>``, entity-escaped tokens throughout.
    """
    toks = [t for t in text.split(" ") if t] if isinstance(text, str) else []
    nt = len(toks)

    def tok(i: int) -> str:
        return _html.escape(toks[(doc_id + i) % nt]) if nt else f"w{i}"

    lvl = 1 + doc_id % 3
    n_items = 2 + doc_id % 3
    wrap = "b" if doc_id % 2 == 0 else "i"
    list_tag = "ul" if doc_id % 2 == 0 else "ol"
    parts = [
        "<html><head><title>x</title>"
        "<script># not a heading\nvar n = 1;</script></head><body>",
        "<!-- boilerplate comment -->",
        f"<div><h{lvl}><span>{tok(0)}</span></h{lvl}>",
        f'<p>{tok(1)} <{wrap}>{tok(2)}</{wrap}> '
        f'<a href="/p/{doc_id}">{tok(3)}</a>',
    ]
    if doc_id % 4 == 1:
        parts.append(f' <img src="/img/{doc_id}.png" alt="pic {doc_id}">')
    parts.append(" &amp; more</p>")
    parts.append(f"<{list_tag}>")
    for i in range(n_items):
        if i == 0 and doc_id % 4 == 0:
            # nested sublist, implicit </li> for the parent item
            parts.append(f"<li>{tok(4)}<ul><li>{tok(8)}</li></ul>")
        else:
            parts.append(f"<li>{tok(4 + i)}</li>")
    parts.append(f"</{list_tag}>")
    if doc_id % 3 == 0:
        parts.append(f"<blockquote>Quote: {tok(9)}</blockquote>")
    if doc_id % 5 == 0:
        parts.append(f"<pre><code>def f(x):\n    return x + {doc_id}\n"
                     "</code></pre>")
    parts.append(f"Footer {doc_id}</div></body></html>")
    return "".join(parts)


_SCHEMA = "doc_id bigint, n_blocks int, markdown string"


def _md_kernel(pages: Iterator[tuple]) -> pd.DataFrame:
    ids, nb, md = [], [], []
    for did, page in pages:
        # one row per INPUT row: a null/non-string page serializes to
        # the empty document, never a dropped row (cardinality contract)
        m, n = html_to_markdown(page) if isinstance(page, str) else ("", 0)
        ids.append(did)
        nb.append(n)
        md.append(m)
    return pd.DataFrame({
        "doc_id": pd.array(ids, dtype="Int64"),
        "n_blocks": pd.array(nb, dtype="Int32"),
        "markdown": md})


def markdown_from_docs(docs_df):
    """The driver-checked composition: synthesize the deterministic
    structured page per document and serialize it back, FUSED in one
    kernel (chained Python stages barely scale — round-5 rule)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _md_kernel(
                (int(did), build_markdown_html(int(did), text))
                for did, text in zip(pdf["doc_id"], pdf["text"]))

    from image_pdf_ocr_suite_spark.partitioning import fan_out_small

    return fan_out_small(docs_df.select("doc_id", "text")).mapInPandas(
        kernel, schema=_SCHEMA)
