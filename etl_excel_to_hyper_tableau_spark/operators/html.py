"""HTML boilerplate extraction — the text-extraction stage of a
CommonCrawl-style pipeline (RefinedWeb §3.1.2 / trafilatura's job):
raw pages carry navigation, scripts, styles and footers around the
content blocks, and training corpora want ONLY the content blocks.

The reference engine has no web surface at all (its sources are Excel
and CSV, excel_tables.py / scratch.py) — this module is part of the
LLM-pipeline extension surface, companion to :mod:`web` (URL hygiene
runs before fetch; extraction runs after).

Two halves:

* :func:`wrap_html` — deterministic page synthesis from the documents
  table (the media-factory precedent, ``make_class_png_media``):
  entirely JVM-side ``concat``/``regexp_replace`` expressions — no
  Python in the synthesis path — producing REAL nested HTML with the
  noise a crawler sees (``<nav>``, ``<script>``, ``<style>``,
  ``<footer>``), character entities, attribute-bearing tags, and the
  body text chunked into ``<p>`` paragraphs.
* :func:`html_extract` — the actual extractor: a stdlib
  ``html.parser.HTMLParser`` walk (no external libs) inside ONE
  Arrow-batched ``mapInPandas`` pass.  Map-only: page bytes never
  shuffle; the output is one row per kept content block.  Skip-subtree
  semantics for script/style/nav/footer/header/aside, entity decoding
  via the parser's ``convert_charrefs``, quarantine-and-continue on
  unparseable pages (``None`` html → dropped, matching the media
  decoders).

Scale shape: both halves are map-only and compose with partition
pruning — at 100 TB this is the canonical "touch every byte once"
stage, so the plan MUST stay a single scan → project → mapInPandas
with no exchange, and does (verified in tests/test_html.py's plan
assertion).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .parallelism import spread

# subtrees whose text is boilerplate by construction
_SKIP_TAGS = frozenset(
    {"script", "style", "nav", "footer", "header", "aside", "noscript"})
# block-level elements whose text IS content
_BLOCK_TAGS = frozenset(
    {"title", "h1", "h2", "h3", "h4", "h5", "h6", "p", "li"})
# HTML void elements never get end tags — they must not push the
# element stack (the parser reports <br>/<img> via handle_startendtag
# only for XHTML-style "/>"; plain "<br>" arrives as a start tag)
_VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input",
     "link", "meta", "source", "track", "wbr"})


def _escape(col: Column) -> Column:
    """HTML-escape a text column JVM-side (``&`` first, then angle
    brackets — the html.escape order)."""
    c = F.regexp_replace(col, r"&", "&amp;")
    c = F.regexp_replace(c, r"<", "&lt;")
    return F.regexp_replace(c, r">", "&gt;")


def wrap_html(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", lang_col: str = "lang",
              source_col: str = "source",
              html_col: str = "html") -> DataFrame:
    """Wrap each document in a deterministic full HTML page: head with
    ``<title>`` + ``<style>`` + ``<script>`` noise, ``<nav>`` with
    entity-bearing links, an ``<h1>`` whose text contains a character
    entity (``&amp;``), the body text HTML-escaped and chunked into
    80-char ``<p data-i>`` paragraphs (``regexp_replace`` on
    ``(.{1,80})`` — greedy fixed chunks plus the remainder, zero
    ``<p>`` blocks for empty text), a ``<ul>`` of metadata ``<li>``
    rows, and a ``<footer>``.  Pure column expressions — whole-stage
    codegen, no Python.
    """
    body = _escape(F.coalesce(F.col(text_col), F.lit("")))
    # (?s): dot must match newlines, or newline-containing text leaves
    # raw characters between <p> blocks (dropped by the extractor) and
    # diverges from the oracle's contiguous-substring chunking
    paras = F.regexp_replace(body, r"(?s)(.{1,80})",
                             r"<p data-i=\"x\">$1</p>")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col(id_col).cast("string"),
        F.lit("</title><style>p{color:#222}</style>"
              "<script>var x = 1 && 2;</script></head>"
              "<body><nav><a href=\"/\">Home</a> | "
              "<a href=\"/about\">About &amp; Help</a></nav>"
              "<h1 class=\"hd\">Docs &amp; Data "),
        F.col(id_col).cast("string"), F.lit("</h1>"),
        paras,
        F.lit("<ul><li>lang: "), F.col(lang_col),
        F.lit("</li><li>source: "), F.col(source_col),
        F.lit("</li></ul><footer>&copy; example</footer></body></html>"),
    )
    return df.withColumn(html_col, html)


class _BlockExtractor(HTMLParser):
    """Streaming block collector: text inside block-level elements is
    kept (entities already decoded by ``convert_charrefs``), any text
    under a skip-subtree is dropped, everything else (inter-element
    whitespace, bare body text) is ignored."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str]] = []  # (tag, text)
        # open SKIP-subtree roots only (names, not a symmetric depth
        # counter): real-world HTML legally omits end tags for
        # implicitly-closed elements (<li>, <p>, <td>…), so counting
        # every start/end tag inside a skip subtree leaks depth on
        # pages like <nav><ul><li>a<li>b</ul></nav> and silently drops
        # every content block after the nav.  Only tags that are
        # themselves skip roots move this stack; the skip ends when the
        # matching skip-root end tag arrives.
        self._skip_stack: list[str] = []
        self._stack: list[tuple[str, list[str]]] = []  # open block tags

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            return
        if tag in _SKIP_TAGS:
            self._skip_stack.append(tag)
        elif not self._skip_stack and tag in _BLOCK_TAGS:
            self._stack.append((tag, []))

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        if self._skip_stack:
            # pop up to and including the nearest matching open skip
            # root (handles an unclosed inner skip tag, e.g.
            # <nav><header>x</nav>); non-skip end tags inside a skip
            # subtree don't touch the state at all
            if tag in self._skip_stack:
                while self._skip_stack.pop() != tag:
                    pass
            return
        if self._stack and self._stack[-1][0] == tag:
            t, buf = self._stack.pop()
            self.blocks.append((t, "".join(buf)))

    def handle_data(self, data):
        if not self._skip_stack and self._stack:
            self._stack[-1][1].append(data)


def extract_blocks(html: str) -> list[tuple[str, str]]:
    """Parse one page; returns ``[(tag, text), ...]`` in document
    order.  Plain function so the oracle-facing behavior is unit-
    testable without Spark."""
    p = _BlockExtractor()
    p.feed(html)
    p.close()
    return p.blocks


def html_extract(df: DataFrame, id_col: str = "doc_id",
                 html_col: str = "html") -> DataFrame:
    """One row per kept content block: ``(id, block_idx, tag,
    block_text)``, ``block_idx`` 0-based in document order.  Arrow-
    batched ``mapInPandas``; map-only (the page bytes never shuffle —
    at 100 TB this stage must be touch-once, and is).  ``None`` pages
    are dropped (quarantine-and-continue, the media-decoder
    contract)."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("block_idx", T.LongType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("block_text", T.StringType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tags, texts = [], [], [], []
            for did, page in zip(pdf[id_col], pdf[html_col]):
                if page is None:
                    continue
                for i, (tag, text) in enumerate(extract_blocks(str(page))):
                    ids.append(int(did))
                    idxs.append(i)
                    tags.append(tag)
                    texts.append(text)
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="int64"),
                "block_idx": pd.array(idxs, dtype="int64"),
                "tag": pd.array(tags, dtype="string"),
                "block_text": pd.array(texts, dtype="string"),
            })

    # Parallelism guard ahead of the compute-bound parse: a small
    # parquet input is one row group -> one task would parse every page
    # on one core.  spread() is a no-op whenever the scan already yields
    # >= defaultParallelism partitions (the 100 TB case), so the plan
    # stays exchange-free at scale; locally it round-robins the page
    # column once (tests/test_html.py pins both properties).
    return spread(df.select(id_col, html_col)).mapInPandas(
        run, schema=out_schema)
