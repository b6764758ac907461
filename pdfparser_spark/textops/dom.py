"""DOM-heuristic main-content extraction over a REAL HTML tree.

north_rule names "DOM heuristics" alongside "HTML boilerplate strip" as
part of the main-content extraction surface.  ``html.py`` is the flat
block-scoring leg; this module is the tree leg: a pure-Python lenient
HTML parser (no external libs) builds an element tree per document, and a
Readability-style candidate scorer picks the main-content subtree:

  * every ``<p>`` with >= 25 chars of text contributes
    ``points = 1 + n_commas + min(len // 100, 3)`` to its PARENT (full)
    and its GRANDPARENT (half) — stored doubled (``points2``) so all
    arithmetic stays integer;
  * a candidate's final score is ``points2 * (1 - link_density)`` where
    ``link_density = link_text_len / total_text_len``; candidates are
    compared by exact integer cross-multiplication
    (``a.p2*(a.t-a.l)*b.t  vs  b.p2*(b.t-b.l)*a.t``) — no floats anywhere,
    so the winner is bit-reproducible across platforms and the DuckDB
    oracle can state it analytically;
  * the winner's direct ``<p>`` children, concatenated in document order,
    are the extracted main content.

The corpus has no HTML, so ``synthesize_dom`` wraps each document in a
deterministic NESTED page (nav + link-farm sidebar + ad + article with an
embedded related-links box + comments + footer) whose decoys defeat flat
length-based scoring: the sidebar out-lengths short articles but has
maximal link density, the ad sits inside the same ``content`` div as the
article, and every 9th document carries a long comma-heavy comment that
legitimately OUTSCORES the article — so the extractor's choice of subtree
is contested, not fixed, and the oracle checks the decision itself
(winner class + tag path) plus the metrics and the extracted text.

Scale: parse + score is a narrow per-doc Arrow kernel (``mapInArrow``,
zero shuffle); the page synthesis is a JVM projection, so column pruning
reaches the parquet scan.  The parser is lenient (never raises on corrupt
markup — fuzzed in tests) and iterative throughout (no recursion, so a
10^6-deep tag nest degrades to work, not a RecursionError).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runner import map_rows

MIN_P_CHARS = 25

# elements with no content model (never pushed on the open stack)
_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "source", "track", "wbr",
}
# raw-text elements: content is code, not prose — excluded from metrics
_RAW = {"script", "style"}

_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&"))


class Elem:
    __slots__ = ("tag", "attrs", "children", "index", "parent", "total", "link")

    def __init__(self, tag: str, attrs: dict, index: int, parent):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # Elem | str
        self.index = index
        self.parent = parent
        self.total = 0  # text chars under this node
        self.link = 0  # text chars under <a> descendants


def _unescape(s: str) -> str:
    if "&" not in s:
        return s
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s


def _parse_attrs(src: str, i: int) -> tuple[dict, int, bool]:
    """Parse attributes from ``i`` up to and past '>'.  Handles quoted
    values (which may contain '>'), bare values, and EOF leniently.
    Returns (attrs, pos_after_gt, self_closing)."""
    attrs: dict = {}
    n = len(src)
    while i < n:
        while i < n and src[i] in " \t\r\n":
            i += 1
        if i >= n:
            return attrs, n, False
        if src[i] == ">":
            return attrs, i + 1, False
        if src[i] == "/":
            j = i + 1
            while j < n and src[j] in " \t\r\n":
                j += 1
            if j < n and src[j] == ">":
                return attrs, j + 1, True
            i += 1
            continue
        k = i
        while i < n and src[i] not in "= \t\r\n>/":
            i += 1
        name = src[k:i].lower()
        while i < n and src[i] in " \t\r\n":
            i += 1
        val = ""
        if i < n and src[i] == "=":
            i += 1
            while i < n and src[i] in " \t\r\n":
                i += 1
            if i < n and src[i] in "'\"":
                q = src[i]
                end = src.find(q, i + 1)
                if end < 0:
                    val, i = src[i + 1 :], n
                else:
                    val, i = src[i + 1 : end], end + 1
            else:
                k = i
                while i < n and src[i] not in " \t\r\n>":
                    i += 1
                val = src[k:i]
        if name:
            attrs[name] = _unescape(val)
    return attrs, n, False


def parse_html(src: str) -> Elem:
    """Lenient HTML tree parse.  Mis-nested close tags pop to the nearest
    matching open element (else are ignored); comments/doctype/PIs are
    skipped; ``<script>``/``<style>`` bodies are consumed raw and dropped
    from the tree.  Never raises on any input string."""
    root = Elem("#root", {}, 0, None)
    stack = [root]
    i, n = 0, len(src)
    counter = 1
    while i < n:
        lt = src.find("<", i)
        if lt < 0:
            stack[-1].children.append(_unescape(src[i:]))
            break
        if lt > i:
            stack[-1].children.append(_unescape(src[i:lt]))
        if src.startswith("<!--", lt):
            end = src.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        if lt + 1 < n and src[lt + 1] in "!?":
            gt = src.find(">", lt)
            i = n if gt < 0 else gt + 1
            continue
        if lt + 1 < n and src[lt + 1] == "/":
            gt = src.find(">", lt)
            if gt < 0:
                break
            tag = src[lt + 2 : gt].strip().lower()
            for d in range(len(stack) - 1, 0, -1):
                if stack[d].tag == tag:
                    del stack[d:]
                    break
            i = gt + 1
            continue
        j = lt + 1
        while j < n and (src[j].isalnum() or src[j] in "-_"):
            j += 1
        tag = src[lt + 1 : j].lower()
        if not tag:
            stack[-1].children.append("<")
            i = lt + 1
            continue
        attrs, j, selfclose = _parse_attrs(src, j)
        node = Elem(tag, attrs, counter, stack[-1])
        counter += 1
        stack[-1].children.append(node)
        i = j
        if selfclose or tag in _VOID:
            continue
        if tag in _RAW:
            close = src.lower().find(f"</{tag}", i)
            i = n if close < 0 else src.find(">", close) + 1 or n
            continue
        stack.append(node)
    return root


def _fill_metrics(root: Elem) -> list[Elem]:
    """Populate total/link on every element (children before parents via
    reversed DFS preorder) and return all elements in document order."""
    order: list[Elem] = []
    stack = [root]
    while stack:
        nd = stack.pop()
        order.append(nd)
        for c in nd.children:
            if isinstance(c, Elem):
                stack.append(c)
    for nd in reversed(order):
        t = link = 0
        for c in nd.children:
            if isinstance(c, str):
                t += len(c)
            else:
                t += c.total
                link += c.total if c.tag == "a" else c.link
        nd.total, nd.link = t, link
    order.sort(key=lambda e: e.index)
    return order


def node_text(nd: Elem) -> str:
    """Concatenated text descendants in document order (iterative)."""
    out: list[str] = []
    stack: list = [nd]
    while stack:
        c = stack.pop()
        if isinstance(c, str):
            out.append(c)
        else:
            stack.extend(reversed(c.children))
    return "".join(out)


def _path(nd: Elem) -> str:
    parts: list[str] = []
    cur = nd
    while cur is not None and cur.tag != "#root":
        parts.append(cur.tag)
        cur = cur.parent
    return "/".join(reversed(parts))


def extract_main(src: str) -> dict | None:
    """Run the Readability-style scorer over one page.  Returns None when
    no candidate exists (no paragraph reaches MIN_P_CHARS)."""
    root = parse_html(src)
    order = _fill_metrics(root)
    points2: dict[int, int] = {}  # elem index -> doubled points
    by_index = {e.index: e for e in order}
    for nd in order:
        if nd.tag != "p" or nd.parent is None or nd.total < MIN_P_CHARS:
            continue
        txt = node_text(nd)
        pts = 1 + txt.count(",") + min(nd.total // 100, 3)
        par = nd.parent
        points2[par.index] = points2.get(par.index, 0) + 2 * pts
        gpar = par.parent
        if gpar is not None:
            points2[gpar.index] = points2.get(gpar.index, 0) + pts
    best: Elem | None = None
    best_p2 = 0
    for idx in sorted(points2):  # document order => deterministic ties
        nd = by_index[idx]
        p2, t, link = points2[idx], nd.total, nd.link
        if t <= 0:
            continue
        if best is None or p2 * (t - link) * best.total > best_p2 * (
            best.total - best.link
        ) * t:
            best, best_p2 = nd, p2
    if best is None:
        return None
    paras = [c for c in best.children if isinstance(c, Elem) and c.tag == "p"]
    return {
        "winner": best.attrs.get("class", best.tag),
        "path": _path(best),
        "p_count": len(paras),
        "points2": best_p2,
        "text_len": best.total,
        "link_len": best.link,
        "main_text": "\n".join(node_text(p) for p in paras),
    }


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def page_html(doc_id: int, text: str) -> str:
    """Pure-Python twin of :func:`synthesize_dom`'s template — MUST stay
    byte-identical to the Spark expression (parity-tested): the WARC synth
    writer serves this page as its 200-response body so the crawl chain
    (``read_warc -> dom_extract``) shares the DOM oracle."""
    ws = text.split(" ")
    h = (len(ws) + 1) // 2
    p1 = " ".join(ws[:h])
    p2 = " ".join(ws[h:])
    lf = text.replace(" ", ", ")
    return (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        '<div class="page">'
        '<div class="nav"><a href="/">Home</a><a href="/a">About</a>'
        '<a href="/c">Contact</a><a href="/p">Privacy</a></div>'
        '<div class="links">'
        + "".join(f'<a href="/t{k}">hot topic {k}</a>' for k in range(8))
        + "</div>"
        '<div class="content"><div class="ad">Sponsored: BUY NOW offer '
        f"{doc_id % 7}"
        f'</div><div class="article"><p>{p1}</p><p>{p2}</p>'
        '<div class="related"><a href="/r0">more 0</a>'
        '<a href="/r1">more 1</a><a href="/r2">more 2</a></div></div></div>'
        '<div class="comments"><p>nice post 0</p><p>nice post 1</p>'
        + ("<p>nice post 2</p>" if doc_id % 3 >= 1 else "")
        + ("<p>nice post 3</p>" if doc_id % 3 >= 2 else "")
        + (f"<p>{lf}</p>" if doc_id % 9 == 0 else "")
        + '</div><div class="footer">Copyright 2026 '
        '<a href="/terms">Terms</a></div></div></body></html>'
    )


def synthesize_dom(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, html): deterministic nested
    page, mirrored exactly by the DuckDB oracle.  The article body is the
    document text split into two paragraphs at the word midpoint
    (h = (wc+1)//2); every 9th document gains a long comma-joined comment
    that outscores the article."""
    ws = F.split(F.col("text"), " ")
    h = F.floor((F.size(ws) + 1) / 2).cast("int")
    p1 = F.array_join(F.slice(ws, F.lit(1), h), " ")
    p2 = F.array_join(F.slice(ws, h + 1, F.size(ws) - h), " ")
    lf = F.regexp_replace(F.col("text"), " ", ", ")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><div class="page">'),
        F.lit('<div class="nav"><a href="/">Home</a><a href="/a">About</a>'
              '<a href="/c">Contact</a><a href="/p">Privacy</a></div>'),
        F.lit('<div class="links">'
              + "".join(f'<a href="/t{k}">hot topic {k}</a>' for k in range(8))
              + "</div>"),
        F.lit('<div class="content"><div class="ad">Sponsored: BUY NOW offer '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</div><div class="article"><p>'),
        p1,
        F.lit("</p><p>"),
        p2,
        F.lit('</p><div class="related"><a href="/r0">more 0</a>'
              '<a href="/r1">more 1</a><a href="/r2">more 2</a></div></div></div>'),
        F.lit('<div class="comments"><p>nice post 0</p><p>nice post 1</p>'),
        F.when(F.col("doc_id") % 3 >= 1, F.lit("<p>nice post 2</p>")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 >= 2, F.lit("<p>nice post 3</p>")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.concat(F.lit("<p>"), lf, F.lit("</p>"))).otherwise(F.lit("")),
        F.lit('</div><div class="footer">Copyright 2026 '
              '<a href="/terms">Terms</a></div></div></body></html>'),
    )
    return documents.select("doc_id", html.alias("html"))


DOM_SCHEMA = (
    "doc_id long, winner string, path string, p_count int, points2 int, "
    "text_len int, link_len int, main_text string"
)


def dom_extract(pages: DataFrame) -> DataFrame:
    """(doc_id, html) -> winner-subtree row per doc; one mapInArrow,
    zero shuffle."""

    def rows_of(doc_id, src):
        res = extract_main(src)
        return [] if res is None else [{**res, "doc_id": doc_id}]

    return map_rows(pages.select("doc_id", "html"), DOM_SCHEMA, rows_of)


def dom_main_content(documents: DataFrame) -> DataFrame:
    """End-to-end: nested page template -> DOM-tree Readability scorer."""
    return dom_extract(synthesize_dom(documents))
