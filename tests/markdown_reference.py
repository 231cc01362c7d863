"""The recursive Markdown renderer, kept as a differential reference.

engine/markdown.py renders each element as the Parser closes it
(``MarkdownHandler``). This module keeps the two-pass renderer it
replaced: :class:`TreeHandler` builds a ``(name, attrs, kids)`` / ``str``
tree (adjacent text pieces allowed, comments/directives/CDATA dropped,
the first ``<body>`` kept), and ``_blocks``/``_inline``/``_list``/
``_rows``/``_raw_text`` walk it recursively with the same rule set.
:class:`ReferenceExtractor` is the old ``MarkdownExtractor`` and
:func:`reference_to_markdown` the old ``to_markdown``.

``MarkdownExtractor`` and ``to_markdown`` must give exactly this
module's output (tests/test_markdown.py, tests/test_fuzz.py and
tools/fuzz_campaign.py). The renderer recurses once per nesting level,
so it only serves documents nested well under the interpreter's
recursion limit; a deeper one raises RecursionError here.
"""

from __future__ import annotations

import re
from operator import itemgetter

from htmlparser2_spark.engine.parser import Parser, ParserOptions

__all__ = ["ReferenceExtractor", "TreeHandler", "reference_to_markdown"]

_SKIP = {"head", "script", "style", "title"}
_BLOCK = {
    "address", "article", "aside", "blockquote", "body", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2",
    "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main", "nav",
    "ol", "p", "pre", "section", "table", "tbody", "td", "textarea",
    "tfoot", "th", "thead", "tr", "ul",
}
_HEADINGS = {f"h{i}": i for i in range(1, 7)}
_WS = re.compile(r"[ \t\r\n\f]+")
# Placeholder so <br> survives whitespace collapsing. NUL is a valid
# parsed-text character (the tokenizer passes it through), so document
# text is scrubbed of the sentinel before splicing — a literal NUL in
# page text must not become a phantom line break (it is dropped from
# the markdown output instead, the right call for training text).
_BR = "\x00"
_BR_RE = re.compile(f" ?{_BR} ?")


def _collapse(raw: str) -> str:
    # Fast-path guard: text needing collapse holds a non-space
    # whitespace char or a double space; clean text (the common case
    # for running text) skips the sub's string rebuild. Five substring
    # tests beat one regex search ("[\t\r\n\f]|  " tries the
    # alternation at every offset): ~1 us vs ~11 us on a 380-char
    # paragraph.
    if (
        "  " in raw or "\n" in raw or "\t" in raw or "\r" in raw
        or "\f" in raw
    ):
        out = _WS.sub(" ", raw)
    else:
        out = raw
    if _BR in out:
        out = _BR_RE.sub("\n", out)
    return out.strip()


def _edge_space(inner: str, side: int) -> str:
    """The single space an inline wrapper must re-emit outside its
    markers when the wrapped content had leading/trailing whitespace
    ('foo<b> bar </b>baz' -> 'foo **bar** baz', not 'foo**bar**baz')."""
    ch = inner[side] if inner else ""
    return " " if ch in " \t\r\n\f" else ""


def _wrap(inner: str, mark: str) -> str:
    core = _collapse(inner)
    if not core:
        # a whitespace-only wrapper still separates its neighbours
        return " " if inner else ""
    return (
        _edge_space(inner, 0) + mark + core + mark + _edge_space(inner, -1)
    )


# ---------------- tree builders ----------------
class TreeHandler:
    """Parser handler that builds the renderer's tree directly.

    ``root`` holds the document's top-level nodes, ``body`` the first
    ``<body>`` element (None if the page has none), ``n_tags`` the
    number of opened elements — the element count of the
    DomArrayHandler array for the same parse. Reset on every parse
    (``on_parser_init``). The per-tag attrs dict is kept, not copied:
    the Parser makes a fresh one per tag and drops its own reference.
    """

    __slots__ = ("root", "body", "n_tags", "_kids", "_stack", "_in_cdata")

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        self.root: list = []
        self.body: tuple | None = None
        self.n_tags = 0
        self._kids = self.root  # child list of the innermost open element
        self._stack: list[list] = []  # child lists of its ancestors
        self._in_cdata = False

    def on_open_tag(self, name: str, attrs: dict, is_implied: bool) -> None:
        kids: list = []
        element = (name, attrs, kids)
        self._kids.append(element)
        self._stack.append(self._kids)
        self._kids = kids
        self.n_tags += 1
        if name == "body" and self.body is None:
            self.body = element

    def on_close_tag(self, name: str, is_implied: bool) -> None:
        if self._stack:
            self._kids = self._stack.pop()

    def on_text(self, data: str) -> None:
        # Each piece is its own node: the renderer only ever
        # concatenates neighbouring text, so a run split in two renders
        # the same.
        if not self._in_cdata:
            self._kids.append(data.replace(_BR, "") if _BR in data else data)

    def on_cdata_start(self) -> None:
        self._in_cdata = True

    def on_cdata_end(self) -> None:
        self._in_cdata = False


_ELEMENT_TYPES = frozenset(("tag", "script", "style"))
_NO_ATTRS: dict = {}


def _index(nodes: list[dict]) -> tuple[dict, object, bool]:
    """One pass over an adjacency list: node_id -> child list (root
    -1), the first ``<body>``'s node_id, and whether every sibling
    group arrived in ``idx_in_parent`` order."""
    kids_of: dict = {-1: []}
    last_idx: dict = {}
    body_id = None
    in_order = True
    for n in nodes:
        t = n["type"]
        if t in _ELEMENT_TYPES:
            nid = n["node_id"]
            kids = kids_of.get(nid)
            if kids is None:
                kids = kids_of[nid] = []
            name = n["name"]
            node = (name, n["attrs"] or _NO_ATTRS, kids)
            if body_id is None and name == "body" and t == "tag":
                body_id = nid
        elif t == "text" or t == "cdata":
            # DomArrayHandler's cdata nodes carry no data (their text
            # is a child, which no rule reads)
            node = n["data"] or ""
            if _BR in node:
                node = node.replace(_BR, "")
        else:
            continue  # comments, directives
        pid = n["parent_id"]
        sibs = kids_of.get(pid)
        if sibs is None:
            sibs = kids_of[pid] = []
        sibs.append(node)
        if in_order:
            idx = n["idx_in_parent"]
            if idx < last_idx.get(pid, idx):
                in_order = False
            last_idx[pid] = idx
    return kids_of, body_id, in_order


_IDX = itemgetter("idx_in_parent")


def _tree_of(nodes: list[dict]) -> list:
    """Adjacency list -> the child list the renderer starts from: the
    first ``<body>``'s children, else the document's."""
    kids_of, body_id, in_order = _index(nodes)
    if not in_order:
        # A stable sort by idx_in_parent orders every sibling group and
        # keeps list order among equal indices. The body stays the
        # first one in the list as given.
        kids_of = _index(sorted(nodes, key=_IDX))[0]
    return kids_of[-1 if body_id is None else body_id]


# ---------------- renderer ----------------
def _inline(node: tuple) -> str:
    name, attrs, kids = node
    if name in _SKIP:
        return ""
    if name == "br":
        return _BR
    if name == "img":
        return f"![{attrs.get('alt', '')}]({attrs.get('src', '')})"
    # explicit loop, not a comprehension: one frame per nesting level
    parts = []
    for k in kids:
        parts.append(k if k.__class__ is str else _inline(k))
    inner = "".join(parts)
    if name == "a":
        href = attrs.get("href")
        if not href:
            return inner
        return (
            _edge_space(inner, 0)
            + f"[{_collapse(inner)}]({href})"
            + _edge_space(inner, -1)
        )
    if name in ("strong", "b"):
        return _wrap(inner, "**")
    if name in ("em", "i"):
        return _wrap(inner, "*")
    if name == "code":
        return _wrap(inner, "`")
    return inner  # transparent inline (span, u, small, ...)


def _inline_text(kids: list) -> str:
    return _collapse(
        "".join([k if k.__class__ is str else _inline(k) for k in kids])
    )


def _raw_text(kids: list) -> str:
    parts = []
    for k in kids:
        parts.append(k if k.__class__ is str else _raw_text(k[2]))
    return "".join(parts)


def _blocks(nodes: list, depth: int, out: list[str]) -> list[str]:
    """Append the non-empty Markdown blocks of ``nodes`` to ``out``;
    returns ``out``."""
    run: list[str] = []  # pending inline pieces -> implicit paragraph
    for node in nodes:
        if node.__class__ is str:
            run.append(node)
            continue
        name = node[0]
        if name not in _BLOCK:
            run.append(_inline(node))
            continue
        if run:
            text = _collapse("".join(run))
            run.clear()
            if text:
                out.append(text)
        kids = node[2]
        if name in _HEADINGS:
            out.append(f"{'#' * _HEADINGS[name]} {_inline_text(kids)}".rstrip())
        elif name == "ul" or name == "ol":
            text = _list(node, depth)
            if text:
                out.append(text)
        elif name == "table":
            text = _table(kids)
            if text:
                out.append(text)
        elif name == "pre":
            out.append(f"```\n{_raw_text(kids)}\n```")
        elif name == "blockquote":
            inner = "\n\n".join(_blocks(kids, depth, []))
            out.append(
                "\n".join(f"> {line}" if line else ">"
                          for line in inner.split("\n"))
            )
        elif name == "hr":
            out.append("---")
        elif name == "textarea":
            text = _collapse(_raw_text(kids))
            if text:
                out.append(text)
        elif name == "p":
            text = _inline_text(kids)
            if text:
                out.append(text)
        else:  # transparent containers: div/section/tbody/...
            _blocks(kids, depth, out)
    if run:
        text = _collapse("".join(run))
        if text:
            out.append(text)
    return out


def _list(node: tuple, depth: int) -> str:
    ordered = node[0] == "ol"
    pad = "  " * depth
    lines: list[str] = []
    i = 0
    for li in node[2]:
        if li.__class__ is str or li[0] != "li":
            continue
        i += 1
        head: list[str] = []
        tail: list[str] = []
        for k in li[2]:
            if k.__class__ is str:
                head.append(k)
            elif k[0] == "ul" or k[0] == "ol":
                # nested lists carry their own depth-based indent
                tail.append(_list(k, depth + 1))
            elif k[0] in _BLOCK:
                tail.extend(
                    "\n".join(pad + "  " + line for line in block.split("\n"))
                    for block in _blocks([k], depth + 1, [])
                )
            else:
                head.append(_inline(k))
        marker = f"{i}. " if ordered else "- "
        lines.append(pad + marker + _collapse("".join(head)))
        lines.extend(tail)
    return "\n".join(lines)


def _rows(kids: list, rows: list[list[str]]) -> None:
    for k in kids:
        if k.__class__ is str:
            continue
        if k[0] == "tr":
            rows.append([
                _inline_text(cell[2]).replace("|", "\\|")
                for cell in k[2]
                if cell.__class__ is not str and cell[0] in ("td", "th")
            ])
        elif k[0] in ("thead", "tbody", "tfoot"):
            _rows(k[2], rows)


def _table(kids: list) -> str:
    rows: list[list[str]] = []
    _rows(kids, rows)
    if not rows:
        return ""
    lines = ["| " + " | ".join(rows[0]) + " |"]
    lines.append("| " + " | ".join("---" for _ in rows[0]) + " |")
    for row in rows[1:]:
        lines.append("| " + " | ".join(row) + " |")
    return "\n".join(lines)


# ---------------- entry points ----------------
class ReferenceExtractor:
    """HTML -> (markdown, n_open_tags) through :class:`TreeHandler` and
    the recursive renderer; ``options`` are ParserOptions keywords."""

    def __init__(self, **options) -> None:
        self._tree = TreeHandler()
        self._parser = Parser(
            self._tree, ParserOptions(**options), batch_text=True
        )

    def extract(self, doc: str) -> tuple[str, int]:
        self._parser.parse(doc)
        tree = self._tree
        body = tree.body
        scope = tree.root if body is None else body[2]
        return "\n\n".join(_blocks(scope, 0, [])), tree.n_tags


def reference_to_markdown(nodes: list[dict]) -> str:
    """Adjacency node list (DomArrayHandler) -> Markdown string."""
    return "\n\n".join(_blocks(_tree_of(nodes), 0, []))
