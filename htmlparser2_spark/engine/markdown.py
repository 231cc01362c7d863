"""DOM -> Markdown rendering (training-corpus text shaping).

LLM-data pipelines routinely keep *structure* that plain textContent
(reference DomUtils ``textContent``, README.md:184) throws away —
headings, lists, links, tables — by converting pages to Markdown. The
reference has no such operator; this renderer applies a small, fixed,
deterministic rule set so the Spark oracle can predict output exactly:

* rendered scope: the first ``<body>`` subtree when present, else the
  whole document; ``head``/``script``/``style``/``title`` subtrees,
  comments, directives/PIs are skipped;
* blocks joined by one blank line: ``h1..h6`` -> ``#``*n, ``p`` ->
  inline text, ``ul``/``ol`` -> ``- `` / ``1. `` items (nested lists
  indent two spaces per level), ``pre`` -> fenced code block,
  ``blockquote`` -> ``> `` per line, ``hr`` -> ``---``, ``table`` ->
  pipe rows with the first row as header, ``textarea`` -> its raw
  text; ``div``-like containers are transparent;
* consecutive inline siblings at block level form an implicit
  paragraph; ``a`` -> ``[text](href)``, ``img`` -> ``![alt](src)``,
  ``strong``/``b`` -> ``**..**``, ``em``/``i`` -> ``*..*``, ``code``
  -> `` `..` ``, ``br`` -> a newline; other inline elements are
  transparent;
* whitespace in inline content collapses to single spaces (``pre``
  keeps raw text); cell ``|`` is escaped; no other Markdown escaping —
  content fidelity over re-parseability, documented trade-off.

Close-event contract
--------------------
The reference's Handler delivers each element's ``onclosetag`` after
all of its content (PAPER.md §1.1, Parser.ts:216-253): the post-order a
renderer needs. :class:`MarkdownHandler` is that renderer, one Parser
handler with an explicit stack of frames, one per open element:

* the open tag picks the element's open function from its parent's
  rules for child tags and its own name: block container, leaf block
  (paragraph, heading, ``pre``, ``textarea``, ``hr``), wrapper
  (``b``/``i``/``code``/linked ``a``), transparent inline, list, list
  item, table, row, cell, or skipped. The function builds the frame:
  its close function, the rules for its own children, its text sink
  and the fields its close reads. The first ``<body>`` opens a new
  root, the rendered scope;
* text (scrubbed of NUL, CDATA sections dropped) joins the innermost
  frame's parts; a transparent element shares its parent's;
* the close calls the frame's close function, which hands the
  element's piece or blocks to its parent.

A wrapper copies its collapsed content into one string only up to
``_FLAT`` chars; longer content travels as a *rope*, a nested list that
no enclosing collapse changes (``_rope``) and the enclosing block
flattens once (``_text``). So nested wrappers copy at most ``_FLAT``
chars each, and the work stays linear in the page at any nesting depth.

:class:`MarkdownExtractor` pairs the handler with one reused
``Parser(batch_text=True)``: the one production path, behind
``parse_pages(mode="markdown")`` and ``markdown_udf``.
:func:`to_markdown` replays a DomArrayHandler adjacency list as
open/text/close events into the same handler (children in
``idx_in_parent`` order, operators/dommanip renumbers it in place);
tests, the oracle and the engine replays use it. DomArrayHandler
(engine/dom.py) stays the relational DOM contract — dom_nodes_udf, the
node queries, the serializer.
"""

from __future__ import annotations

import re
from itertools import groupby
from operator import itemgetter

from .parser import Parser, ParserOptions

__all__ = ["MarkdownExtractor", "MarkdownHandler", "to_markdown"]

_SKIP = {"head", "script", "style", "title"}
_BLOCK = {
    "address", "article", "aside", "blockquote", "body", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2",
    "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main", "nav",
    "ol", "p", "pre", "section", "table", "tbody", "td", "textarea",
    "tfoot", "th", "thead", "tr", "ul",
}
_HEADINGS = {f"h{i}": "#" * i for i in range(1, 7)}
_MARKS = {"b": "**", "strong": "**", "i": "*", "em": "*", "code": "`"}
_WS = re.compile(r"[ \t\r\n\f]+")
_SPACES = " \t\r\n\f"
# Placeholder so <br> survives whitespace collapsing. NUL is a valid
# parsed-text character (the tokenizer passes it through), so document
# text is scrubbed of the sentinel before splicing — a literal NUL in
# page text must not become a phantom line break (it is dropped from
# the markdown output instead, the right call for training text).
_BR = "\x00"
_BR_RE = re.compile(f" ?{_BR} ?")
# A wrapper's collapsed text longer than this is a rope. Any bound keeps
# deep nesting linear (<b> x 10^5: 1.5-1.7 CPU-s for bounds 0 to 16K,
# 32 s unbounded); strings below it keep the common case fast (ropes
# for all wrapped text: 0.70x on the structured pages, whose longest
# wrapped text is 31 chars).
_FLAT = 1024


def _rope(parts: list) -> list:
    """A wrapper's collapsed content as the rope ``[text, rope, ...,
    text]``: each run of text collapsed as ``_text`` does, ends
    stripped, and each newline run a space, as the enclosing collapse
    would make it. So a rope holds no whitespace run, newline or NUL
    and starts and ends with a mark: no collapse changes it, and no
    whitespace run or sentinel match crosses its edges."""
    rope: list = []
    for is_text, run in groupby(parts, lambda item: item.__class__ is str):
        if is_text:
            text = _BR_RE.sub("\n", _WS.sub(" ", "".join(run)))
            run = (_WS.sub(" ", text),)
        rope += run
    rope[0] = rope[0].lstrip()
    rope[-1] = rope[-1].rstrip()
    return rope


def _text(parts: list) -> str:
    """The collapsed text of inline ``parts``: whitespace runs -> one
    space, each <br> sentinel (with a space on either side) -> a
    newline, the ends stripped. Ropes are flattened first (with a
    stack): a collapse leaves them as they are, so the one collapse of
    the whole is linear in its length."""
    try:
        raw = "".join(parts)
    except TypeError:  # parts hold a rope
        out, todo = [], [parts]
        while todo:
            item = todo.pop()
            if item.__class__ is str:
                out.append(item)
            else:
                todo += reversed(item)
        raw = "".join(out)
    # Fast-path guard: text needing collapse holds a non-space
    # whitespace char or a double space; clean text (the common case
    # for running text) skips the sub's string rebuild. Five substring
    # tests beat one regex search ("[\t\r\n\f]|  " tries the
    # alternation at every offset): ~1 us vs ~11 us on a 380-char
    # paragraph.
    if "  " in raw or "\n" in raw or "\t" in raw or "\r" in raw or "\f" in raw:
        raw = _WS.sub(" ", raw)
    if _BR in raw:
        raw = _BR_RE.sub("\n", raw)
    return raw.strip()


def _flush(run: list, out: list) -> None:
    """Pending inline pieces at block level -> an implicit paragraph."""
    if run:
        _place(_text(run), out, None)
        run.clear()


def _place(text: str, out: list, indent) -> None:
    """A closed block element's ``text`` joins ``out``. Inside a list
    item (``indent`` is the item's tail and a pad), every line of
    ``out`` then joins the item's tail, padded."""
    if text:
        out.append(text)
    if indent is not None:
        tail, pad = indent
        tail.extend(pad + line for block in out for line in block.split("\n"))


# ---------------- frames ----------------
# A frame is a tuple (close, kids, parts, ...): the function that hands
# the closed element on (None: nothing to hand on), the rules for its
# child tags (a dict of open functions and the default one), and the
# sink of its text (None drops text). The open functions below list the
# fields that follow. A block container's and a quote's are
# (..., out, depth): the block list its children join, and the list
# depth its nested lists indent by.


def _open_span(name: str, attrs: dict, parent: tuple) -> tuple:
    """A transparent element: its text joins the parent's parts, under
    the parent's rules (the inline rules, under a block's): inside raw
    text, raw text too."""
    kids = parent[1]
    return (None, _INLINE if kids is _BLOCKS else kids, parent[2])


def _open_skip(name: str, attrs: dict, parent: tuple) -> tuple:
    return _SKIPPED


def _open_void(name: str, attrs: dict, parent: tuple) -> tuple:
    """br and img: a piece of the parent's text."""
    alt, src = attrs.get("alt", ""), attrs.get("src", "")
    parent[2].append(_BR if name == "br" else f"![{alt}]({src})")
    return _SKIPPED


def _open_wrap(name: str, attrs: dict, parent: tuple) -> tuple:
    """b/strong, i/em, code and a: (..., parent's parts, left mark,
    right mark, keep_empty). A link without an href is transparent."""
    if name != "a":
        mark = _MARKS[name]
        return (_close_wrap, _INLINE, [], parent[2], mark, mark, False)
    href = attrs.get("href")
    if not href:
        return (None, _INLINE, parent[2])
    return (_close_wrap, _INLINE, [], parent[2], "[", f"]({href})", True)


def _close_wrap(frame: tuple) -> None:
    """Hand the parent's parts the wrapper's collapsed content between
    ``left`` and ``right``, with a space outside each mark the content
    started or ended with whitespace at ('foo<b> bar </b>baz' -> 'foo
    **bar** baz'). Content that collapses to nothing gives a link
    ``[](href)`` (``keep_empty``; empty content counts as whitespace at
    both edges), else a single space if it held whitespace: it still
    separates its neighbours. Content longer than ``_FLAT`` chars, or
    holding a rope, goes as a rope."""
    _, _, parts, into, left, right, keep_empty = frame
    try:
        inner = "".join(parts)
    except TypeError:  # parts hold a rope; a rope sits between marks,
        ends = [item for item in parts if item]  # so the ends are text
        inner, core = ends[0][0] + ends[-1][-1], None
    else:
        core = _text((inner,))
        if not (core or keep_empty):
            if inner:
                into.append(" ")
            return
        if len(core) > _FLAT:
            core = None
        elif core == inner and core:  # no whitespace at either edge
            into.append(f"{left}{core}{right}")
            return
    e0 = " " if inner[:1] in _SPACES else ""
    e1 = " " if inner[-1:] in _SPACES else ""
    if core is None:
        into += (e0, left, _rope(parts), right, e1)
    else:
        into.append(f"{e0}{left}{core}{right}{e1}")


def _home(parent: tuple) -> tuple:
    """(out, depth, indent) of a block element: its parent's block list
    and depth, with the parent's pending inline run flushed first; in a
    list item, a list of its own, one level deeper, that joins the
    item's tail padded."""
    if parent[0] is _close_item:
        _, _, _, _, _, depth, tail = parent
        depth += 1
        return [], depth, (tail, "  " * depth)
    _flush(parent[2], parent[3])
    return parent[3], parent[4], None


def _open_box(name: str, attrs: dict, parent: tuple) -> tuple:
    """A block container: (..., out, depth, indent). A blockquote's
    children join blocks of its own: (..., its blocks, depth, indent,
    out)."""
    out, depth, indent = _home(parent)
    if name == "blockquote":
        return (_close_quote, _BLOCKS, [], [], depth, indent, out)
    return (_close_box, _BLOCKS, [], out, depth, indent)


def _close_box(frame: tuple) -> None:
    _, _, run, out, _, indent = frame
    _place(_text(run), out, indent)


def _close_quote(frame: tuple) -> None:
    _, _, run, blocks, _, indent, out = frame
    _flush(run, blocks)
    lines = "\n\n".join(blocks).split("\n")
    _place("\n".join(f"> {line}" if line else ">" for line in lines), out, indent)


def _open_leaf(name: str, attrs: dict, parent: tuple) -> tuple:
    """A block element with no block children (p, h1-h6, pre,
    textarea, hr): (..., out, indent, name)."""
    close, kids = _LEAVES[name]
    if parent[2] or parent[0] is _close_item:
        out, _, indent = _home(parent)
        return (close, kids, [], out, indent, name)
    return (close, kids, [], parent[3], None, name)  # _home's common case


def _close_para(frame: tuple) -> None:  # p, textarea
    _, _, parts, out, indent, _ = frame
    if indent is not None:
        _place(_text(parts), out, indent)
    elif parts:  # _place's common case
        text = _text(parts)
        if text:
            out.append(text)


def _close_heading(frame: tuple) -> None:
    _, _, parts, out, indent, name = frame
    _place(f"{_HEADINGS[name]} {_text(parts)}".rstrip(), out, indent)


def _close_pre(frame: tuple) -> None:
    _, _, parts, out, indent, _ = frame
    _place(f"```\n{''.join(parts)}\n```", out, indent)


def _close_hr(frame: tuple) -> None:
    _place("---", frame[3], frame[4])


def _open_table(name: str, attrs: dict, parent: tuple) -> tuple:
    out, _, indent = _home(parent)
    return (_close_table, _TABLE_KIDS, None, [], out, indent)


def _close_table(frame: tuple) -> None:
    _, _, _, rows, out, indent = frame
    if rows:  # the header's separator row
        rows.insert(1, ["---"] * len(rows[0]))
    _place("\n".join(f"| {' | '.join(row)} |" for row in rows), out, indent)


def _open_row(name: str, attrs: dict, parent: tuple) -> tuple:
    """tr: (..., cells), one of its table's rows. thead/tbody/tfoot:
    (..., rows), its table's rows."""
    if name != "tr":
        return (None, _TABLE_KIDS, None, parent[3])
    cells: list = []
    parent[3].append(cells)
    return (None, _ROW_KIDS, None, cells)


def _open_cell(name: str, attrs: dict, parent: tuple) -> tuple:
    return (_close_cell, _INLINE, [], parent[3])


def _close_cell(frame: tuple) -> None:
    frame[3].append(_text(frame[2]).replace("|", "\\|"))


def _open_list(name: str, attrs: dict, parent: tuple) -> list:
    """A list (mutable: it counts its items): [..., lines, depth,
    ordered, items so far, out, indent, tail]. In a list item it is
    the item's nested list, whose lines join the item's ``tail``."""
    if parent[0] is _close_item:
        out, depth, indent, tail = None, parent[5] + 1, None, parent[6]
    else:
        (out, depth, indent), tail = _home(parent), None
    return [_close_list, _LIST_KIDS, None, [], depth, name == "ol", 0,
            out, indent, tail]


def _close_list(frame: list) -> None:
    _, _, _, lines, _, _, _, out, indent, tail = frame
    if tail is not None:  # an item's nested list, or an empty line
        tail.extend(lines or ("",))
    else:
        _place("\n".join(lines), out, indent)


def _open_item(name: str, attrs: dict, parent: list) -> tuple:
    """A list item: (..., head, the list's lines, its line's prefix,
    the list's depth, tail). Its block children and nested lists
    render into ``tail``, the lines after its own."""
    _, _, _, lines, depth, ordered, count, _, _, _ = parent
    parent[6] = count = count + 1
    prefix = "  " * depth + (f"{count}. " if ordered else "- ")
    return (_close_item, _BLOCKS, [], lines, prefix, depth, [])


def _close_item(frame: tuple) -> None:
    _, _, head, lines, prefix, _, tail = frame
    lines.append(prefix + _text(head))
    lines.extend(tail)


_SKIPPED = (None, ({}, _open_skip), None)
_IGNORED = _SKIPPED[1]
_RAW_TEXT = ({}, _open_span)
_INLINE_OPEN = {
    **dict.fromkeys(_SKIP, _open_skip), **dict.fromkeys(_MARKS, _open_wrap),
    "br": _open_void, "img": _open_void, "a": _open_wrap,
}
_INLINE = (_INLINE_OPEN, _open_span)
_LEAVES = {
    **dict.fromkeys(_HEADINGS, (_close_heading, _INLINE)),
    "p": (_close_para, _INLINE), "textarea": (_close_para, _RAW_TEXT),
    "pre": (_close_pre, _RAW_TEXT), "hr": (_close_hr, _IGNORED),
}
_BLOCKS = ({
    **_INLINE_OPEN, **dict.fromkeys(_BLOCK, _open_box),
    **dict.fromkeys(_LEAVES, _open_leaf),
    "table": _open_table, "ul": _open_list, "ol": _open_list,
}, _open_span)
_TABLE_KIDS = (dict.fromkeys(("tr", "thead", "tbody", "tfoot"), _open_row), _open_skip)
_ROW_KIDS = ({"td": _open_cell, "th": _open_cell}, _open_skip)
_LIST_KIDS = ({"li": _open_item}, _open_skip)


# ---------------- handler ----------------
class MarkdownHandler:
    """Parser handler that renders Markdown as the Parser closes each
    element (module docstring, close-event contract).

    :meth:`markdown` is the rendered scope; ``n_tags`` the number of
    opened elements — the element count of the DomArrayHandler array
    for the same parse. Reset on every parse (``on_parser_init``).
    """

    __slots__ = ("n_tags", "_stack", "_scope")

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        # the root: a block container at depth 0
        self._stack: list = [(None, _BLOCKS, [], [], 0)]
        self._scope: tuple | None = None  # the first <body>'s root
        self.n_tags = 0

    def markdown(self) -> str:
        frame = self._scope or self._stack[0]
        _flush(frame[2], frame[3])
        return "\n\n".join(frame[3])

    def on_open_tag(self, name: str, attrs: dict, is_implied: bool) -> None:
        self.n_tags += 1
        stack = self._stack
        if name == "body" and self._scope is None:
            self._scope = frame = (None, _BLOCKS, [], [], 0)
        else:
            parent = stack[-1]
            rules, default = parent[1]
            frame = rules.get(name, default)(name, attrs, parent)
        stack.append(frame)

    def on_close_tag(self, name: str, is_implied: bool) -> None:
        stack = self._stack
        # An open tag cut off by EOF ('<a/') closes with no on_open_tag:
        # each close pops one frame, but never the root.
        if len(stack) > 1:
            frame = stack.pop()
            if frame[0] is not None:
                frame[0](frame)

    def on_text(self, data: str) -> None:
        parts = self._stack[-1][2]
        if parts is not None:
            parts.append(data.replace(_BR, "") if _BR in data else data)

    # No rule emits a CDATA section: it is a skipped frame of its own
    # (no element opens or closes inside one).
    def on_cdata_start(self) -> None:
        self._stack.append(_SKIPPED)

    def on_cdata_end(self) -> None:
        self._stack.pop()


# ---------------- entry points ----------------
class MarkdownExtractor:
    """Reusable HTML -> Markdown extractor: one Parser (batched text)
    feeding a :class:`MarkdownHandler`, reset per document.
    ``options`` are ParserOptions keywords."""

    def __init__(self, **options) -> None:
        self._handler = MarkdownHandler()
        self._parser = Parser(self._handler, ParserOptions(**options), batch_text=True)

    def extract(self, doc: str) -> tuple[str, int]:
        """Returns (markdown, n_open_tags)."""
        self._parser.parse(doc)
        return self._handler.markdown(), self._handler.n_tags


_ELEMENT_TYPES = frozenset(("tag", "script", "style"))
# Comments and directives (and what hangs under them) render nothing.
_RENDERED = _ELEMENT_TYPES | {"text", "cdata"}


def to_markdown(nodes: list[dict]) -> str:
    """Adjacency node list (DomArrayHandler) -> Markdown string.

    Replays the first ``<body>`` in list order (else the document's
    top-level nodes) into a :class:`MarkdownHandler`, children in
    ``idx_in_parent`` order (list order among equal indices). A cdata
    node renders as empty text: its content is a child no rule reads."""
    kids_of: dict = {}
    # A stable sort: list order among equal indices.
    for n in sorted(nodes, key=itemgetter("idx_in_parent")):
        if n["type"] in _RENDERED:
            kids_of.setdefault(n["parent_id"], []).append(n)
    body = next((n for n in nodes if n["type"] == "tag" and n["name"] == "body"), None)
    handler = MarkdownHandler()
    stack = [iter(kids_of.get(-1, ()) if body is None else (body,))]
    while stack:
        for n in stack[-1]:
            if n["type"] in _ELEMENT_TYPES:
                handler.on_open_tag(n["name"], n["attrs"] or {}, False)
                stack.append(iter(kids_of.get(n["node_id"], ())))
                if len(stack) > len(nodes) + 1:
                    raise ValueError("adjacency list has a parent cycle")
                break
            handler.on_text(n["data"] or "")
        else:
            stack.pop()
            if stack:
                handler.on_close_tag("", False)
    return handler.markdown()
