"""DOM construction as flat adjacency arrays (DomHandler equivalent).

The reference delegates tree building to the external ``domhandler``
package (/root/reference/src/index.ts:6-18, 32-36). Spark has no recursive
types, so our DOM contract is an *adjacency representation* (SURVEY.md
§1.3): one dict per node with ``node_id``/``parent_id``/``idx_in_parent``
ordering the depth-first structure; explodable into a relational ``nodes``
table for DomUtils-style queries.

Node types follow domelementtype: ``tag``/``script``/``style`` for
elements, ``text``, ``comment``, ``cdata``, ``directive``. The document
root is the implicit parent ``-1``.
"""

from __future__ import annotations

from .parser import NO_VALUE, Parser, ParserOptions

__all__ = [
    "DomArrayHandler",
    "DefaultHandler",
    "ElementType",
    "parse_document",
    "text_content",
    "inner_text",
    "clean_text",
    "serialize",
    "inner_html_of",
]


class ElementType:
    """Node-type tags, mirroring the ``domelementtype`` re-export
    (/root/reference/src/index.ts:61). Values are the strings used in
    the adjacency nodes' ``type`` field."""

    ROOT = "root"  # implicit parent_id -1, never materialized as a row
    TAG = "tag"
    SCRIPT = "script"
    STYLE = "style"
    TEXT = "text"
    COMMENT = "comment"
    CDATA = "cdata"
    DIRECTIVE = "directive"


class DomArrayHandler:
    """Folds parser events into a flat node list (depth-first order).

    ``element_callback`` mirrors createDocumentStream's per-element
    callback (/root/reference/src/index.ts:44-55): invoked with the
    node dict each time an element finishes (its close tag fires), by
    which point all of its descendants are in ``self.nodes``.
    """

    def __init__(
        self,
        with_indices: bool = True,
        element_callback=None,
        with_ancestors: bool = False,
    ) -> None:
        self._with_indices = with_indices
        self._element_callback = element_callback
        # with_ancestors adds an ``ancestors`` list (open-element node
        # ids, root-first) to every node — the descendant axis for
        # relational DOM queries without per-doc transitive closure.
        self._with_ancestors = with_ancestors
        self.parser: Parser | None = None
        self._init_state()

    def _init_state(self) -> None:
        self.nodes: list[dict] = []
        self._stack: list[int] = []  # node_ids of open elements
        self._child_counts: dict[int, int] = {-1: 0}
        self._last_text: int | None = None  # node_id of an open text node
        # The open text node's data pieces from its second text event
        # on, joined into the node when the run ends (_join_text, at
        # every event that resets _last_text and at on_end): an
        # appending `+=` would copy the node per event.
        self._text_parts: list[str] = []
        self._in_cdata = False

    def attach(self, parser: Parser) -> None:
        self.parser = parser

    def on_parser_init(self, parser: Parser) -> None:
        # The reference DomHandler re-initializes its tree in
        # onparserinit (fired at Parser construction and after every
        # reset, Parser.ts:308/713-723), so a reused parser never leaks
        # the previous document's nodes into the next parse.
        self.parser = parser
        self._init_state()

    # ------------------------------------------------------------------
    def _add(self, node_type: str, name: str | None, data: str | None,
             attrs=None, quotes=None) -> int:
        parent = self._stack[-1] if self._stack else -1
        idx = self._child_counts.get(parent, 0)
        self._child_counts[parent] = idx + 1
        node_id = len(self.nodes)
        node = {
            "node_id": node_id,
            "parent_id": parent,
            "idx_in_parent": idx,
            "type": node_type,
            "name": name,
            "attrs": attrs,
            "attr_quotes": quotes,
            "data": data,
            "start_index": self.parser.start_index if self._with_indices else None,
            "end_index": self.parser.end_index if self._with_indices else None,
        }
        if self._with_ancestors:
            node["ancestors"] = list(self._stack)
        self.nodes.append(node)
        return node_id

    # ------------- handler callbacks -------------
    def on_open_tag(self, name: str, attrs: dict, is_implied: bool) -> None:
        node_type = (
            "script" if name == "script" else "style" if name == "style" else "tag"
        )
        quotes = {
            k: ("none" if q is NO_VALUE else "unquoted" if q is None else q)
            for k, q in (self.parser._attrib_quotes or {}).items()
        }
        if self._text_parts:
            self._join_text()
        node_id = self._add(node_type, name, None, dict(attrs), quotes)
        self._stack.append(node_id)
        self._last_text = None

    def on_close_tag(self, name: str, is_implied: bool) -> None:
        if self._text_parts:
            self._join_text()
        if self._stack:
            node_id = self._stack.pop()
            if self._with_indices:
                self.nodes[node_id]["end_index"] = self.parser.end_index
            if self._element_callback is not None:
                self._element_callback(self.nodes[node_id])
        self._last_text = None

    def on_text(self, data: str) -> None:
        node_id = self._last_text
        if node_id is None:
            self._last_text = self._add("text", None, data)
            return
        node = self.nodes[node_id]
        parts = self._text_parts
        if not parts:
            parts.append(node["data"])
        parts.append(data)
        if self._with_indices:
            node["end_index"] = self.parser.end_index

    def _join_text(self) -> None:
        """Write the open text node's pieces into it as its data."""
        parts = self._text_parts
        self.nodes[self._last_text]["data"] = "".join(parts)
        parts.clear()

    def on_comment(self, data: str) -> None:
        self._add("comment", None, data)

    def on_comment_end(self) -> None:
        if self._text_parts:
            self._join_text()
        self._last_text = None

    def on_cdata_start(self) -> None:
        if self._text_parts:
            self._join_text()
        cdata_id = self._add("cdata", None, None)
        self._stack.append(cdata_id)
        self._last_text = None
        self._in_cdata = True

    def on_cdata_end(self) -> None:
        if self._text_parts:
            self._join_text()
        if self._in_cdata and self._stack:
            self._stack.pop()
        self._in_cdata = False
        self._last_text = None

    def on_processing_instruction(self, name: str, data: str) -> None:
        if self._text_parts:
            self._join_text()
        self._add("directive", name, data)
        self._last_text = None

    def on_end(self) -> None:
        if self._text_parts:
            self._join_text()


# Old name for DomHandler kept by the reference for back-compat
# (/root/reference/src/index.ts:14-17).
DefaultHandler = DomArrayHandler


def parse_document(html: str, **options) -> list[dict]:
    """Parse a complete document into its adjacency node list."""
    handler = DomArrayHandler()
    parser = Parser(handler, ParserOptions(**options))
    handler.attach(parser)
    parser.parse(html)
    return handler.nodes


def text_content(nodes: list[dict]) -> str:
    """DomUtils ``textContent`` semantics: concatenation of every text
    node's data in document order (raw-text script/style bodies included —
    they are text nodes in the DOM; reference README.md:184)."""
    return "".join(n["data"] for n in nodes if n["type"] == "text")


def inner_text(nodes: list[dict]) -> str:
    """domutils ``innerText``-style rendered text: text nodes outside
    script/style subtrees, with ``<br>`` rendered as a newline
    (reference re-export: /root/reference/src/index.ts:86; contrast
    ``textContent`` which includes rawtext bodies verbatim)."""
    skip: set[int] = set()
    out: list[str] = []
    for n in nodes:
        # DFS order guarantees parent_id < node_id, so one pass suffices.
        if n["type"] in ("script", "style") or n["parent_id"] in skip:
            skip.add(n["node_id"])
            continue
        if n["type"] == "text":
            out.append(n["data"])
        elif n["type"] == "tag" and n["name"] == "br":
            out.append("\n")
    return "".join(out)


def clean_text(nodes: list[dict]) -> str:
    """Main-content flavored extraction: text nodes outside
    script/style/template subtrees, whitespace-normalized per block.
    (Engine-defined contract, pinned by our own fixtures.)"""
    skip: set[int] = set()
    out: list[str] = []
    for n in nodes:
        # DFS order guarantees parent_id < node_id, so one pass suffices.
        if n["type"] in ("script", "style") or n["parent_id"] in skip:
            skip.add(n["node_id"])
            continue
        if n["type"] == "text":
            piece = " ".join(n["data"].split())
            if piece:
                out.append(piece)
    return " ".join(out)


_VOID = frozenset(
    "area base basefont br col command embed frame hr img input isindex "
    "keygen link meta param source track wbr".split()
)


def serialize(nodes: list[dict], *, xml_mode: bool = False,
              root_id: int = -1) -> str:
    """Render the adjacency DOM back to markup (getOuterHTML-equivalent).

    Engine-defined formatting contract: double-quoted attributes with
    ``&``/``"`` escaped, void elements unclosed in HTML mode, self-closing
    empty elements in XML mode. ``root_id`` renders only that node's
    children (getInnerHTML semantics); the default -1 renders the whole
    document.
    """
    children: dict[int, list[dict]] = {}
    by_id: dict[int, dict] = {}
    for pos, n in enumerate(nodes):
        children.setdefault(n["parent_id"], []).append((pos, n))
        by_id[n["node_id"]] = n
    # Sibling order: idx_in_parent when present (mutated adjacency tables
    # from operators.dommanip renumber it), else incoming list position —
    # identical for handler output, where both are depth-first-dense.
    for lst in children.values():
        lst.sort(key=lambda pn: (
            pn[0] if pn[1].get("idx_in_parent") is None
            else pn[1]["idx_in_parent"],
            pn[0],
        ))
    children = {k: [n for _, n in v] for k, v in children.items()}

    def esc_text(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def esc_attr(s: str) -> str:
        return s.replace("&", "&amp;").replace('"', "&quot;")

    # Iterative render (explicit work stack): real-web DOMs can nest
    # deeper than Python's recursion limit.
    out: list[str] = []
    stack: list = list(reversed(children.get(root_id, [])))
    while stack:
        item = stack.pop()
        if isinstance(item, str):  # deferred closing text
            out.append(item)
            continue
        n = item
        t = n["type"]
        if t == "text":
            parent = by_id.get(n["parent_id"]) if n["parent_id"] >= 0 else None
            if parent is not None and parent["type"] in ("script", "style"):
                out.append(n["data"])
            else:
                out.append(esc_text(n["data"]))
            continue
        if t == "comment":
            out.append(f"<!--{n['data']}-->")
            continue
        if t == "cdata":
            out.append("<![CDATA[")
            stack.append("]]>")
            stack.extend(reversed(children.get(n["node_id"], [])))
            continue
        if t == "directive":
            out.append(f"<{n['data']}>")
            continue
        # element
        attrs = n["attrs"] or {}
        parts = [n["name"]]
        for k, v in attrs.items():
            quote = (n["attr_quotes"] or {}).get(k)
            if quote == "none" and v == "":
                parts.append(k)
            else:
                parts.append(f'{k}="{esc_attr(v)}"')
        open_tag = " ".join(parts)
        kids = children.get(n["node_id"], [])
        if not kids:
            if xml_mode:
                out.append(f"<{open_tag}/>")
            elif n["name"] in _VOID:
                out.append(f"<{open_tag}>")
            else:
                out.append(f"<{open_tag}></{n['name']}>")
            continue
        out.append(f"<{open_tag}>")
        stack.append(f"</{n['name']}>")
        stack.extend(reversed(kids))
    return "".join(out)


def inner_html_of(nodes: list[dict], node_id: int, *, xml_mode: bool = False) -> str:
    """domutils ``getInnerHTML``: the node's children serialized, without
    the node's own tag (reference re-export surface:
    /root/reference/README.md:166-218)."""
    return serialize(nodes, xml_mode=xml_mode, root_id=node_id)
