"""RSS / Atom / RDF feed extraction over adjacency-array DOMs.

Reimplements the field-mapping semantics the reference gets from
``domutils.getFeed`` (/root/reference/src/index.ts:68-84), pinned by the
three fixture goldens (src/__snapshots__/FeedHandler.spec.ts.snap:3-103):

* feed detection: first ``rss``/``feed``/``rdf:RDF`` element
* atom: id/title from direct children, link from the first ``<link
  href>``, description from ``summary`` then ``content``, updated ->
  datetime, author from a recursive ``email`` lookup; items from
  ``entry`` elements
* rss/rdf: channel children for the header (``lastBuildDate`` ->
  updated, ``managingEditor`` -> author), ``item`` elements with
  ``guid``/``pubDate``/``dc:date``; ``id`` is always ``""``
* media: ``media:content`` attributes with numeric coercions
* every fetched field is the trimmed textContent of the first match;
  absent fields are omitted (``None`` in the Spark struct)

Dates parse RFC 2822 and ISO 8601 into timezone-aware datetimes.
"""

from __future__ import annotations

import email.utils
from datetime import datetime, timezone

__all__ = ["get_feed", "parse_feed"]


def _children_map(nodes: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for n in nodes:
        out.setdefault(n["parent_id"], []).append(n)
    return out


def _elements(kids: dict, roots: list[dict], names: set[str], recurse: bool) -> list[dict]:
    found: list[dict] = []
    stack = list(reversed(roots))
    while stack:
        n = stack.pop()
        is_el = n["type"] in ("tag", "script", "style")
        if is_el and n["name"] in names:
            found.append(n)
            if not recurse:
                continue
        if recurse and is_el:
            stack.extend(reversed(kids.get(n["node_id"], [])))
    return found


def _one(kids: dict, roots: list[dict], name: str, recurse: bool = False):
    els = _elements(kids, roots, {name}, recurse)
    return els[0] if els else None


def _text_content(kids: dict, node: dict) -> str:
    out: list[str] = []
    stack = list(reversed(kids.get(node["node_id"], [])))
    while stack:
        n = stack.pop()
        if n["type"] == "text":
            out.append(n["data"])
        else:
            stack.extend(reversed(kids.get(n["node_id"], [])))
    return "".join(out)


def _fetch(kids: dict, roots: list[dict], name: str, recurse: bool = False):
    el = _one(kids, roots, name, recurse)
    if el is None:
        return None
    return _text_content(kids, el).strip()


def parse_date(value: str | None):
    if not value:
        return None
    value = value.strip()
    try:
        dt = email.utils.parsedate_to_datetime(value)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc)
    except (TypeError, ValueError):
        pass
    try:
        dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc)
    except ValueError:
        return None


_MEDIA_INT_FIELDS = (
    "fileSize",
    "bitrate",
    "framerate",
    "samplingrate",
    "channels",
    "duration",
    "height",
    "width",
)


def _media(kids: dict, roots: list[dict]) -> list[dict]:
    out = []
    for el in _elements(kids, roots, {"media:content"}, False):
        attrs = el["attrs"] or {}
        media = {
            "medium": attrs.get("medium"),
            "isDefault": bool(attrs.get("isDefault")),
            "url": attrs.get("url"),
            "type": attrs.get("type"),
            "expression": attrs.get("expression"),
            "lang": attrs.get("lang"),
        }
        for f in _MEDIA_INT_FIELDS:
            media[f] = _long(attrs.get(f))
        out.append(media)
    return out


def _long(raw: str | None) -> int | None:
    """``raw`` as a LongType value: None when absent, unparseable or
    outside the signed 64-bit range (one such value would otherwise
    fail the whole Arrow batch, not just its document)."""
    try:
        value = int(raw)
    except (TypeError, ValueError):
        return None
    return value if -(1 << 63) <= value < (1 << 63) else None


def get_feed(nodes: list[dict]) -> dict | None:
    """Extract a feed record from a parsed XML document's node list."""
    kids = _children_map(nodes)
    roots = kids.get(-1, [])
    root = None
    for el in _elements(kids, roots, {"rss", "feed", "rdf:RDF"}, True):
        root = el
        break
    if root is None:
        return None
    root_kids = kids.get(root["node_id"], [])

    if root["name"] == "feed":
        feed = {"type": "atom", "items": []}
        _put(feed, "id", _fetch(kids, root_kids, "id"))
        _put(feed, "title", _fetch(kids, root_kids, "title"))
        link_el = _one(kids, root_kids, "link")
        if link_el is not None:
            href = (link_el["attrs"] or {}).get("href")
            _put(feed, "link", href)
        _put(feed, "description", _fetch(kids, root_kids, "subtitle"))
        updated = _fetch(kids, root_kids, "updated")
        if updated:
            feed["updated"] = parse_date(updated)
        _put(feed, "author", _fetch(kids, root_kids, "email", recurse=True))
        for entry in _elements(kids, root_kids, {"entry"}, True):
            children = kids.get(entry["node_id"], [])
            item = {"media": _media(kids, children)}
            _put(item, "id", _fetch(kids, children, "id"))
            _put(item, "title", _fetch(kids, children, "title"))
            link_el = _one(kids, children, "link")
            if link_el is not None:
                _put(item, "link", (link_el["attrs"] or {}).get("href"))
            description = _fetch(kids, children, "summary")
            if description is None:
                description = _fetch(kids, children, "content")
            _put(item, "description", description)
            pub = _fetch(kids, children, "updated")
            if pub:
                item["pubDate"] = parse_date(pub)
            feed["items"].append(item)
        return feed

    # rss / rdf
    feed_type = root["name"][:3].lower()
    channel = _one(kids, root_kids, "channel")
    childs = kids.get(channel["node_id"], []) if channel is not None else []
    feed = {"type": feed_type, "id": "", "items": []}
    _put(feed, "title", _fetch(kids, childs, "title"))
    _put(feed, "link", _fetch(kids, childs, "link"))
    _put(feed, "description", _fetch(kids, childs, "description"))
    updated = _fetch(kids, childs, "lastBuildDate")
    if updated:
        feed["updated"] = parse_date(updated)
    _put(feed, "author", _fetch(kids, childs, "managingEditor", recurse=True))
    for item_el in _elements(kids, root_kids, {"item"}, True):
        children = kids.get(item_el["node_id"], [])
        item = {"media": _media(kids, children)}
        _put(item, "id", _fetch(kids, children, "guid"))
        _put(item, "title", _fetch(kids, children, "title"))
        _put(item, "link", _fetch(kids, children, "link"))
        _put(item, "description", _fetch(kids, children, "description"))
        pub = _fetch(kids, children, "pubDate") or _fetch(kids, children, "dc:date")
        if pub:
            item["pubDate"] = parse_date(pub)
        feed["items"].append(item)
    return feed


def _put(record: dict, key: str, value) -> None:
    # domutils addConditionally: only non-empty values are set.
    if value:
        record[key] = value


def parse_feed(xml: str) -> dict | None:
    """Parse a feed document string (xmlMode) into a feed record."""
    from .dom import parse_document

    return get_feed(parse_document(xml, xml_mode=True))
