"""DomUtils manipulation helpers over the relational nodes table
(operators/dommanip.py): mutate -> serialize -> reparse roundtrips.

Reference surface: appendChild / prependChild / append / prepend /
replaceElement / removeElement (reference README.md:166-218,
src/index.ts:86).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlparser2_spark.operators.dommanip import (
    append,
    append_child,
    prepend,
    prepend_child,
    replace_element,
    serialize_nodes,
)
from htmlparser2_spark.operators.domquery import explode_nodes, remove_elements

HTML = (
    '<html><body><h1>T</h1><p>one</p><style>x { }</style>'
    '<a href="u">link</a></body></html>'
)

EXPECTED = (
    '<html><body>HDR|<h1>T</h1><hr><p>one</p><nostyle></nostyle>'
    '[PRE]<a href="u">link</a><footer role="end"></footer></body></html>'
)


def _pages(spark, html=HTML, url="u1"):
    return spark.createDataFrame(
        [(url, bytearray(html.encode()))], "url string, html binary"
    )


def _nodes(spark, html=HTML, url="u1"):
    return explode_nodes(_pages(spark, html, url), with_ancestors=True)


def _render(nodes):
    return {r["url"]: r["manip_html"] for r in serialize_nodes(nodes).collect()}


# A matched <section> holding a 25-deep <div> chain: subtree removal
# must cost the same one join at any depth.
DEEP = (
    "<html><body><section>" + "<div>" * 25 + "x" + "</div>" * 25
    + "</section><p>keep</p></body></html>"
)


def _mutate(nodes):
    nodes = replace_element(
        nodes, lambda n: F.col("name") == "style",
        {"type": "tag", "name": "nostyle"},
    )
    nodes = prepend_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "text", "data": "HDR|"},
    )
    nodes = append_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "tag", "name": "footer", "attrs": {"role": "end"}},
    )
    nodes = append(
        nodes, lambda n: F.col("name") == "h1", {"type": "tag", "name": "hr"}
    )
    nodes = prepend(
        nodes, lambda n: F.col("name") == "a",
        {"type": "text", "data": "[PRE]"},
    )
    return nodes


@pytest.mark.spark
def test_manip_serialize_roundtrip(spark):
    nodes = _mutate(_nodes(spark))
    out = serialize_nodes(nodes).collect()
    assert len(out) == 1
    assert out[0]["manip_html"] == EXPECTED


@pytest.mark.spark
def test_manip_reparse_fixed_point(spark):
    """Serialized mutated markup reparses to a DOM that serializes
    identically (the serializer contract is a fixed point)."""
    nodes = _mutate(_nodes(spark))
    rendered = serialize_nodes(nodes).collect()[0]["manip_html"]
    pages2 = _pages(spark, html=rendered)
    again = serialize_nodes(explode_nodes(pages2)).collect()[0]["manip_html"]
    assert again == rendered == EXPECTED


@pytest.mark.spark
def test_insert_orders_and_ancestors(spark):
    """prepend_child shifts existing children right; inserted rows carry
    correct ancestors when the axis column is present."""
    nodes = _nodes(spark)
    body_id = (
        nodes.filter(F.col("name") == "body").collect()[0]["node_id"]
    )
    nodes = prepend_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "text", "data": "X"},
    )
    rows = {r["node_id"]: r for r in nodes.collect()}
    inserted = [
        r for r in rows.values() if r["type"] == "text" and r["data"] == "X"
    ]
    assert len(inserted) == 1
    ins = inserted[0]
    assert ins["parent_id"] == body_id
    assert ins["idx_in_parent"] == 0
    assert list(ins["ancestors"])[-1] == body_id
    h1 = next(r for r in rows.values() if r["name"] == "h1")
    assert h1["idx_in_parent"] == 1  # shifted right


@pytest.mark.spark
def test_mutation_fuzz_invariants(spark):
    """Seeded random op chains over random safe trees: after any chain,
    (a) idx_in_parent is dense 0..k-1 per parent, (b) every parent_id
    exists (or is -1), (c) node_ids are unique, and (d) the mutated
    table serializes -> reparses to the same element-name multiset and
    textContent."""
    import random

    from htmlparser2_spark.engine.dom import parse_document, text_content

    tags = ["p", "div", "span", "li", "em", "b"]
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        docs = []
        for d in range(6):
            parts = []
            for _ in range(rng.randint(1, 5)):
                t = rng.choice(tags)
                parts.append(f"<{t}>w{rng.randint(0, 9)} </{t}>")
            docs.append((f"u{d}", "<html><body>"
                         + "".join(parts) + "</body></html>"))
        pages = spark.createDataFrame(docs, "url string, html string")
        nodes = explode_nodes(pages)
        ops = [
            lambda n: append_child(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "text", "data": "A "},
            ),
            lambda n: prepend_child(
                n, lambda x: F.col("name") == "body",
                {"type": "tag", "name": "nav"},
            ),
            lambda n: append(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "tag", "name": "hr"},
            ),
            lambda n: prepend(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "text", "data": "B "},
            ),
        ]
        rng.shuffle(ops)
        for op in ops[: rng.randint(2, 4)]:
            nodes = op(nodes)
        rows = nodes.collect()
        by_url: dict[str, list] = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r)
        for url, rs in by_url.items():
            ids = [r["node_id"] for r in rs]
            assert len(ids) == len(set(ids)), f"{url}: duplicate node_ids"
            id_set = set(ids)
            kids: dict[int, list[int]] = {}
            for r in rs:
                assert r["parent_id"] == -1 or r["parent_id"] in id_set
                kids.setdefault(r["parent_id"], []).append(
                    r["idx_in_parent"]
                )
            for pid, idxs in kids.items():
                assert sorted(idxs) == list(range(len(idxs))), (
                    f"{url} parent {pid}: non-dense idx {sorted(idxs)}"
                )
        rendered = {
            r["url"]: r["manip_html"]
            for r in serialize_nodes(nodes).collect()
        }
        for url, rs in by_url.items():
            reparsed = parse_document(rendered[url])
            assert sorted(
                n["name"] for n in reparsed if n["name"] is not None
            ) == sorted(r["name"] for r in rs if r["name"] is not None)
            # textContent of the mutated adjacency == reparsed text.
            expected = "".join(
                p[1]["data"]
                for p in sorted(
                    (
                        (_doc_order_key(r, rs), r)
                        for r in rs
                        if r["type"] == "text"
                    ),
                    key=lambda p: p[0],
                )
            )
            assert text_content(reparsed) == expected


def _doc_order_key(row, rows):
    """Depth-first document-order key from (parent_id, idx_in_parent)
    chains — node_id order is NOT document order after mutation."""
    by_id = {r["node_id"]: r for r in rows}
    key = []
    cur = row
    while cur is not None:
        key.append(cur["idx_in_parent"])
        cur = by_id.get(cur["parent_id"])
    return tuple(reversed(key))


@pytest.mark.spark
def test_replace_drops_subtree(spark):
    for html, outer in [
        ("<html><body><div><p>inner<b>deep</b></p></div><p>keep</p></body>"
         "</html>", "div"),
        (DEEP, "section"),
    ]:
        out = replace_element(
            _nodes(spark, html=html), lambda n: F.col("name") == outer,
            {"type": "tag", "name": "section"},
        )
        assert _render(out)["u1"] == (
            "<html><body><section></section><p>keep</p></body></html>"
        )


@pytest.mark.spark
def test_replace_nested_match_drops_inner(spark):
    """A matched element nested inside another match belongs to the
    outer match's dropped subtree — only the TOP-LEVEL match is
    replaced (domutils replaces the outer pointer; the detached
    element keeps its children, inner match included)."""
    html = "<html><body><ul><li>x</li></ul><p>keep</p></body></html>"
    nodes = _nodes(spark, html=html)
    out = replace_element(
        nodes, lambda n: F.col("name").isin("ul", "li"),
        {"type": "tag", "name": "gone"},
    )
    rendered = serialize_nodes(out).collect()[0]["manip_html"]
    assert rendered == "<html><body><gone></gone><p>keep</p></body></html>"


@pytest.mark.spark
def test_remove_elements_drops_matches_and_subtrees(spark):
    """removeElement: each match leaves with its subtree, a match nested
    in another goes with the outer one, a document without a match is
    untouched, and any depth takes the same one join."""
    docs = {
        "nested": "<html><body><ul><li>a<ul><li>b</li></ul></li></ul>"
                  "<p>keep</p></body></html>",
        "none": "<html><body><p>only</p></body></html>",
        "deep": DEEP,
    }
    pages = spark.createDataFrame(list(docs.items()), "url string, html string")
    nodes = explode_nodes(pages, with_ancestors=True)
    out = remove_elements(nodes, lambda n: F.col("name").isin("ul", "section"))
    assert _render(out) == {
        "nested": "<html><body><p>keep</p></body></html>",
        "none": docs["none"],
        "deep": "<html><body><p>keep</p></body></html>",
    }
    with pytest.raises(ValueError, match="remove_elements.*with_ancestors"):
        remove_elements(explode_nodes(pages), lambda n: F.col("name") == "ul")
