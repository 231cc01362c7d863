"""DomUtils manipulation over the relational ``nodes`` table.

The reference README's "Modifying the DOM" section re-exports domutils'
pointer-surgery helpers ``appendChild``, ``prependChild``, ``append``,
``prepend``, ``replaceElement``, ``removeElement``
(/root/reference/README.md:166-218, src/index.ts:86). On Spark, the DOM
lives as the exploded adjacency table ``(url, node_id, parent_id,
idx_in_parent, type, name, attrs, attr_quotes, data, ...)``; every
mutation becomes a DataFrame transformation:

* insertions add rows with fresh per-document ``node_id``s (allocated
  above the per-url max, one window pass) and re-rank ``idx_in_parent``
  dense per (url, parent) — each helper returns a table whose sibling
  order is again dense integers, so helpers compose sequentially;
* ``replace_element`` overwrites the matched row in place (same
  node_id/parent/idx — the replacement takes the element's position,
  exactly domutils' children-list swap) and drops the old element's
  subtree, which leaves the tree with the replacement alone.

Ordering contract after mutation: **document order is the (parent_id,
idx_in_parent) tree walk, not node_id order** — freshly inserted ids are
allocated above existing ones wherever they land in the tree. Serialize
or re-extract through :func:`serialize_nodes`, which renders each
document via the engine serializer (idx-ordered children); node_id-sorted
consumers (``text_content_per_doc``) are only valid on unmutated tables.

Scale: each insertion helper costs one per-url max aggregation, one
broadcastable join of the (small) anchor set, and one window re-rank
partitioned by (url, parent_id) — all key-local, no cross-document
shuffle wider than the nodes table itself. ``replace_element`` reads
subtree membership from the ``ancestors`` column, as ``remove_elements``
does: one per-url set of matched ids and one join, at any depth.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .domquery import _drop_subtrees

__all__ = [
    "append_child",
    "prepend_child",
    "append",
    "prepend",
    "replace_element",
    "serialize_nodes",
]

# Inserted-row ordering keys relative to existing siblings at idx*2:
# prepend_child sorts before every existing child, append_child after.
_ORD_FIRST = -1
_ORD_LAST = 1 << 62


def _spec_cols(spec: dict) -> dict:
    """Literal node-field columns from a plain spec dict
    ``{"type": "tag"|"text"|"comment"|..., "name": ..., "data": ...,
    "attrs": {k: v}}`` (new nodes have no source positions; their
    ``start_index``/``end_index`` stay NULL via unionByName)."""
    cols = {
        "type": F.lit(spec.get("type", "tag")),
        "name": F.lit(spec.get("name")).cast("string"),
        "data": F.lit(spec.get("data")).cast("string"),
        "attr_quotes": F.lit(None).cast("map<string,string>"),
    }
    attrs = spec.get("attrs") or {}
    if attrs:
        pairs = []
        for k, v in attrs.items():
            pairs += [F.lit(k), F.lit(v)]
        cols["attrs"] = F.create_map(*pairs)
    else:
        cols["attrs"] = F.lit(None).cast("map<string,string>")
    return cols


def _insert(
    nodes: DataFrame,
    predicate,
    spec: dict,
    *,
    parent_from_anchor: bool,
    ord_expr,
    key_col: str,
) -> DataFrame:
    """Shared insertion machinery: one new node per anchor row, placed by
    ``ord_expr`` among existing siblings (which sit at ``idx*2``), then
    idx_in_parent re-ranked dense.

    The input is localCheckpoint'ed (lazily) first: each helper
    references its input three times (rows, per-url max id, anchors),
    so a chain of k mutations over an un-materialized parse would
    re-run the upstream plan O(3^k) times — the checkpoint bounds it
    to one materialization per mutation (linear in chain length). The
    subtree removal of replace_element makes the same trade."""
    nodes = nodes.localCheckpoint(eager=False)
    anchors = nodes.filter(predicate(nodes))
    sel = [
        F.col(key_col),
        F.col("node_id").alias("__anchor"),
        (
            F.col("node_id") if parent_from_anchor else F.col("parent_id")
        ).alias("parent_id"),
        ord_expr.alias("__ord"),
    ]
    if "ancestors" in nodes.columns:
        # Descendant-axis bookkeeping stays valid: a new child's ancestor
        # chain is the anchor's plus the anchor itself; a new sibling's
        # is the anchor's own.
        sel.append(
            (
                F.concat("ancestors", F.array("node_id"))
                if parent_from_anchor
                else F.col("ancestors")
            ).alias("ancestors")
        )
    anchors = anchors.select(*sel)
    mx = nodes.groupBy(key_col).agg(F.max("node_id").alias("__mx"))
    w_id = Window.partitionBy(key_col).orderBy("__anchor")
    new_rows = (
        anchors.join(mx, key_col)
        .withColumn(
            "node_id",
            (F.col("__mx") + F.row_number().over(w_id)).cast("int"),
        )
        .drop("__mx", "__anchor")
    )
    for name, col in _spec_cols(spec).items():
        new_rows = new_rows.withColumn(name, col)
    base = nodes.withColumn(
        "__ord", F.col("idx_in_parent").cast("bigint") * 2
    )
    merged = base.unionByName(new_rows, allowMissingColumns=True)
    return _renumber(merged, key_col)


def _renumber(nodes_with_ord: DataFrame, key_col: str) -> DataFrame:
    w = Window.partitionBy(key_col, "parent_id").orderBy("__ord", "node_id")
    return nodes_with_ord.withColumn(
        "idx_in_parent", (F.row_number().over(w) - 1).cast("int")
    ).drop("__ord")


def append_child(nodes: DataFrame, predicate, spec: dict,
                 key_col: str = "url") -> DataFrame:
    """domutils ``appendChild(parent, child)``: for every node matching
    ``predicate``, add a ``spec`` node as its LAST child."""
    return _insert(
        nodes, predicate, spec,
        parent_from_anchor=True, ord_expr=F.lit(_ORD_LAST), key_col=key_col,
    )


def prepend_child(nodes: DataFrame, predicate, spec: dict,
                  key_col: str = "url") -> DataFrame:
    """domutils ``prependChild(parent, child)``: new FIRST child of every
    matching node; existing children shift one position right."""
    return _insert(
        nodes, predicate, spec,
        parent_from_anchor=True, ord_expr=F.lit(_ORD_FIRST), key_col=key_col,
    )


def append(nodes: DataFrame, predicate, spec: dict,
           key_col: str = "url") -> DataFrame:
    """domutils ``append(elem, next)``: insert a ``spec`` node as the
    sibling immediately AFTER every matching node."""
    return _insert(
        nodes, predicate, spec,
        parent_from_anchor=False,
        ord_expr=F.col("idx_in_parent").cast("bigint") * 2 + 1,
        key_col=key_col,
    )


def prepend(nodes: DataFrame, predicate, spec: dict,
            key_col: str = "url") -> DataFrame:
    """domutils ``prepend(elem, prev)``: sibling immediately BEFORE every
    matching node."""
    return _insert(
        nodes, predicate, spec,
        parent_from_anchor=False,
        ord_expr=F.col("idx_in_parent").cast("bigint") * 2 - 1,
        key_col=key_col,
    )


def replace_element(nodes: DataFrame, predicate, spec: dict,
                    key_col: str = "url") -> DataFrame:
    """domutils ``replaceElement(elem, replacement)``: the replacement
    takes the element's position in its parent (same node_id, parent_id,
    idx_in_parent); the old element leaves the tree WITH its subtree
    (domutils swaps the parent's child pointer — the detached element
    keeps its children, so they are gone from the document). Requires
    ``with_ancestors=True`` nodes, like remove_elements."""
    # An inner match has the outer match in its ancestors, so it goes
    # with the outer subtree: one replacement, never one inside another.
    kept = _drop_subtrees(nodes, predicate, key_col, drop_matches=False,
                          what="replace_element")
    cond = predicate(kept)
    out = kept
    for name, col in _spec_cols(spec).items():
        out = out.withColumn(name, F.when(cond, col).otherwise(F.col(name)))
    return out


def serialize_nodes(
    nodes: DataFrame,
    *,
    key_col: str = "url",
    xml_mode: bool = False,
    out_col: str = "manip_html",
) -> DataFrame:
    """Render each document's adjacency rows back to markup —
    getOuterHTML over the *relational* table, the mutate→serialize leg
    of the manipulation roundtrip. One ``applyInArrow`` group per
    document (Arrow-batched; grouping shuffles only the nodes table,
    keyed by document, so partitions stay document-local at any scale).
    Sibling order follows idx_in_parent via the engine serializer."""
    from ..engine.dom import serialize

    cols = [key_col, "node_id", "parent_id", "idx_in_parent",
            "type", "name", "attrs", "attr_quotes", "data"]

    schema = pa.schema([(key_col, pa.string()), (out_col, pa.string())])

    def render(table: pa.Table) -> pa.Table:
        recs = table.to_pylist()
        for r in recs:
            # Arrow delivers MapType cells as lists of (k, v) tuples.
            for m in ("attrs", "attr_quotes"):
                v = r[m]
                r[m] = dict(v) if isinstance(v, (list, tuple)) else v
        return pa.table(
            {
                key_col: [recs[0][key_col]],
                out_col: [serialize(recs, xml_mode=xml_mode)],
            },
            schema=schema,
        )

    return (
        nodes.select(*cols)
        .groupBy(key_col)
        .applyInArrow(render, f"{key_col} string, {out_col} string")
    )
