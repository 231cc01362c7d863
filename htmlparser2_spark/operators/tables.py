"""Relational extraction of HTML ``<table>`` structure to cells.

A training-data pipeline over Common-Crawl pages routinely lifts
``<table>`` markup into rows/columns (structured-data mining, table QA
corpora). The reference has no table operator — its users compose one
from DomUtils queries (getElementsByTagName("table") + children walks,
/root/reference/README.md:166-218); here that composition is a single
relational plan over the exploded ``nodes`` table.

Semantics:

* every ``<table>`` element becomes a table, numbered ``table_idx`` in
  document order (0-based);
* a ``<tr>`` belongs to its **nearest** enclosing table (node ids are
  assigned in document order, so the nearest enclosing ancestor is the
  largest table id on the row's ancestor stack) — ``thead``/``tbody``/
  ``tfoot`` wrappers and implied closes (htmlparser2's
  ``openImpliesClose`` already re-parents bare ``<tr><td>`` runs) are
  both transparent, and nested tables attach inner rows to the inner
  table only;
* a ``<td>``/``<th>`` belongs to its nearest enclosing ``tr`` the same
  way; ``row_idx``/``col_idx`` are 0-based ranks in document order
  within the table / row;
* ``cell_text`` is the cell's subtree text with domutils ``getText``
  semantics (text+CDATA descendants in document order, ``<br>`` as a
  newline) — a cell containing a nested table therefore includes the
  inner table's text, matching naive per-cell extraction.

Scale shape: every join, group, and window is keyed by
``(key_col, ...)`` first — no cross-document shuffle. The two
nearest-ancestor resolutions are explode→max aggregations over the
(small) tr/cell row sets, not transitive closures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cssselect import _ELEMENT_TYPES, _subtree_text
from .domquery import _require_ancestors

__all__ = ["table_cells"]


def _nearest(rows: DataFrame, containers: DataFrame, key_col: str,
             out_col: str) -> DataFrame:
    """Attach to each row the largest container node_id present on its
    ancestor stack (= nearest enclosing container); rows with no
    enclosing container drop out."""
    exploded = rows.select(
        key_col, F.col("node_id").alias("__rid"),
        F.explode("ancestors").alias("__anc"),
    )
    hits = exploded.join(
        containers.select(key_col, F.col("node_id").alias("__anc")),
        [key_col, "__anc"],
    )
    nearest = hits.groupBy(key_col, "__rid").agg(
        F.max("__anc").alias(out_col)
    )
    return rows.join(
        nearest.withColumnRenamed("__rid", "node_id"), [key_col, "node_id"]
    )


def table_cells(nodes: DataFrame, key_col: str = "url") -> DataFrame:
    """nodes (built with ``with_ancestors=True``) ->
    ``(key_col, table_idx, row_idx, col_idx, cell_tag, cell_text)``."""
    _require_ancestors(nodes, "table_cells")
    elems = nodes.filter(F.col("type").isin(*_ELEMENT_TYPES))
    tables = elems.filter(F.col("name") == "table").select(
        key_col, "node_id",
        (F.row_number().over(
            Window.partitionBy(key_col).orderBy("node_id")
        ) - 1).cast("int").alias("table_idx"),
    )
    trs = _nearest(
        elems.filter(F.col("name") == "tr")
        .select(key_col, "node_id", "ancestors"),
        tables, key_col, "__table_id",
    ).join(
        tables.select(
            key_col, F.col("node_id").alias("__table_id"), "table_idx"
        ),
        [key_col, "__table_id"],
    ).select(
        key_col, F.col("node_id").alias("__tr_id"), "table_idx",
        (F.row_number().over(
            Window.partitionBy(key_col, "__table_id").orderBy("node_id")
        ) - 1).cast("int").alias("row_idx"),
    )
    cells = _nearest(
        elems.filter(F.col("name").isin("td", "th"))
        .select(key_col, "node_id", F.col("name").alias("cell_tag"),
                "ancestors"),
        trs.select(key_col, F.col("__tr_id").alias("node_id")),
        key_col, "__tr_id",
    ).join(trs, [key_col, "__tr_id"]).select(
        key_col, "node_id", "table_idx", "row_idx", "cell_tag",
        (F.row_number().over(
            Window.partitionBy(key_col, "__tr_id").orderBy("node_id")
        ) - 1).cast("int").alias("col_idx"),
    )
    texts = _subtree_text(nodes, key_col)
    return cells.join(texts, [key_col, "node_id"], "left").select(
        key_col, "table_idx", "row_idx", "col_idx", "cell_tag",
        F.coalesce("__subtext", F.lit("")).alias("cell_text"),
    )
