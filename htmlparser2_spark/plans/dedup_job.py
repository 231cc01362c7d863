"""End-to-end corpus deduplication plan.

The canonical LLM-training-data flow, composed from the dedup
operators into one decision table:

1. **exact** — md5 groupBy; one copy per identical text survives
   (keep = min id). One shuffle on the 16-byte hash.
2. **candidates** — MinHash+LSH over the survivors only (map-only
   signatures, one band-bucket shuffle; see operators/dedup.py).
3. **verify** — exact Jaccard computed ONLY for the candidate pairs
   (:func:`~htmlparser2_spark.operators.dedup.jaccard_verify_pairs`:
   two id-keyed hash joins, in-row set intersection; linear in
   candidate count, never corpus-quadratic).
4. **cluster** — connected components over verified pairs
   (alternating large-star/small-star rounds, O(log² n) of them, one
   eager checkpoint each); keep the minimum id per component.

Output is a full-lineage decision table, one row per input document:
``(id, status, dup_of)`` with status in {kept, exact_dup, near_dup}
and ``dup_of`` the retained representative (itself for kept rows) —
the filter-funnel shape downstream audits need (why did this doc
drop, and in favor of what).

Scale notes: every stage is keyed on an id or hash (no skew beyond
real duplicate clusters — exact dedup runs FIRST precisely so
identical documents, the only unbounded-bucket source, never reach
LSH); nothing is collected except one ``isEmpty`` probe per
clustering round; the final status assembly is one anti-join on id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    duplicate_clusters,
    jaccard_verify_pairs,
    minhash_lsh_pairs,
)

__all__ = ["run_dedup"]


def run_dedup(
    docs: DataFrame,
    *,
    n: int = 3,
    n_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup decision table ``(id, status, dup_of)`` for ``docs``.

    ``threshold`` is the exact-Jaccard bar a verified near-duplicate
    pair must meet; LSH parameters (``n_perm``, ``bands``) only affect
    candidate recall, never which verified pairs pass.
    """
    ids = F.col(id_col)
    # NULL text (fetch failures) hashes to the empty-string group
    # instead of silently bypassing the join on a NULL key — such rows
    # dedup against each other and empty documents rather than all
    # surviving as distinct 'kept' rows.
    keyed = docs.select(
        ids.alias("id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("h"),
    )
    exact = keyed.join(
        keyed.groupBy("h").agg(F.min("id").alias("rep")), "h"
    ).select("id", "rep")
    keepers = exact.filter(F.col("id") == F.col("rep")).select(
        F.col("id").alias(id_col)
    )
    survivors = docs.join(keepers, id_col, "left_semi")

    candidates = minhash_lsh_pairs(
        survivors,
        n=n,
        n_perm=n_perm,
        bands=bands,
        seed=seed,
        text_col=text_col,
        id_col=id_col,
    )
    verified = jaccard_verify_pairs(
        survivors,
        candidates,
        n=n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    )
    clusters = duplicate_clusters(verified)

    # An exact rep can itself drop as a near_dup; remap through the
    # cluster labels so dup_of ALWAYS names a retained representative
    # (the cluster's min id is kept by construction).
    rep_map = clusters.withColumnsRenamed(
        {"id": "rep", "cluster_id": "rep_final"}
    )
    exact_dups = (
        exact.filter(F.col("id") != F.col("rep"))
        .join(rep_map, "rep", "left")
        .select(
            "id",
            F.lit("exact_dup").alias("status"),
            F.coalesce("rep_final", F.col("rep")).alias("dup_of"),
        )
    )
    near_dups = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        "id",
        F.lit("near_dup").alias("status"),
        F.col("cluster_id").alias("dup_of"),
    )
    dropped = exact_dups.unionByName(near_dups)
    kept = (
        docs.select(ids.alias("id"))
        .join(dropped.select("id"), "id", "left_anti")
        .select(
            "id", F.lit("kept").alias("status"), F.col("id").alias("dup_of")
        )
    )
    return kept.unionByName(dropped)
