"""Shared stage plumbing for the composed plans (curate_job,
crawl_job, prep_job): the lazy funnel builder and the per-stage
``localCheckpoint(eager=False)`` policy."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["build_funnel", "lazy_checkpointer"]


def lazy_checkpointer(enabled: bool):
    """Stage-boundary truncation policy, shared by every composed
    plan: with ``enabled``, each stage's frame is
    ``localCheckpoint(eager=False)``-ed so the funnel counts plus the
    returned frame don't re-execute every upstream stage per consumer;
    disabled, the identity (pure lineage for single-consumer runs).

    ``eager=False`` is not free under AQE: on a frame whose plan holds
    an exchange (a join, an aggregate), the call itself runs that
    shuffle stage as a Spark job, before any action. A narrow frame
    launches nothing until the first action."""
    if enabled:
        return lambda df: df.localCheckpoint(eager=False)
    return lambda df: df


def build_funnel(
    stages: list[tuple[str, DataFrame]], count_col: str
) -> DataFrame:
    """(stage_idx, stage, ``count_col``) with one row per stage.

    Global aggregations (not groupBy on a literal), so an empty stage
    still reports 0; the union stays lazy — one action on the funnel
    computes every stage count."""
    return reduce(
        DataFrame.unionByName,
        [
            df.agg(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias(count_col),
            )
            for i, (name, df) in enumerate(stages)
        ],
    )
