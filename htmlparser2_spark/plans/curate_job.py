"""End-to-end training-corpus curation plan.

Composes the pipeline a web-scale pretraining corpus actually goes
through, in the canonical order (cheap drops first so every later,
more expensive stage sees a smaller corpus):

1. **quality** — per-document gate (default: the Gopher rules from
   ``operators/quality.py``; pass ``quality_pred`` to override with
   any boolean Column). Map-only.
1b. **line_dedup** (optional, ``line_dedup_min_docs``) — strip lines
   recurring across documents (C4-style) before whole-document dedup;
   a transform stage, drops nothing.
2. **dedup** — :func:`~htmlparser2_spark.plans.dedup_job.run_dedup`
   (exact md5 -> LSH candidates -> candidate-only Jaccard verify ->
   components); only ``kept`` rows continue.
3. **decontaminate** — drop documents sharing word n-grams with a
   benchmark set (skipped when ``bench`` is None).
   ``contam_mode="exact"`` broadcasts the benchmark shingle hashes;
   ``"bloom"`` broadcasts a fixed-size Bloom filter instead and keeps
   the corpus stage map-only — the choice when the benchmark union
   itself is huge (one-sided error: only ever over-drops).
4. **sample** — deterministic per-stratum fractions (skipped when
   ``fractions`` is None), OR **rebalance** — mC4-style temperature
   resampling (``temperature=(alpha, target_frac)``): per-stratum
   rates learned from the corpus, rare strata upsampled as repeated
   rows with a 1-based ``copy`` column (the epoch-repeat output
   shape). The two are mutually exclusive — both reweight strata, and
   silently composing them would double-apply the budget.

Returns ``(corpus, funnel)``: the curated DataFrame plus a
``(stage_idx, stage, n_docs)`` funnel table — the per-stage survivor
counts an operations dashboard tracks per crawl batch. The funnel is
built lazily (one action computes all stage counts; a checkpointed
stage with an exchange runs that stage earlier, see
``funnel.lazy_checkpointer``); nothing collects to the driver inside
the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.contamination import decontaminate, decontaminate_bloom
from ..operators.dedup import frequent_line_removal
from ..operators.quality import gopher_filter
from ..operators.sampling import stratified_sample, temperature_sample
from .dedup_job import run_dedup
from .funnel import build_funnel, lazy_checkpointer

__all__ = ["run_curation"]


def run_curation(
    docs: DataFrame,
    *,
    bench: DataFrame | None = None,
    quality_pred: Column | None = None,
    line_dedup_min_docs: int | None = None,
    dedup_threshold: float = 0.7,
    contam_n: int = 8,
    contam_mode: str = "exact",
    contam_m_bits: int = 1 << 18,
    contam_k: int = 4,
    fractions: dict[str, float] | None = None,
    temperature: tuple[float, float] | None = None,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_expr: Column | None = None,
    checkpoint_stages: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Curate ``docs``; see module docstring for the stage order.

    ``quality_pred=None`` uses the Gopher gate; a non-None Column
    (e.g. a simple token-count window) replaces it — useful where the
    decision must be reproducible outside Spark.

    ``checkpoint_stages=True`` ``localCheckpoint(eager=False)``s each
    stage's survivor frame: the funnel counts plus the returned corpus
    would otherwise re-execute every upstream stage once per
    evaluation (stage k's lineage contains stages 0..k-1). Under AQE a
    stage frame with an exchange runs that shuffle stage when it is
    checkpointed, before any action (``lazy_checkpointer``). The
    truncation costs one executor-local materialization per stage —
    the standard trade for multi-consumer pipelines; disable it to
    keep pure lineage (e.g. when writing the corpus exactly once and
    skipping the funnel).
    """
    maybe_ckpt = lazy_checkpointer(checkpoint_stages)
    stages: list[tuple[str, DataFrame]] = [("ingest", docs)]

    if quality_pred is None:
        verdicts = gopher_filter(docs, text_col=text_col, id_col=id_col)
        keep_ids = verdicts.filter(F.col("keep")).select(id_col)
        cur = docs.join(keep_ids, id_col, "left_semi")
    else:
        cur = docs.filter(quality_pred)
    cur = maybe_ckpt(cur)
    stages.append(("quality", cur))

    if line_dedup_min_docs is not None:
        # Transform stage (rewrites text, drops nothing): strip lines
        # recurring across >= N docs BEFORE whole-doc dedup, so
        # boilerplate doesn't glue otherwise-distinct documents into
        # near-dup clusters.
        cleaned = frequent_line_removal(
            cur, min_docs=line_dedup_min_docs,
            text_col=text_col, id_col=id_col,
        ).withColumnsRenamed({"id": id_col})
        cur = maybe_ckpt(
            cur.drop(text_col).join(cleaned, id_col).withColumnRenamed(
                "clean_text", text_col
            )
        )
        stages.append(("line_dedup", cur))

    statuses = run_dedup(
        cur, threshold=dedup_threshold, text_col=text_col, id_col=id_col
    )
    kept_ids = statuses.filter(F.col("status") == "kept").select(
        F.col("id").alias(id_col)
    )
    cur = maybe_ckpt(cur.join(kept_ids, id_col, "left_semi"))
    stages.append(("dedup", cur))

    if bench is not None:
        if contam_mode == "exact":
            cur = decontaminate(
                cur, bench, n=contam_n, text_col=text_col, id_col=id_col
            )
        elif contam_mode == "bloom":
            # The 100-TB shape: the benchmark compresses to one
            # ~contam_m_bits/8-byte filter row and the corpus stage is
            # map-only (no shingle broadcast, no anti-join); slightly
            # over-drops at the standard false-positive rate.
            cur = decontaminate_bloom(
                cur, bench, n=contam_n, m_bits=contam_m_bits,
                k=contam_k, text_col=text_col, id_col=id_col,
            )
        else:
            raise ValueError(
                f"unknown contam_mode {contam_mode!r} (exact|bloom)"
            )
        cur = maybe_ckpt(cur)
        stages.append(("decontaminated", cur))

    if fractions is not None and temperature is not None:
        raise ValueError(
            "fractions and temperature both reweight strata — pass one"
        )
    if fractions is not None:
        cur = stratified_sample(
            cur,
            fractions,
            strata_col=strata_col,
            key_col=id_col,
            hash_expr=hash_expr,
        )
        stages.append(("sampled", cur))

    if temperature is not None:
        alpha, target_frac = temperature
        cur = temperature_sample(
            cur,
            alpha,
            target_frac,
            strata_col=strata_col,
            key_col=id_col,
            hash_expr=hash_expr,
        )
        # Funnel counts ROWS here (copies included): the stage's
        # survivor count IS the expected token budget, upsampled
        # repeats and all.
        stages.append(("rebalanced", cur))

    return cur, build_funnel(stages, "n_docs")
