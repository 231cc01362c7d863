"""N-gram language-model quality scoring (CCNet-style perplexity filter).

The standard web-corpus curation step after rule-based gates: score
every document under a language model trained on trusted text and drop
the high-perplexity tail (CCNet does this with a KenLM 5-gram; the
published recipe is LM scoring + bucket thresholds). This module is the
relational re-expression: a word-bigram model with MLE conditionals and
a fixed out-of-vocabulary floor, trained and applied as pure DataFrame
aggregations/joins so DuckDB can replay the arithmetic exactly.

Scale design (10^12 docs):

* Training is two groupBy passes over exploded bigrams — both
  map-side combined, shuffled on the bigram/context key. ``min_count``
  prunes the long tail before the model ever materializes (the
  standard KenLM pruning knob), bounding model size.
* Scoring pre-aggregates each document's bigrams to (doc, bigram,
  cnt) *before* the model join, so the join input is bounded by
  distinct bigrams per doc, not token count. The join is keyed on the
  bigram string: the model side has unique keys (a hash-join build
  side), and hot bigrams ("of the") fan out on the probe side only —
  no skew amplification. A pruned model that fits executors gets
  broadcast by AQE automatically.
* No Python anywhere: token split, bigram assembly, log arithmetic
  are all Catalyst expressions inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import oracle_tokens

__all__ = [
    "doc_bigrams",
    "train_bigram_lm",
    "train_unigram_lm",
    "lm_doc_scores",
    "backoff_doc_scores",
    "perplexity_buckets",
    "perplexity_bucket_cutoffs",
    "perplexity_buckets_by_cutoff",
]

DEFAULT_OOV_LOGP = math.log(1e-6)
DEFAULT_BACKOFF = 0.4


def _bigram_array(text_col: Column) -> Column:
    """Array of 'w1 w2' bigram strings over the shared dual-dialect
    token convention (textstats.oracle_tokens / ORACLE_TOKENS_SQL),
    so the DuckDB oracle reproduces it verbatim.

    The token array is bound once per row as a transform lambda
    variable, and the per-bigram lambda keeps to ONE reference of it
    (``slice``): an unbound ``oracle_tokens`` re-tokenized the text
    per element — O(tokens^2)/doc — and a 2+-reference inner lambda
    would break Python-UDF extraction for any pandas-UDF consumer
    (see dedup._shingles_of)."""

    def body(tk):
        nt = F.size(tk)
        idx = F.when(nt >= 2, F.sequence(F.lit(1), nt - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(tk, i, 2))
        )

    return F.transform(F.array(oracle_tokens(text_col)), body)[0]


def doc_bigrams(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, bigram, cnt) per document — the shared explode+combine
    stage for both training and scoring."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_bigram_array(F.col(text_col))).alias("bigram"),
        )
        .groupBy("id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bigram_lm(
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """(bigram, logp) — MLE conditional ln P(w2 | w1).

    ``min_count`` drops bigrams rarer than the threshold *after*
    context totals are computed, so pruning changes coverage, not the
    surviving estimates (exactly KenLM's pruning semantics).
    """
    bg = (
        doc_bigrams(corpus, text_col=text_col, id_col=id_col)
        .groupBy("bigram")
        .agg(F.sum("cnt").alias("c2"))
    )
    with_ctx = bg.withColumn(
        "w1", F.substring_index(F.col("bigram"), " ", 1)
    )
    ctx = with_ctx.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return (
        with_ctx.join(ctx, "w1")
        .filter(F.col("c2") >= min_count)
        .select("bigram", F.log(F.col("c2") / F.col("c1")).alias("logp"))
    )


def train_unigram_lm(
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(token, logp_uni) — MLE ln P(w) = ln(c(w) / T) over the shared
    token convention. The backoff tier of :func:`backoff_doc_scores`.
    One token-keyed aggregate; the total T is a single row
    cross-joined back (broadcast by construction)."""
    uni = (
        corpus.select(
            F.explode(oracle_tokens(F.col(text_col))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tot = uni.agg(F.sum("cu").alias("t_tokens"))
    return uni.crossJoin(F.broadcast(tot)).select(
        "token", F.log(F.col("cu") / F.col("t_tokens")).alias("logp_uni")
    )


def backoff_doc_scores(
    docs: DataFrame,
    bigram_lm: DataFrame,
    unigram_lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = DEFAULT_BACKOFF,
    oov_logp: float = DEFAULT_OOV_LOGP,
) -> DataFrame:
    """(id, n_bigrams, avg_logp, ppl) under stupid backoff (Brants et
    al. 2007, "Large Language Models in Machine Translation" — the
    web-scale recipe): a seen bigram scores its MLE conditional, an
    unseen one backs off to ``ln(backoff) + ln P(w2)``, and only a
    token absent from the training corpus entirely falls to the fixed
    ``oov_logp`` floor. Strictly better-calibrated tails than
    :func:`lm_doc_scores`'s single floor: rare-but-plausible
    continuations score above gibberish.

    Scale shape: identical to :func:`lm_doc_scores` plus ONE extra
    left join against the unigram table keyed on the continuation
    token — the unigram side is vocabulary-sized (pruned models
    broadcast under AQE), and the probe side is the same per-doc
    distinct-bigram aggregate, so no new skew class appears. The
    ln(backoff) penalty enters as one literal (the exact double is
    shared with the oracle), keeping everything whole-stage codegen.
    """
    w2 = F.substring_index(F.col("bigram"), " ", -1)
    scored = (
        doc_bigrams(docs, text_col=text_col, id_col=id_col)
        .join(bigram_lm, "bigram", "left")
        .withColumn("__w2", w2)
        .join(
            unigram_lm.select(
                F.col("token").alias("__w2"),
                F.col("logp_uni").alias("__logp_uni"),
            ),
            "__w2",
            "left",
        )
        .withColumn(
            "__lp",
            F.coalesce(
                F.col("logp"),
                F.lit(math.log(backoff)) + F.col("__logp_uni"),
                F.lit(oov_logp),
            ),
        )
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            (F.sum(F.col("cnt") * F.col("__lp")) / F.sum("cnt")).alias(
                "avg_logp"
            ),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logp",
            F.exp(-F.col("avg_logp")).alias("ppl"),
        )
    )


def lm_doc_scores(
    docs: DataFrame,
    lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_logp: float = DEFAULT_OOV_LOGP,
) -> DataFrame:
    """(id, n_bigrams, avg_logp, ppl) per document.

    ``avg_logp`` is the token-weighted mean ln-likelihood under the
    model (OOV bigrams take the fixed floor); ``ppl = exp(-avg_logp)``
    is the conventional perplexity presentation. Documents with fewer
    than two tokens have no bigrams: n_bigrams 0, NULL scores — they
    carry no LM evidence, and mapping them to a fake-neutral number
    would silently pass them through a perplexity gate.
    """
    scored = (
        doc_bigrams(docs, text_col=text_col, id_col=id_col)
        .join(lm, "bigram", "left")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            (
                F.sum(
                    F.col("cnt")
                    * F.coalesce(F.col("logp"), F.lit(oov_logp))
                )
                / F.sum("cnt")
            ).alias("avg_logp"),
        )
    )
    # Bigram-less docs never reach the explode; join them back in so
    # the output covers every input row.
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logp",
            F.exp(-F.col("avg_logp")).alias("ppl"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    *,
    n_buckets: int = 3,
    part_col: str | None = None,
    score_col: str = "avg_logp",
    id_col: str = "id",
    round_dp: int = 4,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing: equal-count
    buckets by LM score, best-scoring first (CCNet cuts each language
    into perplexity terciles and trains preferentially on the head).

    ``scored`` is typically :func:`lm_doc_scores` output; pass
    ``part_col`` (e.g. ``lang``) to bucket within each language the
    way CCNet does. ntile over a window is the scale shape: one
    shuffle on the partition key, no driver-side quantile collection.
    Without ``part_col`` the window is global — a single sort task —
    which is fine for a sampled calibration set but NOT for a full
    corpus: at scale always bucket within a real partition key (CCNet
    itself never buckets across languages).

    Determinism across engines: ordering uses the score ROUNDED to
    ``round_dp`` (the same precision the oracle gate compares at —
    raw float ties could order differently engine-to-engine) with the
    id as tiebreak. Unscorable docs (NULL score, no bigrams) are
    FORCED into the last bucket — they carry no LM evidence and must
    not dilute the head. The window additionally partitions on
    score-nullness so NULL rows never occupy ntile slots: otherwise a
    partition where NULLs outnumber a bucket's width would spill them
    into head/middle.

    Returns the input plus (bucket, bucket_label); labels are
    head/middle/tail for ``n_buckets=3``, else ``b<i>``.

    SCALE WARNING — this is the CALIBRATION path, not the corpus path.
    ``ntile`` sorts each window partition in ONE task; partitioning by
    ``lang`` does not help, because lang IS the skewed key — English is
    roughly half of a real crawl, so at 100 TB one executor would sort
    ~10^11 rows. For full-corpus bucketing use
    :func:`perplexity_buckets_by_cutoff` (sampled/exact quantile
    cutoffs broadcast + map-only assignment — the actual CCNet recipe);
    keep this exact equal-count version for bounded calibration sets.
    """
    from pyspark.sql import Window

    score = F.col(score_col)
    w = (
        Window.partitionBy(
            *([part_col] if part_col else []), score.isNull()
        )
        .orderBy(
            F.round(score, round_dp).desc_nulls_last(),
            F.col(id_col).asc(),
        )
    )
    bucket = F.when(
        score.isNull(), F.lit(n_buckets)
    ).otherwise(F.ntile(n_buckets).over(w))
    if n_buckets == 3:
        label = (
            F.when(bucket == 1, "head")
            .when(bucket == 2, "middle")
            .otherwise("tail")
        )
    else:
        label = F.concat(F.lit("b"), bucket.cast("string"))
    return scored.select(
        "*", bucket.alias("bucket"), label.alias("bucket_label")
    )


def perplexity_bucket_cutoffs(
    scored: DataFrame,
    *,
    n_buckets: int = 3,
    part_col: str | None = None,
    score_col: str = "avg_logp",
    round_dp: int = 4,
    accuracy: int | None = None,
) -> DataFrame:
    """Tiny per-partition cutoff table: (part_col?, cutoffs) where
    ``cutoffs`` is the DESCENDING array of the (n-1)/n .. 1/n score
    quantiles — one row per language, a handful of doubles each.

    ``accuracy=None`` uses Spark's EXACT ``percentile`` aggregate
    (linear interpolation at rank p*(n-1), the same definition as
    DuckDB's ``quantile_cont``, so the oracle gate can replay it
    bit-for-bit at the rounding precision). At 100-TB scale pass an
    ``accuracy`` (e.g. 10000) to switch to ``percentile_approx`` — a
    bounded-memory mergeable sketch with map-side combine; bucket
    boundaries move by at most 1/accuracy of rank, which is noise for
    a head/middle/tail cut. Either way the plan is one hash aggregate:
    no Window, no per-language sort task.

    Scores are rounded to ``round_dp`` BEFORE the quantile so both
    engines interpolate over identical inputs.
    """
    pcts = ", ".join(
        repr((n_buckets - i) / n_buckets) for i in range(1, n_buckets)
    )
    rounded = f"round({score_col}, {round_dp})"
    if accuracy is None:
        agg = F.expr(f"percentile({rounded}, array({pcts}))")
    else:
        agg = F.expr(
            f"percentile_approx({rounded}, array({pcts}), {accuracy})"
        )
    grouped = scored.filter(F.col(score_col).isNotNull()).groupBy(
        *([part_col] if part_col else [])
    )
    return grouped.agg(agg.alias("cutoffs"))


def perplexity_buckets_by_cutoff(
    scored: DataFrame,
    *,
    n_buckets: int = 3,
    part_col: str | None = None,
    score_col: str = "avg_logp",
    round_dp: int = 4,
    accuracy: int | None = None,
) -> DataFrame:
    """Scale-safe CCNet corpus bucketing: quantile cutoffs per
    language (a tiny broadcast table from
    :func:`perplexity_bucket_cutoffs`), then MAP-ONLY bucket
    assignment — ``bucket = 1 + #cutoffs the score falls below``.
    This is the published CCNet procedure (cutoffs from a pass over
    the scores, then a linear scan); unlike :func:`perplexity_buckets`
    there is no per-language sort anywhere in the plan, so the
    dominant language cannot serialize onto one executor.

    Semantics vs the ntile path: buckets are threshold-based, so ties
    AT a cutoff all land on the better side (equal counts are only
    approximate under heavy ties) — that is inherent to any
    cutoff-broadcast scheme and matches CCNet. Unscorable docs (NULL
    score) are forced into the last bucket, exactly like the ntile
    path. Comparison happens on scores and cutoffs both rounded to
    ``round_dp`` so the DuckDB oracle (``quantile_cont`` + the same
    list_filter count) reproduces every boundary decision.
    """
    cuts = perplexity_bucket_cutoffs(
        scored,
        n_buckets=n_buckets,
        part_col=part_col,
        score_col=score_col,
        round_dp=round_dp,
        accuracy=accuracy,
    ).withColumnRenamed("cutoffs", "_ppl_cutoffs")
    if part_col:
        joined = scored.join(F.broadcast(cuts), part_col, "left")
    else:
        joined = scored.crossJoin(F.broadcast(cuts))
    score = F.col(score_col)
    score_r = F.round(score, round_dp)
    fails = F.size(
        F.filter(
            F.coalesce(
                F.col("_ppl_cutoffs"), F.array().cast("array<double>")
            ),
            lambda c: score_r < F.round(c, round_dp),
        )
    )
    bucket = F.when(score.isNull(), F.lit(n_buckets)).otherwise(1 + fails)
    if n_buckets == 3:
        label = (
            F.when(bucket == 1, "head")
            .when(bucket == 2, "middle")
            .otherwise("tail")
        )
    else:
        label = F.concat(F.lit("b"), bucket.cast("string"))
    return joined.select(
        *[c for c in scored.columns],
        bucket.alias("bucket"),
        label.alias("bucket_label"),
    )
