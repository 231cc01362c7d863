"""Byte-pair-encoding subword tokenizer: distributed merge training
and pure-Catalyst encoding.

The tokenizer-TRAINING step of an LLM data pipeline (Sennrich,
Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
Subword Units" — the classic merge-learning algorithm), re-expressed
for Spark. Complements ``functions.textstats.bpe_ish_tokens`` (a
fixed regex stand-in): here the merge table is LEARNED from the
corpus and then applied everywhere.

Representation — the whole design hangs on it
---------------------------------------------
A segmentation is a single string of brace-wrapped symbols:
``"hello"`` → ``"{h}{e}{l}{l}{o}{</w>}"``. Merging pair ``(l, l)``
is then literally ``replace(seg, "{l}{l}", "{ll}")``. Because every
symbol carries its OWN delimiters (unlike space-joining, where
adjacent matches share the boundary space), a single left-to-right
non-overlapping string replace — the semantics of Python
``str.replace``, Spark ``F.replace`` and DuckDB/ANSI ``replace()``
alike — IS canonical BPE merge application: ``{a}{a}{a}`` →
``{aa}{a}``, ``{a}{b}{a}{b}`` → ``{ab}{ab}``. All three engines
agree byte-for-byte by construction, so the driver's DuckDB oracle
can replay training AND encoding exactly.

Words are ``[a-z]+`` runs of the lowercased text (ASCII-only by
design: the brace alphabet and the ``</w>`` end-of-word marker can
never collide with a symbol). Every word ends in the ``</w>``
symbol so learned subwords distinguish word-final from word-internal
positions, per the paper.

Scale shape (100 TB corpus)
---------------------------
- ``word_frequencies``: one explode + one (word)-keyed aggregate
  with map-side partial combine; the ``top_words`` cap compiles to
  TakeOrderedAndProject (per-partition heap top-k, k rows of driver
  state) — no global sort.
- ``train_bpe``: the merge loop runs on the DRIVER over the capped
  word-frequency table (≤ ``top_words`` rows — the same tiny-state
  collect contract as the PageRank/classifier operators; the CORPUS
  is never collected). This is how production tokenizers train at
  scale: frequencies are aggregated distributed, merges are learned
  on the aggregate. Cost O(n_merges × top_words × avg_word_len).
- ``encode_bpe``: dual-engine, map-only either way (the same shape as
  ``similarity.pq_encode`` and the minhash fold). Small merge tables
  compile to LITERAL replace calls — a whole-stage-codegen Project
  with zero Python — but the expression tree grows one nested
  ``replace`` per merge, and a production 30k–50k merge vocabulary
  blows past codegen's 64KB method limit into interpreted mode with
  the analyzer itself becoming the bottleneck (the same plan-size
  cliff ``pq_encode`` documents for k=256 codebooks). Above
  ``MAX_JVM_MERGES`` the encode switches to an Arrow-batched Python
  kernel: per distinct word (memoized per worker), repeatedly merge
  the lowest-rank pair present — provably the same result as the
  sequential replace chain, because a merge's output symbol can only
  appear in later-rank rules, so after rank r is exhausted no pair of
  rank <= r can reappear (parity is test-pinned, including a seeded
  randomized differential). Cost per distinct word is independent of
  the merge-table depth — dict lookups, not 30k string scans.

Cross-word safety needs no separator symbol: a learned pair's left
symbol never contains ``</w>`` (it is word-final in every training
segmentation), so no merge pattern can span the ``...{x</w>}{y}...``
boundary between two words in a document stream.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "WORD_PATTERN",
    "EOW",
    "MAX_JVM_MERGES",
    "word_frequencies",
    "train_bpe_on_freqs",
    "train_bpe",
    "merges_to_df",
    "segment_expr",
    "apply_merges",
    "encode_word_py",
    "encode_text_py",
    "encode_bpe",
]

WORD_PATTERN = "[a-z]+"
EOW = "</w>"
_SYM_RE = re.compile(r"\{([^}]*)\}")

# Above this many merges the literal-replace plan is refused: each
# merge nests one more `replace` call, and a deep chain first falls
# out of whole-stage codegen (64KB generated-method limit) and then
# makes analysis itself quadratic. Production vocabularies (30k-50k
# merges) always take the Arrow kernel; the literal chain remains the
# zero-Python engine for small tables and the oracle's exactness twin.
MAX_JVM_MERGES = 256

# Per-worker word->segmentation memo cap for the Arrow kernel. Distinct
# lowercase [a-z]+ words are Zipf-bounded in real corpora, but a 100 TB
# adversarial input could still grow the dict without bound — clear it
# past the cap (the kernel stays correct, just re-encodes).
_ENCODE_CACHE_MAX = 1_000_000


def word_frequencies(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_words: int | None = None,
    pattern: str = WORD_PATTERN,
) -> DataFrame:
    """(word, freq): corpus word frequencies over lowercased
    ``pattern`` runs (NULL text contributes nothing). With
    ``top_words``, keeps the k most frequent — ties broken on the
    word ascending so the cut is reproducible across engines."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                F.lit(pattern),
                F.lit(0),
            )
        ).alias("word")
    )
    freqs = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if top_words is not None:
        if top_words <= 0:
            raise ValueError(f"top_words must be positive: {top_words}")
        freqs = freqs.orderBy(F.desc("freq"), F.asc("word")).limit(top_words)
    return freqs


def _word_seg(word: str) -> str:
    return "".join("{%s}" % c for c in word) + "{%s}" % EOW


def train_bpe_on_freqs(
    freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` merges from a (word, count) table. Returns
    [(rank, lhs, rhs, pair_freq)], rank 1-based. Each round counts
    every adjacent symbol pair weighted by word frequency (overlapping
    occurrences each count, per the reference algorithm), picks the
    (count desc, lhs asc, rhs asc) argmax — the deterministic
    tie-break shared with the SQL oracle — and merges it everywhere.
    Stops early if the vocabulary runs out of pairs (single-symbol
    words only), returning fewer merges."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive: {n_merges}")
    segs = [(_word_seg(w), int(c)) for w, c in freqs]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for seg, freq in segs:
            syms = _SYM_RE.findall(seg)
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, lhs, rhs, cnt))
        pat, rep = "{%s}{%s}" % (lhs, rhs), "{%s%s}" % (lhs, rhs)
        segs = [(seg.replace(pat, rep), freq) for seg, freq in segs]
    return merges


def train_bpe(
    word_freqs: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Collect the (bounded — cap it with ``top_words``) frequency
    table and learn merges on the driver. The corpus itself is never
    collected; driver state is ≤ top_words short strings."""
    rows = word_freqs.select("word", "freq").collect()
    return train_bpe_on_freqs([(r["word"], r["freq"]) for r in rows], n_merges)


def merges_to_df(
    spark: SparkSession, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Learned merge table as a (tiny) DataFrame for joins/sinks."""
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_freq bigint"
    )


def segment_expr(
    text_col: Column | str, pattern: str = WORD_PATTERN
) -> Column:
    """Brace-delimited character segmentation of a whole document:
    each lowercased ``pattern`` word becomes ``{c}{c}...{</w>}``,
    concatenated. NULL / word-free text segments to ''. Pure
    Catalyst (regexp + one interpreted HOF transform per doc)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.regexp_extract_all(
        F.lower(F.coalesce(col, F.lit(""))), F.lit(pattern), F.lit(0)
    )
    return F.array_join(
        F.transform(
            words,
            lambda w: F.concat(
                F.regexp_replace(w, "(.)", "{$1}"), F.lit("{%s}" % EOW)
            ),
        ),
        "",
    )


def apply_merges(
    seg: Column | str,
    merges: list[tuple[int, str, str, int]],
    *,
    max_jvm_merges: int = MAX_JVM_MERGES,
) -> Column:
    """Fold the learned merges over a segmentation column (or column
    name) in rank order — n_merges literal ``replace`` expressions,
    map-only. Refuses tables past ``max_jvm_merges`` (see the module
    constant: the expression tree falls out of codegen and then out of
    tractable analysis) before it builds any Column, so the check needs
    no SparkContext — production-depth tables take ``encode_bpe``'s
    Arrow engine instead."""
    if len(merges) > max_jvm_merges:
        raise ValueError(
            f"{len(merges)} merges exceed the literal-replace plan "
            f"bound ({max_jvm_merges}): a replace chain this deep "
            "leaves whole-stage codegen (64KB method limit) and makes "
            "the analyzer the bottleneck — use encode_bpe(..., "
            "engine='arrow') (or raise max_jvm_merges knowingly)"
        )
    col = F.col(seg) if isinstance(seg, str) else seg
    for _rank, lhs, rhs, _cnt in merges:
        col = F.replace(
            col,
            F.lit("{%s}{%s}" % (lhs, rhs)),
            F.lit("{%s%s}" % (lhs, rhs)),
        )
    return col


def encode_word_py(word: str, ranks: dict[tuple[str, str], int]) -> str:
    """Encode ONE word against a rank dict: repeatedly merge every
    left-to-right non-overlapping occurrence of the lowest-rank pair
    present. Identical to replaying the full merge list in rank order
    (a merge's output symbol only occurs in later-rank rules, so once
    rank r is exhausted no pair of rank <= r can reappear — pinned by
    the randomized differential in tests/test_bpe.py), but the cost is
    per-pair dict lookups instead of one string scan per merge."""
    syms = list(word)
    syms.append(EOW)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        lhs, rhs = best_pair
        merged = lhs + rhs
        out: list[str] = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return "".join("{%s}" % s for s in syms)


def encode_text_py(
    text: str | None,
    ranks: dict[tuple[str, str], int],
    *,
    pattern: str = WORD_PATTERN,
    cache: dict[str, str] | None = None,
) -> str:
    """Whole-document encode, the Arrow kernel's per-row work: word
    split mirrors ``segment_expr`` (lowercase, ``pattern`` runs, NULL
    -> ''), each distinct word encoded once via ``cache``. Cross-word
    merges cannot exist (no learned lhs contains ``</w>`` — see the
    module docstring), so per-word encoding equals the document-level
    replace chain."""
    words = re.findall(pattern, (text or "").lower())
    parts: list[str] = []
    if cache is None:
        cache = {}
    for w in words:
        s = cache.get(w)
        if s is None:
            if len(cache) >= _ENCODE_CACHE_MAX:
                cache.clear()
            s = encode_word_py(w, ranks)
            cache[w] = s
        parts.append(s)
    return "".join(parts)


def _encode_udf(merges: list[tuple[int, str, str, int]], pattern: str):
    """Arrow-batched document encoder (the ``_minhash_fold_udf`` /
    ``pq_encode`` dual-engine shape): the rank dict ships once per
    worker in the closure; the word memo persists across batches
    within a worker process (deterministic — it caches a pure
    function)."""
    ranks = {(lhs, rhs): rank for rank, lhs, rhs, _cnt in merges}
    cache: dict[str, str] = {}

    @F.pandas_udf("string")
    def _enc(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_text_py(t, ranks, pattern=pattern, cache=cache)
                for t in texts
            ],
            dtype="object",
        )

    return _enc


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_seg",
    pattern: str = WORD_PATTERN,
    engine: str = "auto",
    max_jvm_merges: int = MAX_JVM_MERGES,
) -> DataFrame:
    """Add ``out_col`` (the encoded segmentation string — symbols are
    its brace groups) and ``n_bpe`` (subword token count = brace-group
    count). Applying merges in learned-rank order is the original
    subword-nmt encoder; the whole thing is one map-only projection in
    BOTH engines (plan-pinned: no shuffle either way).

    ``engine``: ``"jvm"`` (literal replace chain, zero Python — the
    DuckDB oracle's exactness twin; refuses > ``max_jvm_merges``),
    ``"arrow"`` (memoized per-word Python kernel, Arrow-batched —
    depth-independent, the production path for 30k+ merge tables), or
    ``"auto"`` (jvm up to the bound, arrow past it). Engines are
    bit-identical by construction and parity-pinned in tests; the one
    documented divergence risk is non-ASCII lowercasing (JVM
    ``lower()`` vs Python ``str.lower()`` can differ on exotic locale
    mappings), which the ASCII ``pattern`` makes invisible unless a
    non-ASCII char lowercases INTO [a-z] — e.g. U+212A KELVIN SIGN,
    which both map to 'k'."""
    if engine == "auto":
        engine = "jvm" if len(merges) <= max_jvm_merges else "arrow"
    if engine == "jvm":
        seg = apply_merges(
            segment_expr(text_col, pattern),
            merges,
            max_jvm_merges=max_jvm_merges,
        )
    elif engine == "arrow":
        seg = _encode_udf(merges, pattern)(F.col(text_col))
    else:
        raise ValueError(f"unknown engine {engine!r} (auto|jvm|arrow)")
    out = docs.withColumn(out_col, seg)
    n = F.length(out_col) - F.length(F.replace(F.col(out_col), F.lit("{")))
    return out.withColumn("n_bpe", n.cast("int"))
