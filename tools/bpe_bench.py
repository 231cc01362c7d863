"""Single-thread BPE-encode kernel throughput (no Spark).

Measures the per-core work of ``encode_bpe``'s Arrow kernel
(``encode_text_py`` — the exact per-row function the Arrow UDF runs)
at a REALISTIC merge-table depth (8k+): per distinct word the cost is
pair-rank dict lookups, never one string scan per merge, so encode
cost does not grow with the table's depth.

Corpus/vocabulary are synthesized deterministically (seeded): the
sf0.01 documents table's word list is only ~31 distinct words — far
too small to support a deep merge table — so a seeded 2.5k-word
vocabulary with Zipf-ish sampling stands in (prefix-chain merge
table, the structurally-valid synthetic shape used by the depth
test). Prints one JSON line.

Usage: python tools/bpe_bench.py [n_docs] [repeats]
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from htmlparser2_spark.operators.bpe import (  # noqa: E402
    WORD_PATTERN,
    encode_text_py,
)

def make_corpus(n_docs: int, n_vocab: int = 2500, seed: int = 20260818):
    """Seeded vocabulary + Zipf-ish document sampling: rank-r word
    drawn with weight 1/(r+1), ~120 words/doc — enough distinct words
    to back an 8k+ prefix-chain merge table while keeping the memo hit
    rate corpus-like."""
    import random

    rng = random.Random(seed)
    vocab = sorted(
        {
            "".join(
                rng.choice("etaoinshrdlucmfwypvbgkjqxz")
                for _ in range(rng.randint(4, 12))
            )
            for _ in range(n_vocab)
        }
    )
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    texts = [
        " ".join(rng.choices(vocab, weights=weights, k=120))
        for _ in range(n_docs)
    ]
    return texts, vocab


def prefix_chain_merges(words: list[str], target: int):
    """Structurally-valid merge table: each word contributes its
    prefix-pair chain ((w0,w1), (w0w1,w2), ...) until ``target``
    distinct merges exist. Every lhs is constructible from earlier
    ranks — the same validity argument as real training output."""
    merges = []
    seen = set()
    rank = 0
    for w in words:
        acc = w[0]
        for ch in w[1:]:
            pair = (acc, ch)
            acc += ch
            if pair in seen:
                continue
            seen.add(pair)
            rank += 1
            merges.append((rank, pair[0], pair[1], 1))
            if rank >= target:
                return merges
    return merges


def main(n_docs: int = 4000, repeats: int = 3) -> None:
    import re

    texts, _ = make_corpus(n_docs)
    word_re = re.compile(WORD_PATTERN)
    vocab: dict[str, int] = {}
    total_words = 0
    for t in texts:
        for w in word_re.findall((t or "").lower()):
            vocab[w] = vocab.get(w, 0) + 1
            total_words += 1
    words_by_freq = sorted(vocab, key=lambda w: (-vocab[w], w))
    merges = prefix_chain_merges(words_by_freq, 8192)
    if len(merges) < 8192:
        raise SystemExit(f"merge table too shallow: {len(merges)}")
    ranks = {(l, r): k for k, l, r, _ in merges}
    total_bytes = sum(len(t.encode()) for t in texts)

    def run_arrow_kernel() -> int:
        cache: dict[str, str] = {}
        n = 0
        for t in texts:
            n += encode_text_py(t, ranks, cache=cache).count("{")
        return n

    def best(fn):
        b, tokens = None, 0
        for _ in range(repeats):
            t0 = time.perf_counter()
            tokens = fn()
            dt = time.perf_counter() - t0
            b = dt if b is None else min(b, dt)
        return b, tokens

    arrow_s, arrow_tok = best(run_arrow_kernel)
    out = {
        "metric": "bpe encode kernel, single thread",
        "n_docs": len(texts),
        "n_words": total_words,
        "distinct_words": len(vocab),
        "mb": round(total_bytes / 1e6, 2),
        "n_merges_arrow": len(merges),
        "arrow_kernel_sec": round(arrow_s, 3),
        "arrow_kernel_mb_per_sec": round(total_bytes / 1e6 / arrow_s, 2),
        "arrow_kernel_tokens": arrow_tok,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 4000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 3,
    )
