"""BPE merge training + encoding (operators/bpe.py): trainer
semantics against hand-worked merges, the brace-replace merge
identity, Spark/pure-Python encode parity, and the map-only plan pin
for the encoder."""

from __future__ import annotations

import contextlib
import io

import pytest

from htmlparser2_spark.operators.bpe import (
    EOW,
    _word_seg,
    encode_bpe,
    merges_to_df,
    train_bpe,
    train_bpe_on_freqs,
    word_frequencies,
)


def _encode_py(text: str, merges) -> str:
    """Reference encoder: segment, then apply merges in rank order
    with plain str.replace — the semantics of the SQL oracle's replace
    chain, which encode_bpe's per-word kernel must reproduce."""
    import re

    words = re.findall("[a-z]+", (text or "").lower())
    seg = "".join(_word_seg(w) for w in words)
    for _rank, lhs, rhs, _cnt in merges:
        seg = seg.replace("{%s}{%s}" % (lhs, rhs), "{%s%s}" % (lhs, rhs))
    return seg


# ---------------------------------------------------------------- pure


def test_word_seg_shape():
    assert _word_seg("ab") == "{a}{b}{" + EOW + "}"
    assert _word_seg("x") == "{x}{" + EOW + "}"


def test_train_hand_worked():
    # "low" x5, "lower" x2: pairs (l,o)=7, (o,w)=7, (w,</w>)=5,
    # (w,e)=2, (e,r)=2, (r,</w>)=2. Tie 7/7 -> (l,o) wins lex.
    merges = train_bpe_on_freqs([("low", 5), ("lower", 2)], 3)
    assert merges[0] == (1, "l", "o", 7)
    # After merge 1: segs {lo}{w}..., pair (lo,w)=7 is now the max.
    assert merges[1] == (2, "lo", "w", 7)
    # After merge 2: {low}{</w>} x5, {low}{e}{r}{</w>} x2.
    assert merges[2] == (3, "low", EOW, 5)


def test_merge_replace_is_canonical_on_runs():
    # Overlapping-run semantics: left-to-right non-overlapping, the
    # canonical greedy merge. {a}{a}{a} -> {aa}{a}, alternations all
    # merge.
    merges = train_bpe_on_freqs([("aaa", 1), ("abab", 3)], 1)
    assert merges[0][1:3] == ("a", "b")  # (a,b)=6 beats (a,a)=2
    seg = _encode_py("aaa abab", merges)
    assert seg == "{a}{a}{a}{</w>}{ab}{ab}{</w>}"


def test_train_early_stop_when_pairs_exhaust():
    # Single-char words: one pair (x, </w>) each -> after both merge,
    # no pairs remain; trainer stops at 2 of 10 requested.
    merges = train_bpe_on_freqs([("a", 3), ("b", 1)], 10)
    assert [m[1:3] for m in merges] == [("a", EOW), ("b", EOW)]


def test_train_validation():
    with pytest.raises(ValueError):
        train_bpe_on_freqs([("a", 1)], 0)


def test_eow_distinguishes_word_final():
    # "ab" frequent as a full word, "abc" rare: the learned unit is
    # (b, </w>)-flavored, proving the end-of-word marker participates.
    merges = train_bpe_on_freqs([("ab", 9), ("abc", 1)], 2)
    assert merges[0][1:3] == ("a", "b")
    assert merges[1][1:3] == ("ab", EOW)


# --------------------------------------------------------------- spark

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.spark
def test_word_frequencies_cap_tiebreak(spark):
    df = spark.createDataFrame(
        [("b b a a c",), (None,), ("A!",)], ["text"]
    )
    rows = word_frequencies(df, top_words=2).collect()
    got = {(r["word"], r["freq"]) for r in rows}
    assert got == {("a", 3), ("b", 2)}  # tie a/b at 2 resolved +1 'a'


@pytest.mark.spark
def test_spark_encode_matches_python(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    merges = train_bpe(word_frequencies(docs, top_words=50), 12)
    assert len(merges) == 12
    enc = encode_bpe(docs, merges).select("doc_id", "text", "bpe_seg", "n_bpe")
    for r in enc.collect():
        seg = _encode_py(r["text"], merges)
        assert r["bpe_seg"] == seg, r["doc_id"]
        assert r["n_bpe"] == seg.count("{")


@pytest.mark.spark
def _assert_map_only(df):
    p = _plan(df)
    assert "ArrowEvalPython" in p, p
    for op in ("Exchange", "Join", "Aggregate"):
        assert op not in p, (op, p)


@pytest.mark.spark
def test_encode_plan_is_map_only(spark):
    """Encoding is one map-only Arrow UDF projection: no Exchange, and
    no Join or Aggregate against the merge table (it is closure state,
    never a plan side)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _assert_map_only(encode_bpe(docs, [(1, "e", EOW, 0), (2, "t", "h", 0)]))


@pytest.mark.spark
def test_encode_trained_table_plan_is_map_only(spark):
    """A table trained on the corpus (not only a hand-written one)
    keeps the same map-only plan: the table's size picks no other
    path."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = train_bpe(word_frequencies(docs.limit(40), top_words=40), 6)
    assert len(merges) == 6
    _assert_map_only(encode_bpe(docs, merges))


@pytest.mark.spark
def test_merges_to_df_roundtrip(spark):
    merges = [(1, "l", "o", 7), (2, "lo", "w", 7)]
    out = merges_to_df(spark, merges).collect()
    assert [tuple(r) for r in out] == merges


# ------------------------------------------------------- property


def _merge_sim(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Independent merge implementation over explicit symbol lists
    (canonical left-to-right greedy) — no string replace involved."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _count_sim(segs):
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in segs:
        for pair in zip(syms, syms[1:]):
            counts[pair] = counts.get(pair, 0) + freq
    return counts


def test_trainer_differential_against_symbol_list_simulation():
    """train_bpe_on_freqs (brace-string replace engine) must agree
    merge-for-merge with an independent symbol-list simulation of the
    same algorithm, across seeded random corpora including repeated
    chars (the overlap-prone shape)."""
    import random
    import re

    for seed in range(40):
        rng = random.Random(9000 + seed)
        words = [
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(2, 12))
        ]
        freqs = [(w, rng.randint(1, 5)) for w in sorted(set(words))]
        n = rng.randint(1, 10)
        merges = train_bpe_on_freqs(freqs, n)

        segs = [(list(w) + [EOW], f) for w, f in freqs]
        for rank, lhs, rhs, cnt in merges:
            counts = _count_sim(segs)
            assert counts, (seed, rank)
            (el, er), ec = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            assert (el, er, ec) == (lhs, rhs, cnt), (seed, rank)
            segs = [(_merge_sim(s, lhs, rhs), f) for s, f in segs]
        if len(merges) < n:  # early stop must mean truly no pairs left
            assert not _count_sim(segs), seed

        # Encoding differential: replace-chain vs simulation.
        doc = " ".join(words)
        seg = _encode_py(doc, merges)
        sim: list[str] = []
        for w in re.findall("[a-z]+", doc.lower()):
            syms = list(w) + [EOW]
            for _rank, lhs, rhs, _c in merges:
                syms = _merge_sim(syms, lhs, rhs)
            sim.extend(syms)
        assert re.findall(r"\{([^}]*)\}", seg) == sim, seed


# ---------------------------------------------------------- encoder


def test_priority_encoder_matches_sequential_replace():
    """encode_word_py merges the lowest-rank pair present iteratively;
    the reference replays every merge in rank order. Provably equal
    (a merge's output symbol only occurs in later-rank rules) — pinned
    here by a seeded differential over overlap-prone random corpora,
    the same campaign shape as the trainer differential."""
    import random

    from htmlparser2_spark.operators.bpe import encode_text_py

    for seed in range(200):
        rng = random.Random(31000 + seed)
        alphabet = rng.choice(["ab", "aab", "abc", "abcd"])
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(2, 14))
        ]
        freqs = [(w, rng.randint(1, 5)) for w in sorted(set(words))]
        merges = train_bpe_on_freqs(freqs, rng.randint(1, 14))
        ranks = {(l, r): k for k, l, r, _ in merges}
        doc = " ".join(rng.choice(words) for _ in range(rng.randint(1, 20)))
        assert encode_text_py(doc, ranks) == _encode_py(doc, merges), seed
    assert encode_text_py(None, {}) == ""


@pytest.mark.spark
def test_encode_matches_reference_on_edge_inputs(spark):
    """encode_bpe equals the str.replace reference on real corpus text
    plus the edge rows: NULL, a word-free string, mixed case, and
    U+212A KELVIN SIGN, which lowercases into [a-z] ('k') in both
    Python str.lower() and the SQL oracle's lower()."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    edge = spark.createDataFrame(
        [(100001, "\u212aelvin si\u212an"), (100002, None), (100003, "42 !!"),
         (100004, "Ab")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").union(edge)
    merges = train_bpe(word_frequencies(docs, top_words=60), 15)
    got = {r["doc_id"]: (r["bpe_seg"], r["n_bpe"])
           for r in encode_bpe(docs, merges).collect()}
    assert len(got) == 64
    for doc_id, text in docs.collect():
        seg = _encode_py(text, merges)
        assert got[doc_id] == (seg, seg.count("{")), doc_id
    assert "{k}" in _encode_py("\u212a", [])


@pytest.mark.spark
def test_encode_without_merges_segments_null_and_nonlatin(spark):
    """With an empty merge table the output is the bare character
    segmentation: NULL and a word-free string give "", and letters are
    lowercased with the end-of-word marker appended."""
    df = spark.createDataFrame(
        [(1, None), (2, "42 !!"), (3, "Ab")], "doc_id long, text string"
    )
    got = [(r["bpe_seg"], r["n_bpe"])
           for r in encode_bpe(df, []).orderBy("doc_id").collect()]
    assert got == [("", 0), ("", 0), ("{a}{b}{%s}" % EOW, 3)]


@pytest.mark.spark
def test_arrow_engine_depth_independent(spark):
    """The kernel's output does not depend on the merge table's depth:
    a structurally-valid synthetic 300+-merge table (each word's prefix
    chain) encodes exactly like a direct encode_text_py call."""
    from htmlparser2_spark.operators.bpe import encode_text_py

    import random

    rng = random.Random(7)
    words = sorted(
        {
            "".join(rng.choice("abcdefgh") for _ in range(8))
            for _ in range(60)
        }
    )
    merges = []
    rank = 0
    seen = set()
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
    assert len(merges) > 260
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words) for _ in range(5))) for i in range(20)],
        ["doc_id", "text"],
    )
    enc = encode_bpe(docs, merges)
    ranks = {(l, r): k for k, l, r, _ in merges}
    for r in enc.collect():
        assert r["bpe_seg"] == encode_text_py(r["text"], ranks), r["doc_id"]
        assert r["n_bpe"] == r["bpe_seg"].count("{")
