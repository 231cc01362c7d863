"""Seeded input generators and their reference outputs (no Spark).

Every generator is a pure function of its seed. Each returns the rows
the program receives plus the output the program must produce, built
from the same structural description as the input, never by running
the program:

* :func:`small_docs` - ``documents`` rows for ``sources.pages``; the
  pages source itself derives the expected textContent column.
* :func:`structured_pages` - ~4 KB structure-rich pages with the exact
  Markdown ``engine.markdown.to_markdown`` renders for them.
* :func:`curation_corpus` - texts with a stated Gopher keep share,
  exact copies, one-word near-duplicates and contaminated documents,
  with the expected stage counts and prep chunks.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# The sf0.1 ``documents`` vocabulary: the words the repo's synthetic
# corpora are made of.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# The Gopher gate needs two distinct kinds of these per kept document;
# the sf0.1 vocabulary alone carries one ("the").
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

# run_prep chunking the curation replay asks for.
CHUNK_TOKENS = 128
CHUNK_OVERLAP = 32


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, k=n)


# ---------------------------------------------------------------- small pages


def small_docs(seed: int, n_docs: int) -> dict[str, list]:
    """Columns of a ``documents`` table (doc_id, text, lang, source).

    Text is 20-75 sf0.1 words (~300 chars, so ``sources.pages`` makes
    ~460 B pages); one doc in eight carries ``&`` or ``<`` so the page
    markup holds escaped entities.
    """
    rng = random.Random(seed)
    texts = []
    for _ in range(n_docs):
        words = _words(rng, rng.randint(20, 75))
        r = rng.random()
        if r < 0.0625:
            words[rng.randrange(len(words))] = "&"
        elif r < 0.125:
            words[rng.randrange(len(words))] = "a<b"
        texts.append(" ".join(words))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choices(LANGS, k=n_docs),
        "source": [f"src{rng.randrange(5)}" for _ in range(n_docs)],
    }


# ----------------------------------------------------------- structured pages


def structured_page(rng: random.Random, i: int) -> tuple[str, str]:
    """(html, expected markdown) of one wiki-style page: headings,
    paragraphs, a list of links with nested emphasis, a table with
    inline code, a code block and a quote."""
    html: list[str] = []
    md: list[str] = []
    title = f"Doc {i} {rng.choice(VOCAB)}"
    html.append(
        f"<html><head><title>Doc {i}</title><style>p{{}}</style></head>"
        f"<body><h1>{title}</h1>"
    )
    md.append(f"# {title}")
    for _ in range(rng.randint(5, 7)):
        text = " ".join(_words(rng, rng.randint(55, 75)))
        html.append(f"<p>{text}</p>")
        md.append(text)
    html.append("<h2>Index</h2>")
    md.append("## Index")
    tag, marker = rng.choice((("ul", "- "), ("ol", None)))
    items_html, items_md = [], []
    for k in range(rng.randint(6, 9)):
        label = " ".join(_words(rng, 4))
        bold = " ".join(_words(rng, 3))
        em = " ".join(_words(rng, 3))
        items_html.append(
            f'<li><a href="/w/{i}-{k}">{label}</a>'
            f"<ul><li><b>{bold}</b> and <i>{em}</i></li></ul></li>"
        )
        mark = marker or f"{k + 1}. "
        items_md.append(f"{mark}[{label}](/w/{i}-{k})")
        items_md.append(f"  - **{bold}** and *{em}*")
    html.append(f"<{tag}>{''.join(items_html)}</{tag}>")
    md.append("\n".join(items_md))
    rows_html = ["<tr><th>key</th><th>val</th></tr>"]
    rows_md = ["| key | val |", "| --- | --- |"]
    for k in range(rng.randint(4, 7)):
        key = " ".join(_words(rng, 3))
        rows_html.append(f"<tr><td>{key}</td><td><code>v{k}</code></td></tr>")
        rows_md.append(f"| {key} | `v{k}` |")
    html.append(f"<table>{''.join(rows_html)}</table>")
    md.append("\n".join(rows_md))
    html.append(f"<pre>x = {i}</pre>")
    md.append(f"```\nx = {i}\n```")
    quote = " ".join(_words(rng, 12))
    html.append(f"<blockquote>{quote}</blockquote></body></html>")
    md.append(f"> {quote}")
    return "".join(html), "\n\n".join(md)


def structured_pages(seed: int, n_docs: int) -> dict[str, list]:
    """Columns of a pages table (url, html, text, lang) whose ``text``
    is the expected Markdown of ``html``."""
    rng = random.Random(seed)
    htmls, texts = [], []
    for i in range(n_docs):
        page, expected = structured_page(rng, i)
        htmls.append(page.encode("utf-8"))
        texts.append(expected)
    return {
        "url": [f"https://wiki{i % 41}.example/w/{i}" for i in range(n_docs)],
        "html": htmls,
        "text": texts,
        "lang": rng.choices(LANGS, k=n_docs),
    }


# ---------------------------------------------------------- curation corpus


@dataclass
class Curation:
    docs: dict[str, list]
    bench: dict[str, list]
    # funnel stage -> expected row count, for run_curation then run_prep
    funnel: dict[str, int]
    prep_funnel: dict[str, int]
    chunks: dict[str, list] = field(default_factory=dict)


def _passing_text(rng: random.Random) -> list[list[str]]:
    """Lines of sf0.1 words with a quarter stopwords: 96-300 words, so
    the Gopher gate keeps it with wide margins on every rule."""
    lines = []
    for _ in range(rng.randint(8, 20)):
        line = [
            rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(VOCAB)
            for _ in range(rng.randint(12, 15))
        ]
        lines.append(line)
    return lines


def _failing_text(rng: random.Random, kind: int) -> list[list[str]]:
    """Lines that fail exactly one Gopher rule, by ``kind``."""
    if kind == 0:  # too_few_words
        return [_passing_text(rng)[0][:12], _passing_text(rng)[0][:12]]
    if kind == 1:  # too_few_stopwords: the plain sf0.1 text shape
        return [_words(rng, 14) for _ in range(rng.randint(5, 12))]
    lines = _passing_text(rng)
    if kind == 2:  # symbol_heavy: '#' on every fourth word
        return [["#" + w if k % 4 == 0 else w for k, w in enumerate(ln)]
                for ln in lines]
    return [["-"] + ln for ln in lines]  # bullet_heavy


def _join(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ln) for ln in lines)


def _perturb(rng: random.Random, lines: list[list[str]]) -> list[list[str]]:
    """Copy with one non-stopword replaced by another sf0.1 word, so
    every Gopher signal keeps its side of its threshold.

    The first or last word is preferred: it sits in a single word
    3-gram, which keeps the pair's Jaccard >= 0.97 and the chance that
    LSH (32 permutations, 8 bands) misses it below 1e-8."""
    out = [list(ln) for ln in lines]
    edges = [(0, 0), (len(out) - 1, len(out[-1]) - 1)]
    rng.shuffle(edges)
    while True:
        li, wi = edges.pop() if edges else (
            rng.randrange(len(out)), rng.randrange(len(out[0]))
        )
        word = out[li][wi] if wi < len(out[li]) else ""
        if word in STOPWORDS or not word.isalpha():
            continue
        out[li][wi] = rng.choice([w for w in VOCAB if w not in STOPWORDS and w != word])
        return out


def _ngrams(tokens: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def curation_corpus(seed: int, n_originals: int) -> Curation:
    """Corpus for ``run_curation`` (Gopher gate, dedup, exact
    decontamination) then ``run_prep``.

    Originals take ids ``0..n_originals-1``; 80% pass the Gopher gate
    and the rest fail one rule each. Every copy gets a larger id, so
    dedup keeps the original: 10% of originals get an exact copy and
    10% one or two one-word near-duplicates (Jaccard of word 3-grams
    >= 0.9). The benchmark set quotes a 10-word window from 3% of the
    passing originals plus as many unrelated sentences.
    """
    rng = random.Random(seed)
    originals = []  # (lines, passes)
    for i in range(n_originals):
        if rng.random() < 0.8:
            originals.append((_passing_text(rng), True))
        else:
            originals.append((_failing_text(rng, i % 4), False))
    ids, texts = [], []
    for i, (lines, _) in enumerate(originals):
        ids.append(i)
        texts.append(_join(lines))
    kept_by_gate = sum(1 for _, ok in originals if ok)
    next_id = n_originals
    for lines, ok in originals:
        r = rng.random()
        copies = []
        if r < 0.1:
            copies = [lines]
        elif r < 0.2:
            copies = [_perturb(rng, lines) for _ in range(rng.randint(1, 2))]
        for c in copies:
            ids.append(next_id)
            texts.append(_join(c))
            next_id += 1
            kept_by_gate += ok
    # Shuffle row order so copies are not adjacent to their originals.
    order = list(range(len(ids)))
    rng.shuffle(order)
    docs = {
        "doc_id": [ids[k] for k in order],
        "text": [texts[k] for k in order],
        "lang": [LANGS[ids[k] % len(LANGS)] for k in order],
    }

    passing = [i for i, (_, ok) in enumerate(originals) if ok]
    bench_texts = []
    for i in rng.sample(passing, max(1, len(passing) * 3 // 100)):
        # Quote inside one line, away from its edges: dedup and
        # decontamination split on single spaces, so a line's first and
        # last words are glued to the neighbouring line by the newline.
        line = max(originals[i][0], key=len)
        start = rng.randrange(1, len(line) - 10)
        bench_texts.append(" ".join(line[start:start + 10]))
    for _ in range(len(bench_texts)):
        bench_texts.append(" ".join(_words(rng, 12)))
    bench = {"bench_id": list(range(len(bench_texts))), "text": bench_texts}

    bench_grams: set[tuple[str, ...]] = set()
    for t in bench_texts:
        bench_grams |= _ngrams(t.split(" "), 8)
    survivors = [
        i for i in passing
        if not (_ngrams(texts[i].split(" "), 8) & bench_grams)
    ]
    chunks: dict[str, list] = {
        "id": [], "chunk_idx": [], "n_chunk_tokens": [], "chunk_text": []
    }
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    for i in survivors:
        toks = texts[i].split()
        last = max(len(toks) - CHUNK_OVERLAP - 1, 0)
        for k, start in enumerate(range(0, last + 1, stride)):
            chunks["id"].append(i)
            chunks["chunk_idx"].append(k)
            chunks["n_chunk_tokens"].append(min(CHUNK_TOKENS, len(toks) - start))
            chunks["chunk_text"].append(" ".join(toks[start:start + CHUNK_TOKENS]))
    return Curation(
        docs=docs,
        bench=bench,
        funnel={
            "ingest": len(ids),
            "quality": kept_by_gate,
            "dedup": len(passing),
            "decontaminated": len(survivors),
        },
        prep_funnel={
            "ingest_docs": len(survivors),
            "normalized_docs": len(survivors),
            "chunks": len(chunks["id"]),
        },
        chunks=chunks,
    )
