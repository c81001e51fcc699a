"""Seeded document corpus for the train-data job.

Documents are drawn from a small technical vocabulary plus the stopwords
the Gopher gate looks for, with lengths spread across the gate's 50-word
floor so the quality gate drops a share of them.  About a tenth of the
documents are re-emitted under a new id with a few seeded word edits, so
the MinHash near-duplicate layer has real work; a benchmark set for the
decontamination pass is drawn from the corpus itself.
"""

from __future__ import annotations

import random

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer index shard commit offset record schema topic user hour "
    "file block codec cache plan stage task worker driver memory disk network"
).split()
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
N_SOURCES = 10
NEAR_DUP_SHARE = 0.1
BENCH_PASSAGES = 20


def documents(seed: int, n_docs: int):
    """Rows ``(doc_id, text, lang, source, n_chars)`` and the planted
    near-duplicates as ``(copy_id, source_id)`` pairs."""
    rng = random.Random(f"corpus:{seed}")
    words = VOCAB + STOPWORDS
    base = n_docs - int(n_docs * NEAR_DUP_SHARE)
    rows = []
    for i in range(base):
        n = rng.randint(20, 140)
        text = " ".join(rng.choice(words) for _ in range(n))
        rows.append((i, text, rng.choice(["en", "de", "nl"]), f"src{i % N_SOURCES}"))
    planted = []
    for j in range(base, n_docs):
        src = rows[rng.randrange(base)]
        toks = src[1].split()
        # Capitalise every fifth word: the case-exact substring scrub then
        # shares no 8-word window with the source, while the lowercased
        # MinHash shingles still match; ~3% of words are also replaced.
        off = rng.randrange(5)
        toks = [t.capitalize() if i % 5 == off else t for i, t in enumerate(toks)]
        for _ in range(max(1, len(toks) // 30)):
            toks[rng.randrange(len(toks))] = rng.choice(words)
        rows.append((j, " ".join(toks), src[2], src[3]))
        planted.append((j, src[0]))
    return [(i, t, lang, s, len(t)) for i, t, lang, s in rows], planted


def passes_gate(text: str) -> bool:
    """The Gopher gate of ``functions.text`` as it applies to these
    documents: one line of lowercase-able alphabetic words, so the symbol,
    bullet, ellipsis and alphabetic-ratio rules always pass and only the
    word count, mean word length and distinct stopwords decide."""
    toks = text.lower().split()
    return (
        50 <= len(toks) <= 100_000
        and 3.0 <= round(sum(map(len, toks)) / len(toks), 6) <= 10.0
        and len(set(toks) & set(STOPWORDS)) >= 2
    )


def benchmark_set(seed: int, rows):
    """``(bench_id, text)`` rows: 20-word windows lifted from corpus documents,
    so decontamination finds real 13-gram overlaps."""
    rng = random.Random(f"bench:{seed}")
    out = []
    for k in range(BENCH_PASSAGES):
        toks = rows[rng.randrange(len(rows))][1].split()
        lo = rng.randrange(max(1, len(toks) - 20))
        out.append((k, " ".join(toks[lo : lo + 20])))
    return out
