"""Seeded inputs for the benchmark: documents and query streams. Pure
Python (``random.Random``), so one seed gives byte-identical inputs on
any machine; the engine only ever sees the
rows these functions return.

Documents are lines of Zipf-distributed pseudo-words mixed with
English stopwords. A ``dup_share`` of them repeat earlier documents,
split three ways so every dedup gate has mass:

- exact copies of an earlier original (exact gate);
- near copies: an earlier original with a few words swapped per line
  (substring and minhash gates);
- boilerplate lines from a small shared pool appended to originals
  (line gate).

A near copy is always made from an original, and each original gets
at most one, so near-duplicate clusters are pairs: greedy arrival-order
admission (the streaming gates) then keeps exactly what batch
connected-components keep, as long as ids ascend in arrival order.
"""

from __future__ import annotations

import hashlib
import json
import random
from itertools import accumulate

STOPWORDS = (
    "the of and to in a is that for it as with was on be by at this "
    "from or an are not have which but one all were they their".split()
)
_ONSETS = "b c d f g h k l m n p r s t v z br st tr pl gr".split()
_VOWELS = "a e i o u ai ea ou".split()
VOCAB_SIZE = 3000
QUERY_HEAD = 400  # queries draw from this many most frequent words
LINES = (8, 14)  # lines per original document
ZIPF_S = 1.05


def vocabulary(seed: int) -> list[str]:
    """``VOCAB_SIZE`` distinct lowercase pseudo-words, in Zipf rank order."""
    rng = random.Random(f"vocab-{seed}")
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(2, 4))
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Draws from ``items`` with weight 1/rank**ZIPF_S."""

    def __init__(self, items: list[str]):
        self.items = items
        self.cum = list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(items))))

    def draw(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.items, cum_weights=self.cum, k=k)


def _line(rng: random.Random, zipf: Zipf) -> str:
    words = zipf.draw(rng, rng.randint(8, 14))
    # a stopword after roughly every third content word
    out: list[str] = []
    for w in words:
        out.append(w)
        if rng.random() < 0.35:
            out.append(rng.choice(STOPWORDS))
    return " ".join(out) + "."


def _near_copy(rng: random.Random, text: str, zipf: Zipf) -> str:
    lines = []
    for line in text.split("\n"):
        words = line.rstrip(".").split(" ")
        for _ in range(2):
            words[rng.randrange(len(words))] = zipf.draw(rng, 1)[0]
        lines.append(" ".join(words) + ".")
    return "\n".join(lines)


def documents(seed: int, n_docs: int, dup_share: float = 0.2) -> list[tuple[int, str, str]]:
    """``n_docs`` rows ``(doc_id, text, source)`` with ascending ids
    from 0. ``dup_share`` of them (after the first tenth,
    which is all originals) repeat an earlier document: a third exact,
    a third near copies, and the originals of the remaining third carry
    boilerplate lines instead."""
    rng = random.Random(f"docs-{seed}")
    zipf = Zipf(vocabulary(seed))
    boiler = [_line(rng, zipf) for _ in range(12)]
    rows: list[tuple[int, str, str]] = []
    originals: list[str] = []
    near_used: set[int] = set()
    for doc_id in range(n_docs):
        source = f"doc/{seed}/{doc_id}"
        r = rng.random()
        if originals and doc_id >= n_docs // 10 and r < dup_share / 3:
            text = rng.choice(originals)
        elif originals and doc_id >= n_docs // 10 and r < 2 * dup_share / 3:
            j = rng.randrange(len(originals))
            if j in near_used:
                text = rng.choice(originals)
            else:
                near_used.add(j)
                text = _near_copy(rng, originals[j], zipf)
        else:
            body = [_line(rng, zipf) for _ in range(rng.randint(*LINES))]
            if r < dup_share:
                body.insert(rng.randrange(len(body) + 1), rng.choice(boiler))
            text = "\n".join(body)
            originals.append(text)
        rows.append((doc_id, text, source))
    return rows


def queries(seed: int, n: int, repeat_share: float = 0.3) -> list[str]:
    """``n`` query strings of 2-4 words drawn Zipf-style from the
    corpus vocabulary's most frequent words; ``repeat_share`` of them
    repeat an earlier query verbatim."""
    rng = random.Random(f"queries-{seed}")
    zipf = Zipf(vocabulary(seed)[:QUERY_HEAD])
    out: list[str] = []
    for _ in range(n):
        if out and rng.random() < repeat_share:
            out.append(rng.choice(out))
        else:
            out.append(" ".join(zipf.draw(rng, rng.randint(2, 4))))
    return out


def digest(obj) -> str:
    """sha256 of a JSON rendering — for comparing inputs or outputs
    across runs."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()
