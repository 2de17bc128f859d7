"""Seeded multi-file text corpus for the ``mr_corpus`` workload.

Shaped like FIXTURES.md F1: whole text files whose words follow a
Zipf-like law and repeat across files, with the tokenizer's edge
cases mixed in — letters from several scripts, case variants, letters
split by combining marks, Nl/No numerals (Ⅷ ½ ③) that are not
letters, Unicode spaces, and separators at the start and end of a
file. One file holds separators only and produces no token.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

_SYLLABLES = (
    "ka ri to ne mo sa lu vi de ba po gre str an el th or qu ix ym"
).split()
_SCRIPT_WORDS = (
    "café naïve straße Ærø façade jalapeño λόγος ἀρχή слово Москва "
    "漢字 東京 한국어 ﾃｽﾄ ʰa ǅemal ŉ ﬁne Ωmega"
).split()
# Not letters, so each one ends a token: digits, punctuation, Unicode
# spaces, Nl/No numerals and a combining acute accent.
_SEPARATORS = (
    " ", " ", " ", " ", "\n", ", ", ". ", "  ", "\t", "--", "_", "'", "’",
    "3", "42", "½", "Ⅷ", "③", " ", " ", "́", "!? ", "(", ")",
)


def _vocabulary(rng: random.Random, n_words: int) -> list[str]:
    words: set[str] = set(_SCRIPT_WORDS)
    while len(words) < n_words:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4)))
        words.add(w.capitalize() if rng.random() < 0.1 else w)
    vocab = sorted(words)
    rng.shuffle(vocab)
    return vocab


def generate_corpus(out_dir: str, seed: int, n_files: int, total_bytes: int) -> list[str]:
    """Write ``n_files`` text files of about ``total_bytes`` in all into
    ``out_dir``; return their paths. The same seed gives the same bytes."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 4000)
    cum = list(itertools.accumulate(1.0 / (rank + 1) ** 1.1 for rank in range(len(vocab))))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per_file = total_bytes // n_files
    for i in range(n_files):
        path = os.path.join(out_dir, f"doc-{i:03d}.txt")
        if i == n_files - 1:
            text = "".join(rng.choice(_SEPARATORS) for _ in range(64))
        else:
            # Files differ in size by up to 2x, like the reference corpus.
            target = int(per_file * rng.uniform(0.6, 1.4))
            parts = [rng.choice(_SEPARATORS)]
            size = 0
            while size < target:
                w = vocab[bisect.bisect_left(cum, rng.random() * cum[-1])]
                sep = " " if rng.random() < 0.8 else rng.choice(_SEPARATORS)
                parts.append(w)
                parts.append(sep)
                size += len(w) + len(sep)
            parts.append(rng.choice(_SEPARATORS))
            text = "".join(parts)
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(text)
        paths.append(path)
    return paths
