"""Seeded inputs and exact oracles for the benchmark workloads.

Text is drawn from a Zipf(1.1) vocabulary of random lower-case words.
Sentences start with a capital and end in punctuation, and some words
carry a trailing comma, so the tokenizer's strip and lower-case steps
do real work. The oracle is the reference's own definition of a word:
``line.split()`` -> strip ``string.punctuation`` -> ``lower()`` -> drop
empties.
"""

from __future__ import annotations

import os
import string
from collections import Counter

import numpy as np

VOCAB = 50_000
ZIPF_A = 1.1
_LETTERS = np.array(list(string.ascii_lowercase))


def vocabulary(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 0])
    lengths = rng.integers(2, 11, size=VOCAB)
    letters = _LETTERS[rng.integers(0, 26, size=int(lengths.sum()))]
    words, pos = [], 0
    for n in lengths:
        words.append("".join(letters[pos:pos + n]))
        pos += n
    return np.array(words, dtype=object)


def text_lines(seed: int, stream: int, n_lines: int,
               vocab: np.ndarray) -> list[str]:
    """``n_lines`` lines of 1-3 sentences of 4-14 words each."""
    rng = np.random.default_rng([seed, 1, stream])
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_A)
    sent_per_line = rng.integers(1, 4, size=n_lines)
    sent_lens = rng.integers(4, 15, size=int(sent_per_line.sum()))
    n_words = int(sent_lens.sum())
    picks = vocab[np.searchsorted(cdf, rng.random(n_words) * cdf[-1])]
    words = [w + "," if c else w
             for w, c in zip(picks, rng.random(n_words) < 0.08)]
    ends = rng.choice([".", "!", "?", "...", '."'], size=len(sent_lens))
    sentences, pos = [], 0
    for n, end in zip(sent_lens, ends):
        sent = words[pos:pos + n]
        sent[0] = sent[0].capitalize()
        sent[-1] = sent[-1].rstrip(",") + end
        sentences.append(" ".join(sent))
        pos += n
    lines, pos = [], 0
    for n in sent_per_line:
        lines.append(" ".join(sentences[pos:pos + n]))
        pos += n
    return lines


def oracle_counts(lines) -> Counter:
    c: Counter = Counter()
    for line in lines:
        for tok in line.split():
            w = tok.strip(string.punctuation).lower()
            if w:
                c[w] += 1
    return c


def write_corpus(seed: int, out_dir: str, files: int,
                 lines_per_file: int) -> Counter:
    """``files`` ``.txt`` files plus one decoy the scan must skip."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = vocabulary(seed)
    total: Counter = Counter()
    for i in range(files):
        lines = text_lines(seed, i, lines_per_file, vocab)
        with open(os.path.join(out_dir, f"part-{i:02d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        total += oracle_counts(lines)
    with open(os.path.join(out_dir, "decoy.md"), "w") as f:
        f.write("Decoy decoy DECOY: not a .txt file, never counted.\n")
    return total
