"""Seeded text corpus for the MapReduce workload.

Words follow Zipf(1.0) over a vocabulary of distinct [a-z] words, lines hold
8-23 words, and words are separated by runs of WordCount's delimiters
(" ,.\\"'"). The generator returns the answers as it writes the text: the
count of every word. The same seed gives the same files and answers.
"""
import os

import numpy as np

SEPARATORS = [" ", ", ", ". ", " \"", "\" ", " '", "' "]
SEP_WEIGHTS = [0.80, 0.08, 0.05, 0.02, 0.02, 0.015, 0.015]


def vocabulary(rng, n):
    """n distinct [a-z] words of 2-10 letters."""
    words, seen = [], set()
    while len(words) < n:
        m = 2 * (n - len(words))
        lens = rng.integers(2, 11, size=m)
        letters = rng.integers(97, 123, size=(m, 10), dtype=np.uint8)
        for row, ln in zip(letters, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def generate(seed, out_dir, n_files, file_mb, vocab_size):
    """Writes n_files text files of about file_mb MB each into out_dir.
    Returns (paths, answers), the answers being the count of every word."""
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary(rng, vocab_size), dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1))
    cdf /= cdf[-1]
    seps = np.array(SEPARATORS, dtype=object)
    sep_cdf = np.cumsum(SEP_WEIGHTS)
    sep_cdf /= sep_cdf[-1]
    lengths = np.array([len(w) for w in vocab])
    avg_word = float(lengths @ np.diff(cdf, prepend=0.0))
    line_bytes = 15.5 * (avg_word + 1.4)  # 15.5 words a line, ~1.4 separator bytes each
    os.makedirs(out_dir, exist_ok=True)
    counts = np.zeros(vocab_size, dtype=np.int64)
    paths = []
    for f in range(n_files):
        n_lines = int(file_mb * 1e6 / line_bytes)
        per_line = rng.integers(8, 24, size=n_lines)
        n_words = int(per_line.sum())
        idx = np.searchsorted(cdf, rng.random(n_words))
        counts += np.bincount(idx, minlength=vocab_size)
        toks = np.empty(2 * n_words, dtype=object)
        toks[0::2] = vocab[idx]
        toks[1::2] = seps[np.searchsorted(sep_cdf, rng.random(n_words))]
        toks[2 * np.cumsum(per_line) - 1] = "\n"
        path = os.path.join(out_dir, f"part-{f}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write("".join(toks.tolist()))
        paths.append(path)
    return paths, {w: int(c) for w, c in zip(vocab.tolist(), counts.tolist()) if c}
