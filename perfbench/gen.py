"""Seeded, vectorized pages generator with planted duplicate truth.

The benchmark owns its inputs: nothing here imports ``jam_spark``, so a
change to the program cannot change what it is measured on.

A corpus is a pandas frame with the ``input_hint`` columns
``(url, warc_ts, html, text, lang)`` plus the planted truth: ``group``
(two pages are duplicates iff they share it) and ``decoy_pair``.
Planted structure:

* unique pages (word soup over a fixed vocabulary);
* exact-duplicate groups of 2-5 copies;
* near-duplicate chains of 3-4 pages, each a 1-2% token edit of the
  previous one (every pair stays far above the 50% containment cutoff);
* decoy pairs: a page and a rewrite of it that keeps 30-40% of its
  40-token blocks in place and replaces the rest, so the two share long
  runs (5-shingle containment about 0.23-0.44, below the 50% cutoff):
  they collide in LSH bands and only the verify step keeps them apart.
  Both pages of a pair share a ``decoy_pair`` id (-1 on other pages);
* empty pages and pages shorter than ``k`` tokens;
* one hot template cluster of ``hot_size`` pages sharing a 300-token
  template and a 3-token unique tail. ``hot_size`` defaults above the
  program's ``band_cap`` (256) so hot-key thinning really runs.

Pages with byte-identical text are always the same group (empty pages
included), whatever category produced them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 4000
_EPOCH = np.datetime64("2025-03-14T00:00:00", "us")
_LANGS = np.array(["en", "de", "fr", "es"])
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
DECOY_BLOCK = 40


def vocab() -> np.ndarray:
    """``VOCAB_SIZE`` distinct pseudo-words of 3-10 letters, the same for
    every corpus."""
    rng = np.random.default_rng(0)
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        lens = rng.integers(3, 11, size=VOCAB_SIZE)
        letters = rng.integers(0, 26, size=(VOCAB_SIZE, 10))
        for n, row in zip(lens, letters):
            words.add("".join(_LETTERS[row[:n]]))
    return np.array(sorted(words)[:VOCAB_SIZE])


def _edit(rng: np.random.Generator, toks: np.ndarray, rate: float) -> np.ndarray:
    """Substitute, delete and insert ``rate`` of the tokens."""
    n_edit = max(1, int(len(toks) * rate))
    pos = np.sort(rng.choice(len(toks), size=n_edit, replace=False))
    ops = rng.integers(0, 3, size=n_edit)
    out = toks.copy()
    out[pos[ops == 0]] = rng.integers(0, VOCAB_SIZE, size=int((ops == 0).sum()))
    keep = np.ones(len(out), dtype=bool)
    keep[pos[ops == 1]] = False
    ins = pos[ops == 2]
    out = np.insert(out, ins, rng.integers(0, VOCAB_SIZE, size=len(ins)))
    keep = np.insert(keep, ins, True)
    return out[keep]


def make_pages(
    n: int,
    seed: int,
    hot_size: int = 400,
) -> pd.DataFrame:
    """At least ``n`` pages (groups are completed, so a few more), in a
    seed-shuffled row order. Same (n, seed, hot_size) ⇒
    byte-identical frame."""
    rng = np.random.default_rng([seed, n, hot_size])
    words = vocab()
    docs: list[np.ndarray | str] = []
    groups: list[int] = []
    decoys: list[int] = []
    g = 0

    def add(tokens, group: int, decoy: int = -1) -> None:
        docs.append(tokens)
        groups.append(group)
        decoys.append(decoy)

    # edge rows: empty pages, and distinct pages shorter than k=5 tokens
    for _ in range(3):
        add("", g)
    g += 1
    for _ in range(8):
        add(rng.integers(0, VOCAB_SIZE, size=int(rng.integers(1, 5))), g)
        g += 1
    # the hot template cluster
    template = rng.integers(0, VOCAB_SIZE, size=300)
    for _ in range(hot_size):
        add(np.concatenate([template, rng.integers(0, VOCAB_SIZE, size=3)]), g)
    g += 1

    while len(docs) < n:
        r = rng.random()
        if r < 0.5:  # unique
            add(rng.integers(0, VOCAB_SIZE, size=int(rng.integers(50, 600))), g)
        elif r < 0.68:  # exact-dup group
            toks = rng.integers(0, VOCAB_SIZE, size=int(rng.integers(80, 600)))
            for _ in range(int(rng.integers(2, 6))):
                add(toks, g)
        elif r < 0.84:  # near-dup chain
            toks = rng.integers(0, VOCAB_SIZE, size=int(rng.integers(200, 700)))
            for _ in range(int(rng.integers(3, 5))):
                add(toks, g)
                toks = _edit(rng, toks, float(rng.uniform(0.01, 0.02)))
        else:  # decoy pair: one group each, never clustered together
            n_blocks = int(rng.integers(8, 18))
            toks = rng.integers(0, VOCAB_SIZE, size=n_blocks * DECOY_BLOCK)
            add(toks, g, decoy=g)
            block = np.arange(len(toks)) // DECOY_BLOCK
            kept = rng.permutation(n_blocks) < round(rng.uniform(0.3, 0.4) * n_blocks)
            fresh = rng.integers(0, VOCAB_SIZE, size=len(toks))
            add(np.where(kept[block], toks, fresh), g + 1, decoy=g)
            g += 1
        g += 1

    texts = [d if isinstance(d, str) else " ".join(words[d]) for d in docs]
    m = len(texts)
    order = rng.permutation(m)
    texts = [texts[i] for i in order]
    group = np.asarray(groups)[order]
    decoy = np.asarray(decoys)[order]
    idx = np.arange(m)
    pdf = pd.DataFrame(
        {
            "url": [f"https://site{i % 97}.example/p/{seed}/{i}" for i in idx],
            "warc_ts": _EPOCH + idx.astype("timedelta64[s]"),
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in texts],
            "text": texts,
            "lang": _LANGS[idx % len(_LANGS)],
            "group": group,
            "decoy_pair": decoy,
        }
    )
    return merge_identical(pdf)


def merge_identical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Byte-identical texts are duplicates: join their groups, closing
    transitively (label propagation to the smallest group id)."""
    g = pdf["group"]
    while True:
        nxt = g.groupby(pdf["text"]).transform("min")
        nxt = nxt.groupby(g).transform("min")
        if nxt.equals(g):
            return pdf.assign(group=g.to_numpy())
        g = nxt


def pair_scores(truth: pd.Series, pred: pd.Series) -> tuple[float, float, int, int]:
    """(recall, precision, truth_pairs, predicted_pairs) over unordered
    duplicate pairs; ``truth``/``pred`` are cluster labels aligned by
    index. Computed from the contingency table, never by listing pairs."""
    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    both = pairs(pd.DataFrame({"t": truth, "p": pred}).value_counts())
    t = pairs(truth.value_counts())
    p = pairs(pred.value_counts())
    recall = both / t if t else 1.0
    precision = both / p if p else 1.0
    return recall, precision, t, p
