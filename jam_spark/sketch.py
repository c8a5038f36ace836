"""Sketch stage: ``text`` → FracMinHash/bottom-k sketch, vectorized.

Semantics are the reference's sketch pipeline (``src/sketcher.rs``):
tokenize → pack each k-shingle into a u64 → ONE hash pass per shingle →
strict ``hash < max_hash`` filter → set semantics → bottom-nmax smallest,
stored sorted ascending in unsigned order.

Implementation is Arrow-batched: the whole batch's tokens are hashed as
one flat numpy array; sliding k-windows are computed with a
prefix-product trick (the polynomial base is odd ⇒ invertible mod 2^64);
per-doc unique/sort/cap is one lexsort over the batch. No per-row Python
in the hot path beyond tokenization itself.

u64-vs-i64 (SURVEY §7 hard-part 1): hashes live as np.uint64 inside the
UDF — threshold and ordering are unsigned there — and are stored in
Spark as their i64 two's-complement bits (``ArrayType(LongType)``).
Spark SQL never orders raw hash values.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from ._malloc import tune_malloc
from .hashes import (
    M64,
    ahash_u64_np,
    hash_tokens,
    murmur3_u64_np,
    xxh3_64_short_np,
    xxh3_u64_np,
)
from .params import SHINGLE_POLY_BASE, SketchParams

tune_malloc()

_U64 = np.uint64

_ALGO_NP = {"xxh3": xxh3_u64_np, "ahash": ahash_u64_np, "murmur3": murmur3_u64_np}

# modular inverse of the (odd) polynomial base mod 2^64
_POLY_INV = pow(SHINGLE_POLY_BASE, -1, 1 << 64)


def _powers(base: int, n: int) -> np.ndarray:
    """[base^0, base^1, ..., base^(n-1)] mod 2^64."""
    out = np.empty(n, dtype=_U64)
    out[0] = 1
    if n > 1:
        out[1:] = _U64(base & M64)
        np.multiply.accumulate(out, out=out)
    return out


def shingle_hashes_flat(
    token_hashes: np.ndarray, doc_offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """All k-window polynomial packs for a batch of docs.

    token_hashes: flat uint64 array of per-token base hashes.
    doc_offsets:  int64 array, len n_docs+1; doc d owns
                  token_hashes[doc_offsets[d]:doc_offsets[d+1]].
    Returns (packed_values uint64, win_doc int64) for every window that
    lies fully inside one doc.
    """
    n = len(token_hashes)
    if n == 0 or k <= 0 or n < k:
        return np.empty(0, dtype=_U64), np.empty(0, dtype=np.int64)
    base = _U64(SHINGLE_POLY_BASE)
    if k <= 32:
        # direct Horner evaluation: k-1 fused multiply-adds over shifted
        # views — O(k·n) but allocation-light (2 temporaries), which beats
        # the O(n) prefix method under many-worker memory contention
        m = n - k + 1
        vals = token_hashes[:m].copy()
        for j in range(1, k):
            vals *= base
            vals += token_hashes[j : j + m]
    else:
        # prefix method: A_j = t_j * P^{-j}; C = cumsum(A);
        # window [i, i+k) value = (C[i+k-1] - C[i-1]) * P^{i+k-1}
        pinv = _powers(_POLY_INV, n)
        pfwd = _powers(SHINGLE_POLY_BASE, n)
        a = token_hashes * pinv
        c = np.cumsum(a, dtype=_U64)
        hi = c[k - 1 :]
        lo = np.concatenate(([_U64(0)], c[: n - k]))
        vals = (hi - lo) * pfwd[k - 1 :]
    # window start doc & validity: window fully inside one doc
    starts = np.arange(n - k + 1, dtype=np.int64)
    win_doc = np.searchsorted(doc_offsets, starts, side="right") - 1
    valid = starts + k <= doc_offsets[win_doc + 1]
    return vals[valid], win_doc[valid]


_ASCII_WS = np.zeros(256, dtype=bool)
for _c in b" \t\n\r\x0b\x0c":
    _ASCII_WS[_c] = True


def _tokenize_hash_ascii(norm_texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Byte-level vectorized tokenize+hash for ASCII-only normalized
    texts: one buffer, whitespace-run segmentation, gathered 16-byte
    matrix through the vectorized short-input xxh3 (bit-equal to
    ``xxh3_64(token)``); tokens >16 bytes take the scalar path.

    Returns (token_hashes uint64, doc_offsets int64 len n+1) — identical
    to the object-path tokenization, ~an order of magnitude cheaper (no
    per-token str objects, no factorize).
    """
    n_docs = len(norm_texts)
    buf = "\n".join(norm_texts).encode("ascii") if n_docs else b""
    arr = np.frombuffer(buf, dtype=np.uint8)
    nb = len(arr)
    # byte offset where each doc starts in the joined buffer
    doc_byte_start = np.zeros(n_docs + 1, dtype=np.int64)
    if n_docs:
        lens = np.fromiter((len(s) for s in norm_texts), dtype=np.int64, count=n_docs)
        np.cumsum(lens + 1, out=doc_byte_start[1:])  # +1 for the "\n" join
    ws = _ASCII_WS[arr]
    nonws = ~ws
    # token starts: non-ws preceded by ws (or buffer start)
    prev_ws = np.empty(nb, dtype=bool)
    if nb:
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
    starts = np.where(nonws & prev_ws)[0]
    next_ws = np.empty(nb, dtype=bool)
    if nb:
        next_ws[-1] = True
        next_ws[:-1] = ws[1:]
    ends = np.where(nonws & next_ws)[0] + 1
    tok_len = ends - starts

    # Hash tokens in CHUNKS with per-column fills: a single batch-wide
    # (n_tokens, 16) int64 index gather would allocate ~1GB per batch —
    # across 16+ workers that is an mmap/munmap + TLB-shootdown storm
    # (kernel time dwarfs user time). Chunked, the working set stays a
    # few MB and lives in the reused heap arena.
    n_tok = len(starts)
    hashes = np.zeros(n_tok, dtype=_U64)
    long_idx: list[int] = []
    CHUNK = 1 << 17
    mat = np.zeros((min(CHUNK, max(n_tok, 1)), 16), dtype=np.uint8)
    for c0 in range(0, n_tok, CHUNK):
        c1 = min(c0 + CHUNK, n_tok)
        m = c1 - c0
        s_idx = starts[c0:c1]
        l_idx = tok_len[c0:c1]
        sub = mat[:m]
        short = l_idx <= 16
        cap = np.minimum(l_idx, 16)
        limit = np.int64(max(nb - 1, 0))
        for j in range(16):
            # unclamped column gather (reads neighbor bytes past short
            # tokens), then one masked zeroing pass — no boolean-indexed
            # assignment in the loop
            sub[:, j] = arr[np.minimum(s_idx + j, limit)]
        sub *= np.arange(16, dtype=np.int64)[None, :] < cap[:, None]
        h = xxh3_64_short_np(sub, np.where(short, l_idx, 0))
        hashes[c0:c1] = np.where(short, h, _U64(0))
        if not short.all():
            long_idx.extend((c0 + np.where(~short)[0]).tolist())
    if long_idx:
        from .hashes import xxh3_64

        for i in long_idx:
            hashes[i] = xxh3_64(buf[starts[i] : ends[i]])

    # token → doc mapping via the byte offsets
    doc_of_tok = np.searchsorted(doc_byte_start, starts, side="right") - 1
    doc_offsets = np.zeros(n_docs + 1, dtype=np.int64)
    if len(doc_of_tok):
        np.cumsum(np.bincount(doc_of_tok, minlength=n_docs), out=doc_offsets[1:])
    return hashes, doc_offsets


def sketch_batch(
    texts: Iterable[str], params: SketchParams
) -> tuple[np.ndarray, np.ndarray]:
    """Sketch a batch of documents.

    Returns (flat_hashes uint64 sorted per doc ascending-unsigned,
    offsets int64 len n_docs+1).

    Fast path: if every normalized doc is pure ASCII, tokenization and
    token hashing run fully vectorized at the byte level. Any non-ASCII
    doc drops the batch to the object path (same results, slower).
    """
    from .normalize import normalize_text

    texts = list(texts)
    norm = [normalize_text(t) if t is not None else "" for t in texts]
    if all(s.isascii() for s in norm):
        token_hashes, doc_offsets = _tokenize_hash_ascii(norm)
        n_docs = len(norm)
    else:
        tok_lists = [s.split() for s in norm]
        n_docs = len(tok_lists)
        doc_offsets = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum([len(t) for t in tok_lists], out=doc_offsets[1:])
        flat_tokens = [t for toks in tok_lists for t in toks]
        if flat_tokens:
            codes, uniques = pd.factorize(
                pd.array(flat_tokens), use_na_sentinel=False
            )
            uniq_hashes = hash_tokens([u.encode("utf-8") for u in uniques])
            token_hashes = uniq_hashes[codes]
        else:
            token_hashes = np.empty(0, dtype=_U64)

    vals, win_doc = shingle_hashes_flat(token_hashes, doc_offsets, params.k)

    # ONE hash pass per shingle (src/sketcher.rs:96-104 analogue)
    h = _ALGO_NP[params.algo](vals)

    # FracMinHash: strict h < max_hash (src/sketcher.rs:28)
    if params.max_hash != M64:
        keep = h < _U64(params.max_hash)
    else:
        keep = h != _U64(M64)  # reference: strict < u64::MAX drops MAX itself
    h = h[keep]
    win_doc = win_doc[keep]

    # per-doc unique + sort (unsigned) in one lexsort over the batch
    order = np.lexsort((h, win_doc))
    h = h[order]
    win_doc = win_doc[order]
    if len(h):
        first = np.ones(len(h), dtype=bool)
        first[1:] = (h[1:] != h[:-1]) | (win_doc[1:] != win_doc[:-1])
        h = h[first]
        win_doc = win_doc[first]

    counts = np.bincount(win_doc, minlength=n_docs) if len(h) else np.zeros(
        n_docs, dtype=np.int64
    )
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])

    # bottom-nmax: keep the nmax smallest per doc (src/sketcher.rs:30-33)
    if params.nmax is not None and len(h):
        rank = np.arange(len(h), dtype=np.int64) - offsets[win_doc]
        keep = rank < params.nmax
        if not keep.all():
            h = h[keep]
            win_doc = win_doc[keep]
            counts = np.bincount(win_doc, minlength=n_docs)
            offsets = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
    return h, offsets


def sketch_arrays(texts: Iterable[str], params: SketchParams) -> list[np.ndarray]:
    """Per-doc sorted uint64 sketch arrays (convenience wrapper)."""
    h, off = sketch_batch(list(texts), params)
    return [h[off[d] : off[d + 1]] for d in range(len(off) - 1)]


def merge_sketches(
    sketches, group_col: str, params: SketchParams, id_col: str = "url"
):
    """A2: sketch merge/union per group — FracMinHash sketches are
    mergeable by construction (keep-below-threshold commutes with union,
    reference ``src/signature.rs:106-113``): hashes set-union (bottom-nmax
    re-capped), num_kmers = retained count (fresh-sketch convention).

    Returns (group_col, sketch, num_hashes, n_members).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    nmax = params.nmax

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = [
            np.asarray(s, dtype=np.int64).view(_U64)
            for s in pdf["sketch"]
            if s is not None and len(s)
        ]
        merged = (
            np.unique(np.concatenate(arrs)) if arrs else np.empty(0, dtype=_U64)
        )
        if nmax is not None:
            merged = merged[:nmax]
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "sketch": [merged.view(np.int64)],
                "num_hashes": [len(merged)],
                "n_members": [len(pdf)],
            }
        )

    return sketches.groupBy(group_col).applyInPandas(
        _merge,
        schema=f"{group_col} string, sketch array<long>, num_hashes long, n_members long",
    )


def make_sketch_udf(params: SketchParams):
    """pandas UDF: text → array<long> sketch (i64 bit view of the sorted
    unsigned u64 hashes). Register on a column with
    ``df.withColumn("sketch", udf("text"))``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if params.algo == "xxh64":
        raise ValueError(
            "algo='xxh64' is the JVM-native mode — use jvm_sketch_col()"
        )

    def _sketch(texts: pd.Series) -> pd.Series:
        h, off = sketch_batch(texts.tolist(), params)
        signed = h.view(np.int64)
        return pd.Series(
            [signed[off[d] : off[d + 1]] for d in range(len(off) - 1)]
        )

    return F.pandas_udf(_sketch, T.ArrayType(T.LongType()))


def token_windows(tokens, n: int, fn):
    """``fn(t, i)`` for every full ``n``-token window of the array column
    ``tokens``: ``t`` is the token array, bound once per row as the
    variable of a single-element ``transform``, and ``i`` the window's
    1-based start. Placed inline in the window lambda, the tokenizer (a
    regex split of the whole text) would run again for every window:
    O(len^2) per row. The window count is clamped at 0, so fewer than
    ``n`` tokens (or null) give an empty array of ``fn``'s type."""
    from pyspark.sql import functions as F

    def _windows(t):
        n_windows = F.greatest(F.size(t) - (n - 1), F.lit(0))
        return F.transform(
            F.array_repeat(F.lit(0), n_windows), lambda _, i: fn(t, i + 1)
        )

    return F.get(F.transform(F.array(tokens), _windows), 0)


def jvm_sketch_col(params: SketchParams, text_col: str = "text"):
    """JVM-native sketch expression (algo='xxh64'): the whole
    tokenize → shingle → hash → FracMinHash → distinct/sort/bottom-nmax
    pipeline as built-in column functions — whole-stage codegen, zero
    Python in the hot path. ~10x the Arrow-UDF path's throughput and
    scales with cores (no per-process allocator/GIL effects).

    Shingle hash = ``xxhash64(concat_ws(' ', k tokens))`` — one hash pass
    per shingle over the shingle bytes, the reference's Large-path shape
    (``src/sketcher.rs:99-105``). Requires fscale >= 2 (all retained
    hashes < 2^63 ⇒ signed order == unsigned order).
    """
    from pyspark.sql import functions as F

    if params.algo != "xxh64":
        raise ValueError("jvm_sketch_col requires algo='xxh64'")
    max_hash = params.max_hash
    # fscale >= 2 (enforced in params) ⇒ max_hash <= 2^63: every retained
    # hash is a non-negative signed long. At exactly 2^63 (fscale=2) the
    # strict h < max_hash filter degenerates to h >= 0 — lit(2^63) itself
    # would overflow the signed long literal, so express it that way.
    assert max_hash <= (1 << 63)
    if max_hash == (1 << 63):
        keep_fn = lambda h: h >= 0  # noqa: E731
    else:
        keep_fn = lambda h: (h >= 0) & (h < F.lit(max_hash))  # noqa: E731
    # Whitespace class: Java's \s is ASCII-only; Python's str.split()
    # (the oracle's tokenizer) splits on the Unicode White_Space property
    # PLUS the four ASCII separator controls 1C-1F. The regex matches
    # that set exactly, so JVM sketches equal oracle sketches on
    # non-ASCII web text too (NBSP, ideographic space, NEL, ...); the
    # empty-token filter absorbs leading/trailing whitespace.
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[\p{IsWhite_Space}\x1c-\x1f]+"),
        lambda t: t != "",
    )
    # xxhash64 over the k tokens directly: Spark chains the seed through
    # the arguments (h = xxh64(tok_i, seed=h)), so no gram string or
    # slice array is materialized per window. The oracle mirrors the
    # chaining exactly.
    grams = token_windows(
        toks, params.k,
        lambda t, i: F.xxhash64(*[F.element_at(t, i + j) for j in range(params.k)]),
    )
    sketch = F.array_sort(F.array_distinct(F.filter(grams, keep_fn)))
    if params.nmax is not None:
        sketch = F.slice(sketch, 1, params.nmax)
    return sketch
