"""LSH banding over FracMinHash/bottom-k sketches.

The reference's scalable path is an inverted index ``hash → sketch-ids``
probed per query hash (``src/file_io.rs:227-232``,
``src/compare.rs:344-352``). At 10^12 docs the raw-hash postings join is
replaced by banding: a fixed-length minhash signature is DERIVED from
the retained sketch hashes by seeded rehash — honoring the reference's
one-hash-pass-per-SHINGLE design (``src/sketcher.rs:96-104``; SURVEY
§2.3.6) — then grouped into ``bands`` bands of ``rows`` rows; docs
sharing any (band_id, band_hash) become candidate pairs.

    v             = fmix64(h ^ seed0)            one remix per sketch hash h
    sig[p]        = min of v in OPH bucket p     (empty buckets densified)
    band_hash[b]  = fmix64(poly-combine(sig[b*rows .. b*rows+rows)) ^ seed'[b])

Empty sketches produce no bands (no candidates — matches the reference,
where a sketch with no hashes can never reach the postings join).

Two implementations compute the same bits: :func:`band_arrays` (numpy,
the reference the tests compare against) and :func:`band_keys`, the
column the pipeline bands with (a Java UDF, ``jvm/BandKeys.java``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

from .hashes import M64, _np_fmix64, xxh3_u64
from .params import SHINGLE_POLY_BASE, SketchParams

_U64 = np.uint64


def _seed0(params: SketchParams) -> np.uint64:
    return _U64(xxh3_u64(params.sig_seed & M64))


def _band_seeds(params: SketchParams) -> np.ndarray:
    return np.array(
        [
            xxh3_u64((params.sig_seed * 31 + 0xB0BA + b) & M64)
            for b in range(params.bands)
        ],
        dtype=_U64,
    )


def signature_batch(
    flat_hashes: np.ndarray, offsets: np.ndarray, params: SketchParams
) -> np.ndarray:
    """(n_docs, num_perm) uint64 minhash signatures; rows for empty
    sketches are all-ones (u64::MAX) sentinels.

    One-permutation hashing (Li, Owen, Zhang 2012) with rotation
    densification (Shrivastava & Li 2014): each retained hash is remixed
    ONCE, assigned to one of ``num_perm`` buckets by its low bits, and
    each bucket keeps its min; empty buckets borrow cyclically from the
    next filled bucket. One pass over the hashes instead of num_perm
    passes — the classic per-perm rehash was the pipeline's dominant
    memory-bandwidth consumer. Slot-collision probability remains ≈ the
    sketch Jaccard, which is all LSH banding needs (recall vs the oracle
    is enforced in tests).

    This also honors the reference's one-hash-pass design
    (/root/reference/src/sketcher.rs:96-104): signatures derive from
    retained hashes, never from per-shingle permutations.
    """
    n_docs = len(offsets) - 1
    P = params.num_perm
    sig = np.full((n_docs, P), _U64(M64), dtype=_U64)
    if len(flat_hashes) == 0:
        return sig
    v = _np_fmix64(flat_hashes ^ _seed0(params))
    bucket = (
        (v & _U64(P - 1)) if (P & (P - 1)) == 0 else (v % _U64(P))
    ).astype(np.int64)
    doc = (
        np.searchsorted(
            offsets, np.arange(len(flat_hashes), dtype=np.int64), side="right"
        )
        - 1
    )
    # segment-min over (doc, bucket): sort by combined key, reduceat
    key = doc * P + bucket
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    v_s = v[order]
    first = np.ones(len(key_s), dtype=bool)
    first[1:] = key_s[1:] != key_s[:-1]
    starts = np.where(first)[0]
    mins = np.minimum.reduceat(v_s, starts)
    uk = key_s[starts]
    sig[uk // P, uk % P] = mins

    # rotation densification: empty slots take fmix(next filled value + j)
    filled = sig != _U64(M64)
    any_filled = filled.any(axis=1)
    if not any_filled.all():
        pass  # fully-empty docs stay all-sentinel (no bands)
    rows = np.where(any_filled & ~filled.all(axis=1))[0]
    if len(rows):
        f2 = np.concatenate([filled[rows], filled[rows]], axis=1)
        s2 = np.concatenate([sig[rows], sig[rows]], axis=1)
        # for each position j (in the second copy), index of the nearest
        # filled position >= j scanning right-to-left
        idx = np.where(f2, np.arange(2 * P)[None, :], 2 * P + 1)
        nxt = np.minimum.accumulate(idx[:, ::-1], axis=1)[:, ::-1]
        take = nxt[:, :P]
        r = np.arange(len(rows))[:, None]
        borrowed = _np_fmix64(
            s2[r, take] + np.arange(P, dtype=_U64)[None, :]
        )
        sig[rows] = np.where(filled[rows], sig[rows], borrowed)
    return sig


def band_hash_batch(sig: np.ndarray, params: SketchParams) -> np.ndarray:
    """(n_docs, bands) uint64 band keys from signatures."""
    n_docs = sig.shape[0]
    r = params.rows
    bseeds = _band_seeds(params)
    grouped = sig.reshape(n_docs, params.bands, r)
    acc = np.zeros((n_docs, params.bands), dtype=_U64)
    base = _U64(SHINGLE_POLY_BASE)
    for j in range(r):
        acc = acc * base + grouped[:, :, j]
    return _np_fmix64(acc ^ bseeds[None, :])


def band_arrays(sketches: list[np.ndarray], params: SketchParams) -> list[np.ndarray]:
    """Per-doc band-key arrays (len == params.bands; empty for empty
    sketches)."""
    offsets = np.zeros(len(sketches) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in sketches], out=offsets[1:])
    flat = (
        np.concatenate(sketches).astype(_U64)
        if sketches and offsets[-1]
        else np.empty(0, dtype=_U64)
    )
    sig = signature_batch(flat, offsets, params)
    bh = band_hash_batch(sig, params)
    out = []
    for d in range(len(sketches)):
        out.append(bh[d] if len(sketches[d]) else np.empty(0, dtype=_U64))
    return out


# Why banding is a Java UDF (jam_spark/jvm/BandKeys.java) and not a
# column expression like the sketch: the OPH/fmix64 math is wrapping
# unsigned 64-bit arithmetic. Java long multiplies and adds wrap, so the
# class computes exactly the bits of ``band_arrays`` above, and the band
# keys, the oracle and the table layout stay as they are. Spark SQL long
# arithmetic throws on overflow under ANSI (the Spark 4 default), and its
# higher-order functions run interpreted (CodegenFallback): an OPH banding
# built from transform/filter/array_sort took 13-18 s on 15,696 sketches,
# where a pandas (Arrow) UDF over band_arrays took 0.5-0.6 s and this
# class 0.1 s (4-core host, warm JVM). The Java UDF runs in the executor
# JVM, so the band stage starts no Python worker.
def band_keys(sketch: Column | str, params: SketchParams) -> Column:
    """array<bigint> band keys of an array<bigint> sketch column, bit-equal
    to :func:`band_arrays` (the index in the array IS band_id; empty for
    empty and null sketches). Needs the jar on the session's classpath
    (:func:`jam_spark.deploy.ensure_shipped`)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic import column as classic

    spark = SparkSession.active()
    sc = spark.sparkContext
    # ADD JAR puts the jar on the session's shared class loader and makes
    # it the context class loader of the JVM thread that ran it; py4j
    # resolves classes through the context class loader of the JVM thread
    # that serves the calling Python thread, so set it here as well
    sc._jvm.java.lang.Thread.currentThread().setContextClassLoader(
        spark._jsparkSession.sharedState().jarClassLoader()
    )
    seeds = _band_seeds(params).view(np.int64).tolist()
    jseeds = sc._gateway.new_array(sc._jvm.long, len(seeds))
    for i, s in enumerate(seeds):
        jseeds[i] = s
    seed0 = int(_seed0(params).view(np.int64))
    udf = sc._jvm.jam_spark.jvm.BandKeys(seed0, jseeds, params.num_perm, params.rows)
    return classic.Column(udf.column(classic._to_java_column(sketch)))
