"""Shared random-hyperplane sign-LSH signature kernel.

The three LSH queries (sim_lsh_bucketed, dedup_semantic_keep_lsh,
sim_knn_graph_lsh) all need, per vector, the SIGNS of its dot products
against the deterministic pseudo-random hyperplane family

    H[j][i] = (((j * 64 + i) * 2654435761) % 2000) / 1000.0 - 1.0

(Knuth multiplicative hash — chosen so Spark and DuckDB can generate
identical hyperplanes from pure integer arithmetic; the reference's
ANN layer has no cross-engine constraint so any public LSH family
would do).

The original formulation computed each dot as a per-(vector, j) Spark
higher-order-function fold after a crossJoin row explosion: n * J rows
each evaluating a 64-element lambda — linear work with a catastrophic
constant (measured 22 s for 20k x 28 at sf1, ~2/3 of the whole query's
wall) that also grows as O(n log n) because the adaptive bit count
rises with n. Here the dots are ONE BLAS matmul per Arrow batch inside
``mapInPandas`` — the same trick as dedup_embedding_cosine's block
kernel — with the same exactness discipline:

BLAS uses pairwise/FMA summation, which can differ from the oracle's
sequential ``list_sum`` fold in the last ulp — enough to flip the SIGN
of a dot sitting exactly at 0. So any dot whose magnitude falls within
a rigorous rounding-error bound (gamma_n * sum|v_i * h_i|, evaluated
per element via a second matmul on |V|, |H|) is re-computed with the
strict left-to-right fold before the sign is taken. Signs — the only
thing any consumer uses — are therefore bit-identical to the oracle's
fold; non-borderline magnitudes may differ in low bits and are not
exposed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

SIGNS_SCHEMA = "vec_id long, signs array<boolean>"

# |fold - matmul| <= 2 * gamma_64 * sum|v_i * h_i|; gamma_64 ~ 64 * 2^-52
# ~ 1.4e-14. 1e-13 adds a 7x safety margin — still re-folds essentially
# only true near-zero dots.
_BORDER_REL = 1e-13


def fold_gram(V, W=None):
    """EXACT-fold Gram matrix: out[a, b] = left-to-right fold sum of
    V[a, i] * W[b, i] — each (a, b) pair's additions happen in element
    order i = 0..d-1, identical to DuckDB's sequential ``list_sum``
    fold and Spark's ``aggregate`` fold, but vectorized ACROSS pairs
    (one fused elementwise op per dimension instead of one matmul:
    ~3-5x slower than BLAS yet bit-exact, which removes the whole
    borderline-re-fold dance). Rows go in chunks of 2048, which bounds
    peak memory to 2048 x len(W) doubles for very full buckets.

    Returns a (len(V), len(W)) float64 array.
    """
    import numpy as np

    if W is None:
        W = V
    out = np.empty((len(V), len(W)))
    for s in range(0, len(V), 2048):
        e = min(s + 2048, len(V))
        acc = np.zeros((e - s, len(W)))
        for i in range(V.shape[1]):
            acc += V[s:e, i, None] * W[None, :, i]
        out[s:e] = acc
    return out


def fold_norms(V):
    """Exact-fold L2 norms: sqrt of the sequential fold of v_i^2 —
    same element order as ``sqrt(list_sum(list_transform(v, x->x*x)))``."""
    import numpy as np

    acc = np.zeros(len(V))
    for i in range(V.shape[1]):
        acc = acc + V[:, i] * V[:, i]
    return np.sqrt(acc)


def sign_matrix(V, n_j: int):
    """Exact sign bits of V @ H^T for the shared hyperplane family:
    returns a (len(V), n_j) bool array with entry [r, j] ==
    (sequential-fold dot(V[r], H[j]) > 0) exactly. One BLAS matmul,
    then any dot within the rigorous rounding bound re-folded
    left-to-right before the sign is taken (module docstring). This is
    the kernel ``sign_signatures`` calls."""
    import numpy as np

    j = np.arange(n_j, dtype=np.int64)[:, None]
    i = np.arange(64, dtype=np.int64)[None, :]
    H = (((j * 64 + i) * 2654435761) % 2000) / 1000.0 - 1.0  # (n_j, 64)
    Ht = np.ascontiguousarray(H.T)  # (64, n_j)
    dots = V @ Ht
    bound = _BORDER_REL * (np.abs(V) @ np.abs(Ht))
    signs = dots > 0.0
    for r, c in zip(*np.nonzero(np.abs(dots) <= bound)):
        acc = 0.0
        for x, h in zip(V[r], Ht[:, c]):
            acc += x * h
        signs[r, c] = acc > 0.0
    return signs


def band_pack_expr(bands: int, bits: int) -> str:
    """SQL expr packing the flat ``signs`` array into per-band integer
    bucket ids: transform over bands, each aggregating its ``bits`` signs
    into a bigint (bit k set iff signs[b*bits+k]), for the LSH family
    in queries/extensions.py — posexplode the result to (band, bucket)."""
    return (
        f"transform(sequence(0, {bands - 1}), b -> "
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, k) -> "
        f"acc + IF(signs[b * {bits} + k], "
        f"cast(shiftleft(1, k) as bigint), 0L)))"
    )


def sign_signatures(emb: DataFrame, n_j: int) -> DataFrame:
    """(vec_id, v: array<double>) -> (vec_id, signs: array<boolean>)
    with signs[j] == (sequential-fold dot(v, H[j]) > 0) exactly.

    One Arrow batch = one (batch x 64) @ (64 x n_j) matmul; borderline
    magnitudes re-folded sequentially (see module docstring). The
    output column order is the input order of j = 0..n_j-1, so callers
    slice bands/bits out of it however they like.
    """
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(emb)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame({"vec_id": [], "signs": []})
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)  # (b, 64)
            signs = sign_matrix(V, n_j)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "signs": list(signs)}
            )

    return emb.select("vec_id", "v").mapInPandas(fn, SIGNS_SCHEMA)
