"""Arrow-vectorized signature kernels for the dedup family.

The MinHash/SimHash signature math is integer arithmetic over a
per-document ``array<long>`` of feature hashes. These kernels are its
only library implementation. The pure-expression formulations (64
higher-order ``aggregate`` passes for SimHash, 64 ``filter`` +
``array_min`` lanes + a rotation densify for OPH) live in
``tests/sim_reference.py`` as parity references: correct and
shuffle-free, but Spark evaluates lambda-bearing expressions
interpreted, one element at a time — at sf0.1 that signature
projection alone costs ~1.4 s (SimHash) / ~2.0 s (OPH) of the dedup
pipelines' wall time, and the cost is per-element CPU that scales
linearly with corpus size on every executor.

These kernels move the same math across the Arrow boundary once per
batch (spark_optimization_guide §4.2: hand whole batches to vectorized
native code) and compute it in numpy:

- flatten the batch's hash arrays into one contiguous int64 vector,
- SimHash: per bit b, ``(h >> b) & 1`` then one 1-D segmented sum
  (``np.add.reduceat``) — 64 vectorized passes, no per-element Python;
- OPH: lane = top bits (unsigned shift), per-(doc, lane) minima via
  ``np.minimum.at``, rotation densify as 2·num_hashes vectorized
  column steps.

Measured at sf0.1: SimHash signature 1.38 s → ~0.05 s of kernel time,
OPH signature 1.96 s → ~0.03 s (plus one Arrow transfer of the hash
arrays). Bit-exact against the expression path for both the xxhash64
(64-bit) and md5 (60-bit) feature spaces — asserted by
``tests/test_dedup.py::test_vectorized_signatures_match_expressions``;
the oracle-replayed certificates (``dd_simhash_probed_verified``,
``dd_minhash_banded_verified``) hash-match through this path because
every operation is integer-exact.

Only the signature projection changes: plan shape (exchanges, joins,
bucket keys) is untouched apart from one sanctioned ``ArrowEvalPython``
node replacing the interpreted projection.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.column import Column

__all__ = [
    "simhash_np",
    "oph_densified_np",
    "simhash_bits_vec",
    "oph_signature_vec",
]

_I64MAX = np.iinfo(np.int64).max


def _segments(arrs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten a sequence of int64 arrays (None → empty) into
    (flat, lens, starts)."""
    lens = np.fromiter(
        (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=len(arrs)
    )
    if int(lens.sum()) == 0:
        return np.empty(0, np.int64), lens, np.zeros(len(arrs), np.int64)
    flat = np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in arrs if a is not None and len(a)]
    )
    starts = np.zeros(len(arrs), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return flat, lens, starts


def simhash_np(arrs) -> np.ndarray:
    """64-bit SimHash per input array — bit b of the signature is 1 iff
    more elements have bit b set than unset (strict majority). Empty/None
    input → 0."""
    flat, lens, starts = _segments(arrs)
    n = len(lens)
    if flat.size == 0:
        return np.zeros(n, np.int64)
    # reduceat demands indices < len(flat); empty segments (start ==
    # next start, possibly == len) return a neighbour's value — clamp
    # the index and zero those rows afterwards.
    safe_starts = np.minimum(starts, flat.size - 1)
    counts = np.empty((n, 64), np.int64)
    u = flat.view(np.uint64)
    one = np.uint64(1)
    for b in range(64):
        col = ((u >> np.uint64(b)) & one).view(np.int64)
        counts[:, b] = np.add.reduceat(col, safe_starts)
    counts[lens == 0] = 0
    maj = (counts * 2) > lens[:, None]
    packed = (maj.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    return packed.view(np.int64)


def oph_densified_np(arrs, num_hashes: int = 64, value_bits: int = 64) -> list:
    """Densified OPH signature per input array: lane = top
    ``log2(num_hashes)`` bits of the (``value_bits``-wide) hash, lane
    keeps its int64 minimum, empty lanes borrow the nearest occupied
    lane to the right (circular; Shrivastava & Li 2014). Borrowing a
    lane-local value, not a fill from the global minimum, keeps the
    densified lanes of two near-duplicates agreeing wherever the
    borrowed lane agrees, so banding still works on short documents.
    All-empty input → all-None signature."""
    assert num_hashes & (num_hashes - 1) == 0 and num_hashes > 0
    shift = np.uint64(value_bits - (num_hashes - 1).bit_length())
    flat, lens, _ = _segments(arrs)
    n = len(lens)
    doc_idx = np.repeat(np.arange(n), lens)
    lane = (flat.view(np.uint64) >> shift).astype(np.int64)
    grid = np.full((n, num_hashes), _I64MAX, np.int64)
    occ = np.zeros((n, num_hashes), bool)
    if flat.size:
        np.minimum.at(grid, (doc_idx, lane), flat)
        occ[doc_idx, lane] = True
    # rotation densify: src[i] = first occupied lane >= i, wrapping.
    src = np.empty((n, num_hashes), np.int64)
    idx = np.full(n, -1, np.int64)
    for i in range(2 * num_hashes - 1, -1, -1):
        li = i % num_hashes
        idx = np.where(occ[:, li], li, idx)
        if i < num_hashes:
            src[:, li] = idx
    dense = grid[np.arange(n)[:, None], np.where(src >= 0, src, 0)]
    empty = idx < 0
    none_row = [None] * num_hashes
    return [none_row if empty[i] else dense[i] for i in range(n)]


def round_half_up_np(x: np.ndarray, digits: int) -> np.ndarray:
    """Replicate Spark's ``round(double, d)`` — BigDecimal.valueOf
    (shortest decimal repr) + HALF_UP — over a float64 array.

    Fast path: scale, add 0.5 to the magnitude, floor (away-from-zero
    half-up). Values whose scaled magnitude lands within 1e-6 of the
    x.5 boundary (where the float multiply could disagree with exact
    decimal scaling) are recomputed exactly via ``decimal`` on the
    shortest repr, which is precisely Java's BigDecimal.valueOf
    semantics — so every element matches the JVM bit-for-bit.
    """
    import decimal

    scale = 10.0**digits
    ax = np.abs(x) * scale
    fast = np.sign(x) * np.floor(ax + 0.5) / scale
    frac = ax - np.floor(ax)
    suspect = np.abs(frac - 0.5) < 1e-6
    if suspect.any():
        q = decimal.Decimal(1).scaleb(-digits)
        idx = np.nonzero(suspect)
        vals = x[idx]
        exact = np.array(
            [
                float(
                    decimal.Decimal(repr(float(v))).quantize(
                        q, rounding=decimal.ROUND_HALF_UP
                    )
                )
                for v in vals
            ],
            np.float64,
        )
        fast[idx] = exact
    return fast


def simhash_bits_vec(hashes_col) -> Column:
    """Column: SimHash signature of an ``array<long>`` column via the
    numpy kernel (one ArrowEvalPython projection).

    Marked non-deterministic (guide §4.4): join-key ``isnotnull``
    constraints inferred from signature-derived keys otherwise push a
    DUPLICATE evaluation below the filter — and the pushed copy inlines
    the gram projection into the UDF argument, re-tokenizing per
    reference (measured 5× the whole pipeline on dd_simhash_probed).
    The kernel is in fact a pure function; the flag only stops the
    optimizer from cloning it."""

    @F.pandas_udf("long")
    def _sim(h: pd.Series) -> pd.Series:
        return pd.Series(simhash_np(h.tolist()))

    return _sim.asNondeterministic()(hashes_col)


def oph_signature_vec(
    hashes_col, num_hashes: int = 64, value_bits: int = 64
) -> Column:
    """Column: densified-OPH signature (``array<long>``) of an
    ``array<long>`` hash column via the numpy kernel."""

    @F.pandas_udf("array<long>")
    def _oph(h: pd.Series) -> pd.Series:
        return pd.Series(
            oph_densified_np(h.tolist(), num_hashes, value_bits), dtype=object
        )

    # non-deterministic for the same §4.4 anti-duplication reason as
    # simhash_bits_vec (the kernel itself is pure).
    return _oph.asNondeterministic()(hashes_col)
