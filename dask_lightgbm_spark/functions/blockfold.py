"""Dimension-ordered block accumulation — THE bit-exactness kernel.

Every vectorized Arrow kernel in this engine (k-means assignment, IVF cell
assignment, brute-force KNN, PQ encode, PQ ADC LUTs) must produce doubles
bit-identical to the interpreted ``F.aggregate(zip_with(...))`` folds and
to DuckDB's ``list_reduce`` — that is the entire oracle-parity argument.
The invariant: accumulate DIMENSION-BY-DIMENSION across the row block, so
per element the op sequence is exactly the fold's multiply(-subtract)-add
chain. NumPy's own reductions (``(V*C).sum(axis=...)``, ``einsum``,
``np.linalg.norm``) use pairwise/SIMD summation and produce DIFFERENT
doubles — never substitute them here. This module is the single audited
home of the invariant (r6 review finding: it was previously copy-pasted
across five kernels, where one "optimization" could silently break parity
for one kernel while the other four's parity tests stayed green).

The same goes for ranking: :func:`top_k_block` is the one partial top-k
selector every kNN kernel shares, so the tie order the window oracle
expects lives in one place too.

All helpers are pure NumPy and safe to import inside executor-side kernels
(the package ships to workers via addPyFile — see
shipping.ship_package).
"""

from __future__ import annotations


def fold_sq_dists(V, C):
    """(n, d) x (k, d) -> (n, k) squared L2 distances, dim-ordered:
    ``acc += (V[:,i] - C[:,i])**2`` per dimension — the exact op sequence of
    the sq_dist fold evaluated for every (row, centroid) pair."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        diff = V[:, i : i + 1] - C[:, i][None, :]
        acc += diff * diff
    return acc


def fold_dots(V, C):
    """(n, d) x (k, d) -> (n, k) dot products, dim-ordered:
    ``acc += V[:,i] * C[:,i]`` per dimension — the dot() fold's sequence."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        acc += V[:, i : i + 1] * C[:, i][None, :]
    return acc


def fold_sq_norms(X):
    """(n, d) -> (n,) SUM of squares (caller applies sqrt), dim-ordered:
    ``acc += X[:,i] * X[:,i]`` — the norm() fold's pre-sqrt sequence."""
    import numpy as np

    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return acc


def top_k_block(scores, ids, qids, k, descending, null=None):
    """Each query's first ``k`` rows of an (n, Q) score block — the
    partition-local half of every kNN kernel's top-k (a Spark window over
    the union of the blocks' survivors is the global half; selection under
    a total order distributes over blocks, so every global winner is its
    block's winner too).

    Order within query column j: rows whose id equals ``qids[j]`` are left
    out (self pairs), rows masked by the optional (n, Q) ``null`` mask rank
    after every scored row by id (Spark's desc-nulls-last under try_divide),
    and the rest rank by (score desc|asc, id asc). That is exactly a
    per-query stable ``np.lexsort((ids, key))``: keys compare by value, so
    ``-0.0`` ties ``0.0`` and falls to the id; NaN ranks after every number;
    rows equal in both keep block order.

    Whole block at once, no loop over queries: ``np.partition`` finds each
    column's k-th key, every row not beyond it survives (ties at the k-th
    position included), and one ``np.lexsort`` orders the survivors only.
    Returns ``(rows, cols)`` index arrays in output order — query column
    ascending, rank ascending, at most k per column."""
    import numpy as np

    key = -scores if descending else scores
    live = ids[:, None] != qids[None, :]
    scored = live if null is None else live & ~null
    if k <= len(ids):
        # excluded entries sit at +inf; a NaN or +inf k-th key keeps every
        # scored row (NaN compares False), a superset of the true top-k
        kth = np.partition(np.where(scored, key, np.inf), k - 1, axis=0)[k - 1]
        keep = scored & ~(key > kth)
    else:
        keep = scored
    if null is not None:
        # the null tier only reaches a column with fewer than k scored rows
        keep = keep | (live & null & (scored.sum(axis=0) < k))
    rows, cols = np.nonzero(keep)
    tier = np.zeros(len(rows), dtype=bool) if null is None else null[rows, cols]
    order = np.lexsort(
        (ids[rows], np.where(tier, 0.0, key[rows, cols]), tier, cols)
    )
    rows, cols = rows[order], cols[order]
    first = np.arange(len(cols)) - np.searchsorted(cols, cols) < k
    return rows[first], cols[first]
