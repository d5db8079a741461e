"""Pure-Python data-parallel histogram GBDT — the differential proof for
the barrier trainer's distributed-training MATH.

The lightgbm wheel cannot be installed in this image, so the socket-ring
plumbing is proven with a stub (tests/test_barrier_cluster.py) but the
reference's core numeric claim — per-worker histograms merged across the
ring reproduce the single-machine model (reference
system_tests/test_fit_predict.py:26-59 asserts it statistically via
accuracy thresholds) — had no executable counterpart. This module makes
it BIT-EXACTLY testable: a deterministic exact-histogram GBDT (squared
loss, level-wise trees — LightGBM's data-parallel algorithm in
miniature) whose distributed fit runs through
:func:`core.train_lightgbm_barrier`'s barrier stage, with a TCP ring
between the barrier tasks (:class:`RingComm`) as the collective, as
LightGBM's own ``machines`` ring is. The barrier stage's one
``allGather`` is the rendezvous that publishes each task's listener;
no Spark collective runs per tree level.

Bit-equality under ANY partitioning is by construction, not hope:

- gradients are quantized to int64 fixed point (``* 2**24``) and every
  cross-worker reduction (histogram counts + gradient sums) is an int64
  SUM — associative and commutative, so partial-then-total equals
  single-pass exactly;
- bin edges derive from the global per-feature min/max (float min/max is
  exact and order-free), so every worker bins identically;
- split choice and leaf values are pure functions of the merged int64
  histograms (identical ints -> identical float gains -> identical
  argmax with numpy's first-max tie-break).

Therefore ``HistGBMRegressor().fit(X, y)`` on the driver and the same
fit sharded over N barrier tasks produce identical trees and
bit-identical predictions — which is the differential test
(tests/test_histgbm_differential.py) the real LightGBM path cannot have
here. The per-level ring allreduce (reduce-scatter, then allgather) of
the (count, grad, hess) histograms is exactly the merge LightGBM's
``tree_learner=data`` performs over its ring.

Two contract boundaries, by design:

- **Finite dense features only.** NaN/Inf in X, y, or weights raises in
  ``fit``/``predict``: a NaN feature would poison the global min/max and
  collapse binning to bin 0 silently, so the failure is loud instead.
  LightGBM handles missing values natively — impute upstream or use
  ``backend='lightgbm'`` for data with NaNs.
- **Homogeneous runtime for the transcendental losses.** The squared and
  pinball losses use only IEEE-exact ops (+, −, ×, ÷, compare), so their
  bit-equality holds across ANY mix of hardware. The logistic/softmax
  losses pass the raw margin through ``np.exp``/``np.log`` BEFORE int64
  quantization, and transcendentals are not correctly rounded — a
  cluster mixing libm/numpy builds could flip a ``rint`` boundary. The
  claim for classifiers therefore assumes the usual Spark deployment
  invariant of identical Python/numpy images on driver and executors.
"""

from __future__ import annotations

import select
import socket

import numpy as np

_SCALE = np.int64(1) << np.int64(24)  # gradient fixed-point scale


def _require_finite(arr: np.ndarray, name: str) -> None:
    """Loud refusal instead of silent bin-collapse: NaN/Inf anywhere in
    the inputs would propagate through the global min/max (every feature
    bins to 0) and the NaN->int64 quantization is undefined behavior."""
    bad = ~np.isfinite(arr)
    if bad.any():
        raise ValueError(
            f"histgbm requires finite dense inputs: {name} has "
            f"{int(bad.sum())} NaN/Inf value(s). Impute missing values "
            "upstream, or use backend='lightgbm' (handles NaN natively)."
        )


class LocalComm:
    """Single-process collective: reductions over one participant."""

    size = 1
    rank = 0

    def allgather_sum_i64(self, arr: np.ndarray) -> np.ndarray:
        return arr.copy()

    def allgather_minmax(self, mn: np.ndarray, mx: np.ndarray):
        return mn.copy(), mx.copy()


class RingComm:
    """Collectives over a TCP ring between the barrier tasks: each rank
    connects to its right neighbour and accepts its left one, and every
    reduction is a ring reduce-scatter followed by a ring allgather
    (``2 * (size - 1)`` neighbour exchanges, each moving ``1/size`` of the
    array) — the executor-side AllReduce LightGBM's ``tree_learner=data``
    runs over its ``machines`` ring. The combine is elementwise int64 add
    or float min, both exact and order-free, so the result is identical on
    every rank and equal to a single-process reduction bit for bit.

    ``listener`` is this rank's bound, listening socket (the trainer binds
    it before the rendezvous that publishes ``peers``, so every connect
    lands in a backlog); it is closed once the left neighbour is in.
    ``timeout`` (seconds) bounds every connect, accept and wait for a
    neighbour. A failed exchange closes both sockets before it raises, so
    a dead peer's neighbours fail in turn instead of waiting out the
    timeout."""

    def __init__(self, listener, peers: list[str], rank: int, timeout: float):
        self.size = len(peers)
        self.rank = rank
        self._timeout = timeout
        self._left = self._right = None
        try:
            if self.size > 1:
                host, port = peers[(rank + 1) % self.size].rsplit(":", 1)
                self._right = socket.create_connection(
                    (host, int(port)), timeout=timeout
                )
                listener.settimeout(timeout)
                self._left, _ = listener.accept()
                for s in (self._left, self._right):
                    s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    s.setblocking(False)
                # handshake: the accepted connection must be the left rank
                got = np.zeros(1, dtype=np.int64)
                self._sendrecv(np.array([rank], dtype=np.int64), got)
                if int(got[0]) != (rank - 1) % self.size:
                    raise ConnectionError(
                        f"ring rank {rank} expected its left neighbour "
                        f"{(rank - 1) % self.size}, got rank {int(got[0])}"
                    )
        except BaseException:
            self.close()
            raise
        finally:
            listener.close()

    def close(self) -> None:
        for s in (self._left, self._right):
            if s is not None:
                s.close()
        self._left = self._right = None

    def _sendrecv(self, out: np.ndarray, into: np.ndarray) -> None:
        """Send ``out`` to the right neighbour while filling ``into`` from
        the left one. The two directions interleave, so a chunk larger
        than the socket buffers cannot deadlock the ring, where every rank
        sends and receives in the same step."""
        out = memoryview(out).cast("B")
        into = memoryview(into).cast("B")
        sent = got = 0
        while sent < len(out) or got < len(into):
            rd = [self._left] if got < len(into) else []
            wr = [self._right] if sent < len(out) else []
            rd, wr, _ = select.select(rd, wr, [], self._timeout)
            if not rd and not wr:
                raise TimeoutError(
                    f"ring rank {self.rank}: no progress from a neighbour "
                    f"in {self._timeout:.0f} s"
                )
            try:
                if wr:
                    sent += self._right.send(out[sent:])
                if rd:
                    n = self._left.recv_into(into[got:])
                    if n == 0:
                        raise ConnectionError(
                            f"ring rank {self.rank}: left neighbour closed "
                            "the connection mid-collective"
                        )
                    got += n
            except BlockingIOError:
                continue  # spurious readiness; select again

    def _allreduce(self, buf: np.ndarray, combine) -> np.ndarray:
        """In-place ring allreduce of the 1-D contiguous ``buf``. Chunk
        ``i`` is ``buf[i*L//p : (i+1)*L//p]``; arrays shorter than the ring
        leave some chunks empty, which both neighbours skip alike."""
        p, r = self.size, self.rank
        if p == 1:
            return buf
        cut = [(i * len(buf)) // p for i in range(p + 1)]

        def chunk(i):
            i %= p
            return buf[cut[i] : cut[i + 1]]

        scratch = np.empty(-(-len(buf) // p), dtype=buf.dtype)
        try:
            # reduce-scatter: after p-1 steps rank r owns chunk r+1 in full
            for s in range(p - 1):
                dst = chunk(r - s - 1)
                tmp = scratch[: len(dst)]
                self._sendrecv(chunk(r - s), tmp)
                combine(dst, tmp, out=dst)
            # allgather: pass the finished chunks once around the ring
            for s in range(p - 1):
                self._sendrecv(chunk(r - s + 1), chunk(r - s))
        except BaseException:
            self.close()
            raise
        return buf

    def allgather_sum_i64(self, arr: np.ndarray) -> np.ndarray:
        buf = np.array(arr, dtype=np.int64).ravel()
        return self._allreduce(buf, np.add).reshape(np.shape(arr))

    def allgather_minmax(self, mn: np.ndarray, mx: np.ndarray):
        # one pass: max(x) == -min(-x) exactly, so both ride np.minimum
        n = len(mn)
        buf = np.concatenate([mn, -np.asarray(mx)]).astype(np.float64)
        buf = self._allreduce(buf, np.minimum)
        return buf[:n], -buf[n:]


class HistGBMRegressor:
    """Deterministic exact-histogram GBDT (squared loss, level-wise).

    sklearn-ish surface (``fit``/``predict``) so it slots into
    ``train_lightgbm_barrier``'s ``model_factory`` contract; network
    params the trainer injects (machines/local_listen_port/...) are
    accepted and ignored — the collective is a :class:`RingComm` the
    trainer wires in via :meth:`set_barrier_comm`, and it lasts one
    ``fit``."""

    def __init__(
        self,
        n_estimators: int = 10,
        max_depth: int = 3,
        n_bins: int = 16,
        learning_rate: float = 0.3,
        reg_lambda: float = 1.0,
        min_child_rows: int = 1,
        **_network_params,
    ):
        self.n_estimators = int(n_estimators)
        self.max_depth = int(max_depth)
        self.n_bins = int(n_bins)
        self.learning_rate = float(learning_rate)
        self.reg_lambda = float(reg_lambda)
        self.min_child_rows = int(min_child_rows)
        self._comm = LocalComm()
        self.trees_ = None
        self.base_score_ = 0.0
        self.base_scores_ = np.zeros(1)
        self.bin_mn_ = None
        self.bin_mx_ = None

    def set_barrier_comm(
        self, listener, peers: list[str], rank: int, timeout: float
    ) -> None:
        """Called by the barrier trainer; replaces the local collective
        with a :class:`RingComm` over the barrier tasks (``peers`` are
        their ``host:port`` listeners in rank order). The next ``fit``
        closes it."""
        self._comm = RingComm(listener, peers, rank, timeout)

    # -- loss hooks (overridden by the classifier) -------------------------
    def _check_labels(self, y: np.ndarray) -> None:
        pass

    def _base_raw(self, weighted_mean_y: float) -> float:
        return weighted_mean_y

    def _grad_hess(self, pred_raw, y, w):
        # squared loss: grad = w*(pred - y), hess = w
        return w * (pred_raw - y), w

    # -- binning ----------------------------------------------------------
    def _bins_of(self, X: np.ndarray) -> np.ndarray:
        span = self.bin_mx_ - self.bin_mn_
        span = np.where(span > 0, span, 1.0)
        b = ((X - self.bin_mn_) / span * self.n_bins).astype(np.int64)
        return np.clip(b, 0, self.n_bins - 1)

    # -- fit --------------------------------------------------------------
    def _base_raw_vector(self, comm, y, w, w_i) -> np.ndarray:
        """Per-channel base raw scores from ONE fused int64 collective.
        K=1 losses (squared, binary logistic) reduce the weighted label
        mean through :meth:`_base_raw`; the multiclass override returns
        log-priors per class."""
        S = float(_SCALE)
        tot = comm.allgather_sum_i64(
            np.array(
                [
                    np.rint(w * y * S).astype(np.int64).sum(),
                    w_i.sum(),
                ],
                dtype=np.int64,
            )
        )
        return np.array(
            [self._base_raw((int(tot[0]) / S) / (int(tot[1]) / S))]
        )

    def fit(self, X, y, sample_weight=None, **_ignored):
        try:
            return self._fit(X, y, sample_weight)
        finally:
            # sockets must not outlive the fit: the fitted model is
            # pickled back to the driver
            comm, self._comm = self._comm, LocalComm()
            if hasattr(comm, "close"):
                comm.close()

    def _fit(self, X, y, sample_weight):
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        n, n_feat = X.shape
        _require_finite(X, "X")
        _require_finite(y, "y")
        comm = self._comm
        S = float(_SCALE)
        # weights ride the SAME int64 fixed-point contract: hessians are
        # rint(h * 2^24) sums, so weighted fits stay bit-equal under any
        # partitioning, and w=1 squared loss reduces EXACTLY to counts
        # (each row's hessian is exactly 2^24; k*2^24/2^24 == k in float64
        # while a node holds < 2^29 rows)
        self._check_labels(y)
        w = (
            np.ones(n)
            if sample_weight is None
            else np.asarray(sample_weight, dtype=np.float64)
        )
        if sample_weight is not None:
            _require_finite(w, "sample_weight")
        w_i = np.rint(w * S).astype(np.int64)

        # global bin edges: float min/max is exact and order-free
        mn = X.min(axis=0) if n else np.full(n_feat, np.inf)
        mx = X.max(axis=0) if n else np.full(n_feat, -np.inf)
        self.bin_mn_, self.bin_mx_ = comm.allgather_minmax(mn, mx)

        # base raw score(s): exact fixed-point sums mapped by the loss
        base = np.asarray(self._base_raw_vector(comm, y, w, w_i))
        K = len(base)
        self.base_scores_ = base
        self.base_score_ = float(base[0])  # K=1 back-compat alias
        pred = np.tile(base, (n, 1))  # (n, K) raw margins

        bins = self._bins_of(X)  # (n, n_feat) int64 in [0, n_bins)
        B, F = self.n_bins, n_feat
        lam = self.reg_lambda
        self.trees_ = []
        for _ in range(self.n_estimators):
            # per-round gradient/hessian from the loss hook — row-local
            # and deterministic, so quantized sums keep the bit-equality
            # contract (squared loss: hess == w, same ints every round)
            p_in = pred[:, 0] if K == 1 else pred
            g_f, h_f = self._grad_hess(p_in, y, w)
            grad_i = (
                np.rint(np.asarray(g_f, dtype=np.float64) * S)
                .astype(np.int64)
                .reshape(n, K)
            )
            hess_i = (
                np.rint(np.asarray(h_f, dtype=np.float64) * S)
                .astype(np.int64)
                .reshape(n, K)
            )
            round_trees = self._build_round(
                comm, bins, grad_i, hess_i, n, F, B, lam, K
            )
            self.trees_.append(round_trees)
            for k, tree in enumerate(round_trees):
                pred[:, k] += self._tree_scores(tree, bins)
        return self

    def _build_round(self, comm, bins, grad_i, hess_i, n, F, B, lam, K):
        """One boosting round: K independent trees (one per channel —
        multiclass grows a tree per class, LightGBM-style), built
        LEVEL-SYNCHRONIZED so every depth merges the count/grad/hessian
        histograms of ALL channels in ONE fused collective (one ring
        allreduce per level, whatever K is). Channel-major layout
        [k][cnt|gh|hh] makes K=1 byte-identical to the single-tree
        protocol."""
        S = float(_SCALE)
        n_nodes = (1 << (self.max_depth + 1)) - 1
        nid = np.zeros((K, n), dtype=np.int64)  # heap ids; -1 = settled
        feat = np.full((K, n_nodes), -1, dtype=np.int64)
        sbin = np.full((K, n_nodes), -1, dtype=np.int64)
        gsum = np.zeros((K, n_nodes), dtype=np.int64)
        hsum = np.zeros((K, n_nodes), dtype=np.int64)
        csum = np.zeros((K, n_nodes), dtype=np.int64)
        f_off = np.arange(F, dtype=np.int64)[None, :] * B
        for depth in range(self.max_depth):
            base = (1 << depth) - 1
            width = 1 << depth
            seg = width * F * B
            hist = np.zeros(K * 3 * seg, dtype=np.int64)
            for k in range(K):
                live = nid[k] >= 0
                if not live.any():
                    continue
                rows = np.nonzero(live)[0]
                node_off = (nid[k][rows] - base) * (F * B)
                idx = (node_off[:, None] + f_off + bins[rows]).ravel()
                o = k * 3 * seg
                np.add.at(hist[o : o + seg], idx, 1)
                np.add.at(
                    hist[o + seg : o + 2 * seg],
                    idx,
                    np.repeat(grad_i[rows, k], F),
                )
                np.add.at(
                    hist[o + 2 * seg : o + 3 * seg],
                    idx,
                    np.repeat(hess_i[rows, k], F),
                )
            hist = comm.allgather_sum_i64(hist)
            for k in range(K):
                o = k * 3 * seg
                cnt = hist[o : o + seg].reshape(width, F, B)
                gh = hist[o + seg : o + 2 * seg].reshape(width, F, B)
                hh = hist[o + 2 * seg : o + 3 * seg].reshape(width, F, B)
                for j in range(width):
                    node = base + j
                    N = int(cnt[j, 0].sum())
                    G = int(gh[j, 0].sum())
                    H = int(hh[j, 0].sum())
                    gsum[k, node], hsum[k, node], csum[k, node] = G, H, N
                    if N < 2 * self.min_child_rows:
                        continue
                    # prefix sums over bins -> candidate (f, b) splits;
                    # child-size guards stay on COUNTS, gains use the
                    # (scaled) hessian mass like LightGBM
                    cl = cnt[j].cumsum(axis=1).astype(np.float64)
                    gl = gh[j].cumsum(axis=1).astype(np.float64)
                    hl = hh[j].cumsum(axis=1) / S
                    nr = N - cl
                    gr = G - gl
                    hr = (H / S) - hl
                    ok = (cl >= self.min_child_rows) & (
                        nr >= self.min_child_rows
                    )
                    gain = np.where(
                        ok,
                        gl * gl / (hl + lam)
                        + gr * gr / (hr + lam)
                        - (G * G) / ((H / S) + lam),
                        -np.inf,
                    )
                    # last bin splits nothing; argmax tie-break = first
                    gain[:, B - 1] = -np.inf
                    flat = int(np.argmax(gain))
                    if not np.isfinite(gain.ravel()[flat]) or (
                        gain.ravel()[flat] <= 0.0
                    ):
                        continue
                    feat[k, node] = flat // B
                    sbin[k, node] = flat % B
                # route rows of split nodes; settle the rest as leaves
                live = nid[k] >= 0
                if live.any():
                    rows = np.nonzero(live)[0]
                    node = nid[k][rows]
                    f = feat[k][node]
                    split = f >= 0
                    go_left = np.zeros(len(rows), dtype=bool)
                    if split.any():
                        r = rows[split]
                        go_left[split] = (
                            bins[r, f[split]] <= sbin[k][node[split]]
                        )
                    new = np.where(
                        split,
                        np.where(
                            split & go_left, 2 * node + 1, 2 * node + 2
                        ),
                        -1,
                    )
                    nid[k][rows] = new
        # leaf fill: last-level sums for ALL channels in one collective
        base = (1 << self.max_depth) - 1
        width = 1 << self.max_depth
        tail = np.zeros(K * 3 * width, dtype=np.int64)
        for k in range(K):
            live = nid[k] >= 0
            if not live.any():
                continue
            rows = np.nonzero(live)[0]
            off = nid[k][rows] - base
            o = k * 3 * width
            np.add.at(tail[o : o + width], off, 1)
            np.add.at(tail[o + width : o + 2 * width], off, grad_i[rows, k])
            np.add.at(
                tail[o + 2 * width : o + 3 * width], off, hess_i[rows, k]
            )
        tail = comm.allgather_sum_i64(tail)
        trees = []
        for k in range(K):
            o = k * 3 * width
            for j in range(width):
                csum[k, base + j] = int(tail[o + j])
                gsum[k, base + j] = int(tail[o + width + j])
                hsum[k, base + j] = int(tail[o + 2 * width + j])
            value = np.zeros(n_nodes, dtype=np.float64)
            is_leaf = np.zeros(n_nodes, dtype=bool)
            for node in range(n_nodes):
                if feat[k, node] >= 0:
                    continue
                if csum[k, node] == 0:
                    continue
                parent = (node - 1) // 2
                if node != 0 and feat[k, parent] < 0:
                    continue  # unreachable (parent is itself a leaf)
                is_leaf[node] = True
                g = int(gsum[k, node]) / S
                h = int(hsum[k, node]) / S
                value[node] = -g / (h + lam) * self.learning_rate
            trees.append(
                {
                    "feat": feat[k].copy(),
                    "sbin": sbin[k].copy(),
                    "leaf": is_leaf,
                    "value": value,
                }
            )
        return trees

    # -- predict ----------------------------------------------------------
    def _tree_scores(self, tree, bins: np.ndarray) -> np.ndarray:
        n = len(bins)
        nid = np.zeros(n, dtype=np.int64)
        out = np.zeros(n, dtype=np.float64)
        pending = np.ones(n, dtype=bool)
        feat, sbin = tree["feat"], tree["sbin"]
        leaf, value = tree["leaf"], tree["value"]
        for _ in range(self.max_depth + 1):
            if not pending.any():
                break
            rows = np.nonzero(pending)[0]
            node = nid[rows]
            at_leaf = leaf[node]
            out[rows[at_leaf]] = value[node[at_leaf]]
            pending[rows[at_leaf]] = False
            walk = ~at_leaf & (feat[node] >= 0)
            r = rows[walk]
            if len(r):
                nd = node[walk]
                left = bins[r, feat[nd]] <= sbin[nd]
                nid[r] = np.where(left, 2 * nd + 1, 2 * nd + 2)
            dead = ~at_leaf & (feat[node] < 0)
            pending[rows[dead]] = False  # empty subtree: contributes 0
        return out

    def _raw_scores(self, X) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        _require_finite(X, "X")
        bins = self._bins_of(X)
        K = len(self.base_scores_)
        pred = np.tile(self.base_scores_, (len(X), 1))
        for round_trees in self.trees_:
            for k, tree in enumerate(round_trees):
                pred[:, k] += self._tree_scores(tree, bins)
        return pred[:, 0] if K == 1 else pred

    def predict(self, X) -> np.ndarray:
        return self._raw_scores(X)


class HistGBMClassifier(HistGBMRegressor):
    """Binary classification (logistic loss) on the same exact-histogram
    machinery — the reference's PRIMARY estimator shape
    (``LGBMClassifier``, reference core.py:176-213) made wheel-free.
    Gradients/hessians are the standard logistic ones
    (``p - y`` / ``p*(1-p)``, weighted), computed ROW-LOCALLY from the
    raw margin and quantized to int64 like everything else, so the
    bit-equality-under-any-partitioning contract is unchanged."""

    _P_CLIP = 1e-6

    def _check_labels(self, y: np.ndarray) -> None:
        bad = ~np.isin(y, (0.0, 1.0))
        if bad.any():
            raise ValueError(
                "HistGBMClassifier is binary: labels must be 0/1, got "
                f"{np.unique(y[bad])[:5]}"
            )
        self.classes_ = [0.0, 1.0]

    def _base_raw(self, weighted_mean_y: float) -> float:
        p0 = min(max(weighted_mean_y, self._P_CLIP), 1.0 - self._P_CLIP)
        return float(np.log(p0 / (1.0 - p0)))

    def _grad_hess(self, pred_raw, y, w):
        p = 1.0 / (1.0 + np.exp(-pred_raw))
        return w * (p - y), w * p * (1.0 - p)

    def predict_proba(self, X) -> np.ndarray:
        p = 1.0 / (1.0 + np.exp(-self._raw_scores(X)))
        return np.column_stack([1.0 - p, p])

    def predict(self, X) -> np.ndarray:
        return (self.predict_proba(X)[:, 1] >= 0.5).astype(np.float64)


class HistGBMQuantileRegressor(HistGBMRegressor):
    """Pinball (quantile) loss on the same exact-histogram machinery —
    the reference's ``objective='quantile'`` regression shape (reference
    tests/test_core.py:148-165) wheel-free. The pinball subgradient is
    row-local and piecewise-constant (``-alpha`` where ``y > pred``,
    ``1 - alpha`` at-or-below) and the hessian is the constant sample
    weight (LightGBM's quantile objective likewise fits with a unit
    hessian), so both are IEEE-exact — the int64 fixed-point contract,
    and with it bit-equality under ANY partitioning, holds with no
    transcendental caveat. Leaf values are the regularized step on the
    merged subgradient sums: a bounded move toward each leaf's
    alpha-quantile per round. LightGBM's post-hoc leaf re-quantile pass
    (``RenewTreeOutput``) is intentionally out of contract — an exact
    distributed quantile is not a sum, so it cannot ride the collective;
    coverage converges via boosting rounds instead (tested)."""

    def __init__(self, alpha: float = 0.9, **kw):
        super().__init__(**kw)
        self.alpha = float(alpha)
        if not 0.0 < self.alpha < 1.0:
            raise ValueError(f"alpha must be in (0, 1), got {self.alpha}")

    def _grad_hess(self, pred_raw, y, w):
        g = np.where(y > pred_raw, -self.alpha, 1.0 - self.alpha)
        return w * g, w


class HistGBMMulticlassClassifier(HistGBMRegressor):
    """K-class softmax on the channelized builder — one tree PER CLASS
    per round (LightGBM's ``multiclass`` objective shape; FIXTURES.md §1
    names the reference's 3-center blobs variant). All K channels build
    level-synchronized, so a round costs the same number of collective
    rounds as a single tree; gradients/hessians are the standard softmax
    ones, row-local and int64-quantized, so the
    bit-equality-under-any-partitioning contract covers the
    probabilities."""

    _P_CLIP = 1e-6

    def __init__(self, num_class: int = 3, **kw):
        super().__init__(**kw)
        self.num_class = int(num_class)
        if self.num_class < 2:
            raise ValueError("num_class must be >= 2")

    def _check_labels(self, y: np.ndarray) -> None:
        bad = ~np.isin(y, np.arange(self.num_class, dtype=np.float64))
        if bad.any():
            raise ValueError(
                f"labels must be integers in [0, {self.num_class}); got "
                f"{np.unique(y[bad])[:5]}"
            )
        self.classes_ = [float(i) for i in range(self.num_class)]

    def _base_raw_vector(self, comm, y, w, w_i) -> np.ndarray:
        # log priors from one fused collective of per-class weight mass
        S = float(_SCALE)
        K = self.num_class
        sums = [
            np.rint(w * (y == float(k)) * S).astype(np.int64).sum()
            for k in range(K)
        ] + [w_i.sum()]
        tot = comm.allgather_sum_i64(np.array(sums, dtype=np.int64))
        denom = int(tot[K])
        priors = np.array(
            [
                min(
                    max(int(tot[k]) / denom, self._P_CLIP),
                    1.0 - self._P_CLIP,
                )
                for k in range(K)
            ]
        )
        return np.log(priors)

    def _softmax(self, raw: np.ndarray) -> np.ndarray:
        z = raw - raw.max(axis=1, keepdims=True)  # stable, row-local
        e = np.exp(z)
        return e / e.sum(axis=1, keepdims=True)

    def _grad_hess(self, pred_raw, y, w):
        P = self._softmax(pred_raw)
        Y = np.zeros_like(P)
        Y[np.arange(len(y)), y.astype(np.int64)] = 1.0
        return w[:, None] * (P - Y), w[:, None] * P * (1.0 - P)

    def predict_proba(self, X) -> np.ndarray:
        return self._softmax(self._raw_scores(X))

    def predict(self, X) -> np.ndarray:
        return np.argmax(self.predict_proba(X), axis=1).astype(np.float64)
