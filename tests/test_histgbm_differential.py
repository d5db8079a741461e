"""Differential proof of the barrier trainer's distributed-training MATH.

The reference's system test (system_tests/test_fit_predict.py:26-59) fits
real LightGBM over a worker cluster and checks accuracy thresholds; that
wheel is not installable here, so the socket-ring plumbing is stub-proven
(test_barrier_cluster.py) but the training NUMERICS were not. HistGBM is
the executable counterpart: the same data-parallel algorithm (per-worker
exact histograms, merged per tree level, identical split decisions
everywhere) with int64 fixed-point reductions, so the distributed fit is
BIT-EQUAL to a driver-local fit on the same rows — a stronger check than
the reference's statistical one, with zero native deps."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _synth(n=400, seed=42):
    # regression_synth shape (FIXTURES.md §2): continuous features/target,
    # seeded 42 like the reference's _create_data
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 5))
    y = X[:, 0] * 2.0 - X[:, 1] + 0.3 * rng.normal(size=n)
    return X, y


def test_histgbm_learns_locally():
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    X, y = _synth()
    m = HistGBMRegressor(n_estimators=20, max_depth=3).fit(X, y)
    mse0 = float(((y - y.mean()) ** 2).mean())
    mse = float(((y - m.predict(X)) ** 2).mean())
    assert mse < 0.3 * mse0, (mse, mse0)


def test_distributed_fit_bit_equal_to_local(spark):
    """2 barrier tasks through train_lightgbm_barrier vs one driver-local
    fit on the identical rows: predictions must be BIT-equal. Every
    cross-worker reduction is an int64 sum (associative) over globally
    identical bins, so Spark's row routing cannot perturb a single bit."""
    from dask_lightgbm_spark import core
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    X, y = _synth()
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)

    # 6 trees x depth 2 keeps the fit small; the bit-equality claim is
    # config-independent
    dist = core.train_lightgbm_barrier(
        df,
        feature_cols=[f"f{i}" for i in range(5)],
        label_col="target",
        model_factory=HistGBMRegressor,
        params={"n_estimators": 6, "max_depth": 2},
        num_workers=2,
    )
    local = HistGBMRegressor(n_estimators=6, max_depth=2).fit(X, y)
    p_dist, p_local = dist.predict(X), local.predict(X)
    assert np.array_equal(p_dist, p_local)
    # and it actually learned — bit-equality of two broken fits proves
    # nothing
    mse = float(((y - p_dist) ** 2).mean())
    assert mse < 0.3 * float(((y - y.mean()) ** 2).mean())


def test_collective_model_refuses_empty_partition(spark):
    """The collective ring needs every task in the barrier stage, so an
    empty partition that exits early would leave a hole in it — the task
    must refuse with an actionable error instead."""
    from dask_lightgbm_spark import core
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    df = spark.createDataFrame(
        pd.DataFrame({"f0": [1.0], "target": [1.0]})
    )
    with pytest.raises(Exception, match="collective"):
        core.train_lightgbm_barrier(
            df,
            feature_cols=["f0"],
            label_col="target",
            model_factory=HistGBMRegressor,
            params={"n_estimators": 2},
            num_workers=2,
            max_retries=0,
        )


TWO_JVM_SCRIPT = """
import numpy as np
import pandas as pd
import os

from dask_lightgbm_spark.session import get_spark
from dask_lightgbm_spark import core
from dask_lightgbm_spark.histgbm import HistGBMRegressor

spark = get_spark(
    "histgbm-cluster-test",
    cpus=4,
    shuffle_partitions=4,
    master="local-cluster[2,2,1024]",
    extra_conf={
        "spark.executor.memory": "1g",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.memory": "2g",
    },
)

rng = np.random.default_rng(42)
X = rng.normal(size=(400, 5))
y = X[:, 0] * 2.0 - X[:, 1] + 0.3 * rng.normal(size=400)
pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
pdf["target"] = y

dist = core.train_lightgbm_barrier(
    spark.createDataFrame(pdf),
    feature_cols=[f"f{i}" for i in range(5)],
    label_col="target",
    model_factory=HistGBMRegressor,
    params={"n_estimators": 6, "max_depth": 2},
    num_workers=2,
)
local = HistGBMRegressor(n_estimators=6, max_depth=2).fit(X, y)
assert np.array_equal(dist.predict(X), local.predict(X))
mse = float(((y - dist.predict(X)) ** 2).mean())
assert mse < 0.3 * float(((y - y.mean()) ** 2).mean())

# pinball loss across the same real JVM boundary (reference
# tests/test_core.py:148-165 trains objective='quantile'): the
# subgradient depends on a float comparison y > pred, so this pins that
# the comparison's inputs are bit-identical across processes too
from dask_lightgbm_spark.histgbm import HistGBMQuantileRegressor

dist_q = core.train_lightgbm_barrier(
    spark.createDataFrame(pdf),
    feature_cols=[f"f{i}" for i in range(5)],
    label_col="target",
    model_factory=HistGBMQuantileRegressor,
    params={"n_estimators": 6, "max_depth": 2, "alpha": 0.9},
    num_workers=2,
)
local_q = HistGBMQuantileRegressor(
    alpha=0.9, n_estimators=6, max_depth=2
).fit(X, y)
assert np.array_equal(dist_q.predict(X), local_q.predict(X))
print("HISTGBM_TWO_JVM_BIT_EQUAL_OK")
"""


def test_two_jvm_distributed_fit_bit_equal_to_local():
    """The histogram merge crosses REAL process boundaries: one barrier
    task per executor JVM on local-cluster[2,2], histograms over the
    tasks' socket ring, and the model still matches the driver-local
    fit bit-for-bit. No lightgbm stub on PYTHONPATH — this is the
    wheel-free distributed-GBM path standing on its own."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", TWO_JVM_SCRIPT],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    )
    assert "HISTGBM_TWO_JVM_BIT_EQUAL_OK" in proc.stdout


def test_estimator_histgbm_backend_round_trip(spark, tmp_path):
    """backend='histgbm' through the public estimator surface: fit via the
    barrier stage, lazy transform adds bit-exact predictions, and
    save/load round-trips the pickled model."""
    from dask_lightgbm_spark.estimators import SparkLGBMRegressor
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    X, y = _synth()
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)

    reg = SparkLGBMRegressor(
        n_estimators=6, max_depth=2, learning_rate=0.3,
        min_child_samples=1, backend="histgbm", num_workers=2,
    )
    reg.fit(df, feature_cols=[f"f{i}" for i in range(5)], label_col="target")
    assert reg._backend_used == "histgbm"

    local = HistGBMRegressor(
        n_estimators=6, max_depth=2, learning_rate=0.3, min_child_rows=1
    ).fit(X, y)
    got = (
        reg.transform(df, feature_cols=[f"f{i}" for i in range(5)])
        .select("prediction")
        .toPandas()["prediction"]
        .to_numpy()
    )
    # the transform's row order follows df; rebuild local preds in the
    # same order via the feature columns round-tripped through Spark
    back = reg.transform(df, feature_cols=[f"f{i}" for i in range(5)]).toPandas()
    Xo = back[[f"f{i}" for i in range(5)]].to_numpy()
    assert np.array_equal(got, local.predict(Xo))

    path = str(tmp_path / "histgbm_model")
    reg.save(path)
    reg2 = SparkLGBMRegressor.load(spark, path)
    assert reg2._backend_used == "histgbm"
    got2 = (
        reg2.transform(df, feature_cols=[f"f{i}" for i in range(5)])
        .select("prediction")
        .toPandas()["prediction"]
        .to_numpy()
    )
    assert np.array_equal(got, got2)


def test_estimator_histgbm_rejects_vectors(spark):
    from dask_lightgbm_spark.estimators import SparkLGBMRegressor

    df = spark.createDataFrame(
        pd.DataFrame({"f0": [1.0, 2.0], "target": [0.0, 1.0]})
    )
    with pytest.raises(ValueError, match="dense feature_cols"):
        SparkLGBMRegressor(backend="histgbm").fit(
            df, features_col="f0", label_col="target"
        )


def test_multiclass_distributed_fit_bit_equal_and_accurate(spark):
    """Softmax multiclass through the barrier collective (FIXTURES.md §1
    blobs_multiclass, the reference's 3-center variant): K trees per
    round built level-synchronized so a round costs the same collective
    count as one tree; 2-task distributed probabilities == driver-local
    bit-for-bit, and the blobs separate (>0.95 train accuracy). Driven
    through the public estimator so the num_classes plumbing is covered
    too."""
    from dask_lightgbm_spark.estimators import SparkLGBMClassifier
    from dask_lightgbm_spark.histgbm import HistGBMMulticlassClassifier

    rng = np.random.default_rng(42)
    centers = np.array(
        [[-4.0, -4.0, 0.0], [4.0, 4.0, 0.0], [0.0, -4.0, 4.0]]
    )
    lab = rng.integers(0, 3, size=300)
    X = centers[lab] + rng.normal(size=(300, 3))
    y = lab.astype(float)
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(3)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)

    clf = SparkLGBMClassifier(
        n_estimators=4, max_depth=2, learning_rate=0.3,
        min_child_samples=1, backend="histgbm", num_classes=3,
        num_workers=2,
    )
    clf.fit(df, feature_cols=[f"f{i}" for i in range(3)], label_col="target")
    assert clf.classes_ == [0.0, 1.0, 2.0]
    dist = clf.to_local()
    local = HistGBMMulticlassClassifier(
        num_class=3, n_estimators=4, max_depth=2, learning_rate=0.3,
        min_child_rows=1,
    ).fit(X, y)
    assert np.array_equal(dist.predict_proba(X), local.predict_proba(X))
    assert (dist.predict(X) == y).mean() > 0.95
    out = clf.transform(df, feature_cols=[f"f{i}" for i in range(3)]).toPandas()
    proba = np.stack(out["probability"].to_numpy())
    assert proba.shape == (300, 3)


def test_classifier_distributed_fit_bit_equal_and_accurate(spark):
    """Binary logistic through the barrier collective — the reference's
    PRIMARY estimator shape, wheel-free: 2-task distributed fit ==
    driver-local fit bit-for-bit (probabilities, not just labels), and
    it actually classifies (>0.9 train accuracy on a separable blob)."""
    from dask_lightgbm_spark import core
    from dask_lightgbm_spark.histgbm import HistGBMClassifier

    rng = np.random.default_rng(42)
    X = rng.normal(size=(400, 5))
    y = (X[:, 0] + 0.5 * X[:, 1] + 0.3 * rng.normal(size=400) > 0).astype(
        float
    )
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y

    dist = core.train_lightgbm_barrier(
        spark.createDataFrame(pdf),
        feature_cols=[f"f{i}" for i in range(5)],
        label_col="target",
        model_factory=HistGBMClassifier,
        params={"n_estimators": 6, "max_depth": 2},
        num_workers=2,
    )
    local = HistGBMClassifier(n_estimators=6, max_depth=2).fit(X, y)
    assert np.array_equal(dist.predict_proba(X), local.predict_proba(X))
    assert dist.classes_ == [0.0, 1.0]
    assert (dist.predict(X) == y).mean() > 0.9


def test_estimator_histgbm_classifier_transform(spark):
    """Estimator surface: SparkLGBMClassifier(backend='histgbm') fit +
    lazy transform adds prediction AND probability columns matching the
    driver-local model."""
    from dask_lightgbm_spark.estimators import SparkLGBMClassifier
    from dask_lightgbm_spark.histgbm import HistGBMClassifier

    rng = np.random.default_rng(42)
    X = rng.normal(size=(300, 3))
    y = (X[:, 0] - X[:, 2] > 0).astype(float)
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(3)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)

    clf = SparkLGBMClassifier(
        n_estimators=6, max_depth=2, learning_rate=0.3,
        min_child_samples=1, backend="histgbm", num_workers=2,
    )
    clf.fit(df, feature_cols=[f"f{i}" for i in range(3)], label_col="target")
    assert clf.classes_ == [0.0, 1.0]
    out = clf.transform(df, feature_cols=[f"f{i}" for i in range(3)]).toPandas()
    local = HistGBMClassifier(
        n_estimators=6, max_depth=2, learning_rate=0.3, min_child_rows=1
    ).fit(X, y)
    Xo = out[[f"f{i}" for i in range(3)]].to_numpy()
    assert np.array_equal(
        out["prediction"].to_numpy(), local.predict(Xo)
    )
    proba = np.stack(out["probability"].to_numpy())
    assert np.array_equal(proba, local.predict_proba(Xo))


def test_bit_equality_is_partition_invariant_property():
    """Property pin (no Spark): for random data, ANY worker count and ANY
    row assignment, the collective fit equals the single-fit bit-for-bit.
    This is the invariant the Spark tests sample once; hypothesis sweeps
    the partitioning space (uneven splits, tiny shards, 2-4 workers)."""
    import threading

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    class ThreadComm:
        def __init__(self, n):
            self.n = n
            self.bar = threading.Barrier(n)
            self.box = [None] * n

        def client(self, rank):
            parent = self

            class C:
                size = parent.n

                def allgather_sum_i64(self, arr):
                    parent.box[rank] = arr.copy()
                    parent.bar.wait()
                    out = np.zeros_like(arr)
                    for p in parent.box:
                        out += p.reshape(arr.shape)
                    parent.bar.wait()
                    return out

                def allgather_minmax(self, mn, mx):
                    parent.box[rank] = (mn.copy(), mx.copy())
                    parent.bar.wait()
                    g_mn, g_mx = mn.copy(), mx.copy()
                    for a, b in parent.box:
                        g_mn = np.minimum(g_mn, a)
                        g_mx = np.maximum(g_mx, b)
                    parent.bar.wait()
                    return g_mn, g_mx

            return C()

    from dask_lightgbm_spark.histgbm import (
        HistGBMClassifier,
        HistGBMQuantileRegressor,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 2**31 - 1),
        n_workers=st.integers(2, 4),
        loss=st.sampled_from(["squared", "logistic", "quantile"]),
        data=st.data(),
    )
    def check(seed, n_workers, loss, data):
        classify = loss == "logistic"
        rng = np.random.default_rng(seed)
        n = data.draw(st.integers(n_workers * 2, 120))
        X = rng.normal(size=(n, 3))
        y = X[:, 0] - 0.5 * X[:, 2] + 0.1 * rng.normal(size=n)
        if classify:
            y = (y > 0).astype(float)
        # random assignment of rows to workers; every worker nonempty
        assign = np.array(
            list(range(n_workers))
            + list(data.draw(
                st.lists(
                    st.integers(0, n_workers - 1),
                    min_size=n - n_workers,
                    max_size=n - n_workers,
                )
            ))
        )
        rng.shuffle(assign)

        if loss == "logistic":
            cls = HistGBMClassifier
        elif loss == "quantile":
            alpha = data.draw(
                st.sampled_from([0.1, 0.25, 0.5, 0.9])
            )

            def cls(**kw):
                return HistGBMQuantileRegressor(alpha=alpha, **kw)
        else:
            cls = HistGBMRegressor
        ref = cls(n_estimators=4, max_depth=2).fit(X, y)
        comm = ThreadComm(n_workers)
        models = [None] * n_workers
        errs = []

        def worker(rank):
            try:
                m = cls(n_estimators=4, max_depth=2)
                m._comm = comm.client(rank)
                sel = assign == rank
                m.fit(X[sel], y[sel])
                models[rank] = m
            except Exception as exc:  # noqa: BLE001 — surface in main thread
                errs.append(exc)

        ts = [
            threading.Thread(target=worker, args=(r,))
            for r in range(n_workers)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        p_ref = (
            ref.predict_proba(X) if classify else ref.predict(X)
        )
        for m in models:
            got = m.predict_proba(X) if classify else m.predict(X)
            assert np.array_equal(got, p_ref)

    check()


def test_quantile_learns_coverage():
    """Pinball loss actually targets the quantile: after enough rounds
    the empirical coverage P(y <= pred) sits at alpha, and the 0.9-
    quantile predictions sit above the 0.1-quantile ones. (The leaf
    step is -lr * meanGrad = lr * (alpha - coverage) — a contraction
    toward coverage == alpha; no leaf re-quantile pass needed.)"""
    from dask_lightgbm_spark.histgbm import HistGBMQuantileRegressor

    X, y = _synth(n=800)
    preds = {}
    for alpha in (0.1, 0.9):
        m = HistGBMQuantileRegressor(
            alpha=alpha, n_estimators=80, max_depth=3, learning_rate=0.3
        ).fit(X, y)
        p = m.predict(X)
        cov = float((y <= p).mean())
        assert abs(cov - alpha) < 0.08, (alpha, cov)
        preds[alpha] = p
    assert float((preds[0.9] - preds[0.1]).mean()) > 0.3


def test_quantile_distributed_fit_bit_equal_to_local(spark):
    """objective='quantile' through the public estimator on the histgbm
    backend: the pinball subgradient is row-local and IEEE-exact
    (piecewise-constant, no transcendentals), so 2-task distributed ==
    driver-local holds bit-for-bit for ANY alpha — the wheel-free
    counterpart of the reference's quantile test
    (tests/test_core.py:148-165)."""
    from dask_lightgbm_spark.estimators import SparkLGBMRegressor
    from dask_lightgbm_spark.histgbm import HistGBMQuantileRegressor

    X, y = _synth()
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)

    reg = SparkLGBMRegressor(
        n_estimators=6, max_depth=2, learning_rate=0.3,
        min_child_samples=1, backend="histgbm", num_workers=2,
        objective="quantile", alpha=0.75,
    )
    reg.fit(df, feature_cols=[f"f{i}" for i in range(5)], label_col="target")
    local = HistGBMQuantileRegressor(
        alpha=0.75, n_estimators=6, max_depth=2, learning_rate=0.3,
        min_child_rows=1,
    ).fit(X, y)
    assert np.array_equal(reg.to_local().predict(X), local.predict(X))


def test_histgbm_refuses_nan_inputs():
    """NaN/Inf would silently collapse binning (NaN min/max poisons every
    feature's range) — fit and predict refuse loudly instead, pointing
    at the lightgbm backend which handles missing values natively."""
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    X, y = _synth(n=50)
    Xbad = X.copy()
    Xbad[3, 1] = np.nan
    with pytest.raises(ValueError, match="finite dense"):
        HistGBMRegressor(n_estimators=2).fit(Xbad, y)
    ybad = y.copy()
    ybad[0] = np.inf
    with pytest.raises(ValueError, match="finite dense"):
        HistGBMRegressor(n_estimators=2).fit(X, ybad)
    w = np.ones(len(y))
    w[7] = np.nan
    with pytest.raises(ValueError, match="finite dense"):
        HistGBMRegressor(n_estimators=2).fit(X, y, sample_weight=w)
    m = HistGBMRegressor(n_estimators=2, max_depth=2).fit(X, y)
    with pytest.raises(ValueError, match="finite dense"):
        m.predict(Xbad)


def test_histgbm_backend_refuses_unsupported_params():
    """The histgbm backend RAISES for surface params it cannot honor —
    objective it lacks, stochastic subsample, passthrough extra_params —
    instead of silently training a different model (mirrors the mllib
    quantile-alpha refusal)."""
    from dask_lightgbm_spark.estimators import (
        SparkLGBMClassifier,
        SparkLGBMRegressor,
    )

    with pytest.raises(ValueError, match="objective"):
        SparkLGBMRegressor(
            backend="histgbm", objective="poisson"
        )._histgbm_params()
    with pytest.raises(ValueError, match="objective"):
        SparkLGBMClassifier(
            backend="histgbm", objective="quantile"
        )._histgbm_params()
    with pytest.raises(ValueError, match="subsample"):
        SparkLGBMRegressor(
            backend="histgbm", subsample=0.8
        )._histgbm_params()
    with pytest.raises(ValueError, match="extra|passthrough"):
        SparkLGBMRegressor(
            backend="histgbm", feature_fraction=0.9
        )._histgbm_params()
    # supported surfaces still map
    p = SparkLGBMRegressor(
        backend="histgbm", objective="quantile"
    )._histgbm_params()
    assert p["max_depth"] == 6


def test_quantile_regressor_rejects_bad_alpha():
    from dask_lightgbm_spark.histgbm import HistGBMQuantileRegressor

    with pytest.raises(ValueError, match="alpha"):
        HistGBMQuantileRegressor(alpha=1.5)
    with pytest.raises(ValueError, match="alpha"):
        HistGBMQuantileRegressor(alpha=0.0)


def test_weighted_distributed_fit_bit_equal_to_local(spark):
    """sample_weight is the reference's default test regime (every
    _create_data variant ships a weight column) — the weighted fit must
    hold the same bit-equality: weights ride the int64 fixed-point
    contract (hessian = rint(w * 2^24) sums), so the weight_col plumbing
    through the barrier task changes nothing."""
    from dask_lightgbm_spark import core
    from dask_lightgbm_spark.histgbm import HistGBMRegressor

    X, y = _synth()
    rng = np.random.default_rng(1)
    w = rng.uniform(0.0, 0.01, size=len(y))  # FIXTURES.md weight shape
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y
    pdf["w"] = w
    df = spark.createDataFrame(pdf)

    dist = core.train_lightgbm_barrier(
        df,
        feature_cols=[f"f{i}" for i in range(5)],
        label_col="target",
        model_factory=HistGBMRegressor,
        params={"n_estimators": 6, "max_depth": 2},
        weight_col="w",
        num_workers=2,
    )
    local = HistGBMRegressor(n_estimators=6, max_depth=2).fit(
        X, y, sample_weight=w
    )
    unweighted = HistGBMRegressor(n_estimators=6, max_depth=2).fit(X, y)
    assert np.array_equal(dist.predict(X), local.predict(X))
    # and the weights were actually consumed, not silently dropped
    assert not np.array_equal(local.predict(X), unweighted.predict(X))


def test_quantile_estimator_save_load_round_trip(spark, tmp_path):
    """objective='quantile' round-trips alpha through save/load and the
    reloaded model predicts bit-identically."""
    from dask_lightgbm_spark.estimators import SparkLGBMRegressor

    X, y = _synth(n=120)
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(5)})
    pdf["target"] = y
    df = spark.createDataFrame(pdf)
    cols = [f"f{i}" for i in range(5)]
    reg = SparkLGBMRegressor(
        n_estimators=4, max_depth=2, min_child_samples=1,
        backend="histgbm", num_workers=2,
        objective="quantile", alpha=0.25,
    )
    reg.fit(df, feature_cols=cols, label_col="target")
    assert reg.get_params()["alpha"] == 0.25
    path = str(tmp_path / "q_model")
    reg.save(path)
    reg2 = SparkLGBMRegressor.load(spark, path)
    assert reg2.alpha == 0.25 and reg2.objective == "quantile"
    a = reg.transform(df, feature_cols=cols).toPandas()["prediction"]
    b = reg2.transform(df, feature_cols=cols).toPandas()["prediction"]
    assert np.array_equal(a.to_numpy(), b.to_numpy())


# ---------------------------------------------------------------------------
# RingComm over localhost sockets, no Spark: one thread per rank, each with
# its own listener, exactly as the barrier trainer wires them.
# ---------------------------------------------------------------------------


def _run_ring(size, work, timeout=30.0, join_s=60.0):
    """Run ``work(rank, comm)`` on ``size`` threads joined into one ring;
    return (results, errors) by rank."""
    import socket
    import threading

    from dask_lightgbm_spark.histgbm import RingComm

    listeners = [socket.create_server(("127.0.0.1", 0)) for _ in range(size)]
    peers = [f"127.0.0.1:{ls.getsockname()[1]}" for ls in listeners]
    out, errs = [None] * size, [None] * size

    def run(rank):
        comm = None
        try:
            comm = RingComm(listeners[rank], peers, rank, timeout)
            out[rank] = work(rank, comm)
        except Exception as exc:  # noqa: BLE001 — reported by rank
            errs[rank] = exc
        finally:
            if comm is not None:
                comm.close()

    ts = [threading.Thread(target=run, args=(r,), daemon=True) for r in range(size)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(join_s)
    assert not any(t.is_alive() for t in ts), "ring collective hung"
    return out, errs


@pytest.mark.parametrize("size", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("length", [1, 3, 4097])
def test_ring_comm_reductions_equal_numpy(size, length):
    """Sums and min/max over 1-5 ranks equal numpy's on the stacked
    arrays exactly, including arrays shorter than the ring (empty
    chunks) and int64 sums that wrap."""
    rng = np.random.default_rng([size, length])
    ints = rng.integers(-(2**62), 2**62, size=(size, length), dtype=np.int64)
    mins = rng.normal(size=(size, length))
    maxs = rng.normal(size=(size, length))

    def work(rank, comm):
        s = comm.allgather_sum_i64(ints[rank])
        mn, mx = comm.allgather_minmax(mins[rank], maxs[rank])
        return s, mn, mx

    out, errs = _run_ring(size, work)
    assert errs == [None] * size, errs
    with np.errstate(over="ignore"):
        want = ints.sum(axis=0)
    for s, mn, mx in out:
        assert s.dtype == np.int64 and np.array_equal(s, want)
        assert np.array_equal(mn, mins.min(axis=0))
        assert np.array_equal(mx, maxs.max(axis=0))


def test_ring_comm_large_payload_does_not_deadlock():
    """16 MiB per rank on a 2-ring puts 8 MiB in each chunk, more than a
    socket send buffer plus the peer's receive window hold: a ring that
    sent before receiving would block both ranks in send forever."""
    n = 2 * 1024 * 1024  # int64 -> 16 MiB
    arrs = [np.arange(n, dtype=np.int64) * (r + 1) for r in range(2)]

    out, errs = _run_ring(2, lambda r, c: c.allgather_sum_i64(arrs[r]))
    assert errs == [None, None], errs
    want = np.arange(n, dtype=np.int64) * 3
    assert all(np.array_equal(o, want) for o in out)


def test_ring_comm_peer_closing_mid_collective_raises_promptly():
    """A rank that leaves after one collective makes every other rank's
    next collective raise well inside the socket timeout: the closed
    connection is seen at once, and each failing rank closes its own
    sockets so the failure travels around the ring."""
    import time

    def work(rank, comm):
        comm.allgather_sum_i64(np.ones(64, dtype=np.int64))
        if rank == 2:
            comm.close()
            return "left"
        t0 = time.perf_counter()
        try:
            comm.allgather_sum_i64(np.ones(64, dtype=np.int64))
        except OSError as exc:
            return time.perf_counter() - t0, exc
        return "completed"

    out, errs = _run_ring(4, work, timeout=120.0)
    assert errs == [None] * 4, errs
    assert out[2] == "left"
    for rank in (0, 1, 3):
        waited, exc = out[rank]
        assert waited < 10.0, (rank, waited, exc)


def test_ring_fitted_model_pickles_and_matches_local():
    """A model fitted through the ring releases its sockets when fit
    returns, so it pickles (the trainer ships it back to the driver that
    way), and the unpickled model predicts bit-equal to a local fit."""
    import pickle

    from dask_lightgbm_spark.histgbm import HistGBMClassifier, LocalComm

    rng = np.random.default_rng(5)
    X = rng.normal(size=(300, 4))
    y = (X[:, 0] - X[:, 3] > 0).astype(float)
    shards = np.array_split(np.arange(len(y)), 3)

    def work(rank, comm):
        m = HistGBMClassifier(n_estimators=5, max_depth=3)
        m._comm = comm
        return m.fit(X[shards[rank]], y[shards[rank]])

    models, errs = _run_ring(3, work)
    assert errs == [None] * 3, errs
    assert isinstance(models[0]._comm, LocalComm)
    back = pickle.loads(pickle.dumps(models[0]))
    local = HistGBMClassifier(n_estimators=5, max_depth=3).fit(X, y)
    assert np.array_equal(back.predict_proba(X), local.predict_proba(X))
