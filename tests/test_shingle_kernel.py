"""Bit-exactness pins for the r15 vectorized shingle/minhash kernels.

The optimization contract is that the Arrow kernel paths
(functions/shingle_kernel.py, dedup._shingle_signatures) are bit-identical
twins of the interpreted expression paths they replaced — values AND
first-occurrence array order. These tests pin that against a pure-Python
reference (no Spark) and against the live expression path (Spark),
including the short-document (len < k) padding semantics that broke once
during the round.
"""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_lightgbm_spark.functions.shingle_kernel import (
    POLY_MULT,
    minhash_from_flat,
    shingle_hashes_flat,
)
from dask_lightgbm_spark.operators import dedup

TRICKY = [
    "",
    "a",
    "ab",
    "abcd",
    "abcde",
    "hello world",
    "aaaaaaa",
    "ab" * 50,
    "unicode é中文 ↑ test",
    " leading and trailing  ",
]


def _ref_shingles(text: str, k: int) -> list[int]:
    codes = [ord(c) for c in text]
    n_pos = max(len(codes) - (k - 1), 1)
    out, seen = [], set()
    for p in range(n_pos):
        h = 0
        for i in range(k):
            c = codes[p + i] if p + i < len(codes) else 0
            h = (h * POLY_MULT + c) & 0xFFFFFFFF
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out


def test_kernel_matches_pure_python_reference():
    rng = random.Random(7)
    texts = TRICKY + [
        "".join(rng.choice("abcdef é中") for _ in range(rng.randint(0, 12)))
        for _ in range(200)
    ]
    for k in (2, 3, 5, 8):
        vals, offs = shingle_hashes_flat(texts, k)
        for i, t in enumerate(texts):
            got = list(vals[offs[i] : offs[i + 1]])
            assert got == _ref_shingles(t, k), (k, repr(t))


def test_minhash_from_flat_matches_direct_min():
    import numpy as np

    from dask_lightgbm_spark.functions.hashing import MINHASH_COEF, MINHASH_PRIME

    vals, offs = shingle_hashes_flat(TRICKY, 5)
    coef = tuple(MINHASH_COEF[:8])
    mh = minhash_from_flat(vals, offs, coef, MINHASH_PRIME)
    for i in range(len(TRICKY)):
        seg = vals[offs[i] : offs[i + 1]]
        for j, (a, b) in enumerate(coef):
            want = min((int(v) * a + b) % MINHASH_PRIME for v in seg)
            assert mh[i, j] == want
    assert not (offs[1:] == offs[:-1]).any()  # every doc yields >= 1 shingle


@pytest.fixture(scope="module")
def tricky_df(spark):
    rows = [(i, t) for i, t in enumerate(TRICKY * 5)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_fused_kernel_matches_expression_path(spark, tricky_df):
    """Kernel vs interpreted-expression twins: hs arrays (incl. order) and
    all minhash columns identical; fused single-pass == composed paths."""
    from dask_lightgbm_spark.functions.hashing import minhash_value
    from dask_lightgbm_spark.shipping import ship_package

    ship_package(spark)
    num_perm = 8
    fused = (
        dedup._shingle_signatures(tricky_df, "doc_id", "text", 5, num_perm, keep_hs=True)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    arr_e = dedup._shingle_expr_path(tricky_df, "doc_id", "text", 5)
    cols = [
        F.array_min(
            F.transform(F.col("hs"), (lambda i: (lambda h: minhash_value(h, i)))(i))
        ).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    expr = (
        arr_e.select("doc_id", "hs", *cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(fused.columns) == list(expr.columns)
    for c in fused.columns:
        if c == "hs":
            assert all(list(x) == list(y) for x, y in zip(fused[c], expr[c]))
        else:
            assert (fused[c] == expr[c]).all(), c


def test_fused_kernel_null_text_matches_expression_path(spark):
    """NULL text rows must flow through the kernel path (they force the
    arrow fallback route) and produce hs = [0] — exactly the expression
    path's output for NULL — instead of crashing (r15 advisor, medium)."""
    from dask_lightgbm_spark.shipping import ship_package

    ship_package(spark)
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["hello world", None, "", None]}
    )
    df = spark.createDataFrame(pdf)
    fused = (
        dedup._shingle_signatures(df, "doc_id", "text", 5, 4, keep_hs=True)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    expr = (
        dedup._shingle_expr_path(df, "doc_id", "text", 5)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert all(list(x) == list(y) for x, y in zip(fused["hs"], expr["hs"]))
    assert list(fused.loc[1, "hs"]) == [0] and list(fused.loc[3, "hs"]) == [0]


def test_sig_match_count_matches_hof_fold(spark):
    """Unrolled estimate filter == aggregate(zip_with(...)) fold, including
    null propagation (a null element nulls the whole count)."""
    pdf = pd.DataFrame(
        {
            "a": [[1, 2, 3, 4], [1, 0, 3, 0], [None, 2, 3, 4], [5, 6, 7, 8]],
            "b": [[1, 2, 3, 4], [1, 9, 3, 9], [1, 2, 3, 4], [1, 2, 3, 4]],
        }
    )
    df = spark.createDataFrame(pdf)
    fold = F.aggregate(
        F.zip_with(F.col("a"), F.col("b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    out = df.select(
        fold.alias("fold"),
        dedup.sig_match_count("a", "b", 4).alias("unrolled"),
    ).collect()
    for r in out:
        assert r.fold == r.unrolled, (r.fold, r.unrolled)


def test_arrow_kernel_matches_list_kernel_all_routes():
    """shingle_hashes_flat_arrow == shingle_hashes_flat on: pure-ASCII
    batches (the zero-copy buffer route), non-ASCII batches (the
    to_pylist fallback), mixed batches, short docs (len < k), empty
    strings, empty batches, and SLICED arrays (nonzero arr.offset — the
    buffer window must respect it)."""
    import numpy as np
    import pyarrow as pa

    from dask_lightgbm_spark.functions.shingle_kernel import (
        shingle_hashes_flat_arrow,
    )

    rng = random.Random(11)
    ascii_alpha = "abcdefgh 0123"
    uni_alpha = "abcé中↑ x"
    batches = [
        [],
        [""],
        ["", "", ""],
        ["a", "ab", "abcd", "abcde", "hello world"],
        ["".join(rng.choice(ascii_alpha) for _ in range(rng.randint(0, 30)))
         for _ in range(100)],
        ["".join(rng.choice(uni_alpha) for _ in range(rng.randint(0, 30)))
         for _ in range(100)],
        TRICKY,
    ]
    for texts in batches:
        for k in (2, 5):
            ref_v, ref_o = shingle_hashes_flat(texts, k)
            arr = pa.array(texts, type=pa.string())
            got_v, got_o = shingle_hashes_flat_arrow(arr, k)
            assert np.array_equal(ref_v, got_v), (texts[:3], k)
            assert np.array_equal(ref_o, got_o), (texts[:3], k)
            if len(texts) >= 4:
                lo, hi = 1, len(texts) - 1
                sv, so = shingle_hashes_flat_arrow(arr.slice(lo, hi - lo), k)
                rv, ro = shingle_hashes_flat(texts[lo:hi], k)
                assert np.array_equal(sv, rv) and np.array_equal(so, ro)
    # chunked input (combine_chunks route)
    ch = pa.chunked_array([pa.array(["abcdef", "xy"]), pa.array(["hello"])])
    cv, co = shingle_hashes_flat_arrow(ch, 3)
    rv, ro = shingle_hashes_flat(["abcdef", "xy", "hello"], 3)
    assert np.array_equal(cv, rv) and np.array_equal(co, ro)
    # NULL text: nulls force the to_pylist fallback; a null doc must yield
    # hs = [0], identical to '' and to the expression path's NULL output
    for texts in ([None], ["abc", None, "hello world", None, ""], [None, None]):
        for k in (2, 5):
            arr = pa.array(texts, type=pa.string())
            got_v, got_o = shingle_hashes_flat_arrow(arr, k)
            ref_v, ref_o = shingle_hashes_flat(
                ["" if t is None else t for t in texts], k
            )
            assert np.array_equal(got_v, ref_v), (texts, k)
            assert np.array_equal(got_o, ref_o), (texts, k)
            null_rows = [i for i, t in enumerate(texts) if t is None]
            for i in null_rows:
                assert list(got_v[got_o[i] : got_o[i + 1]]) == [0]
