"""Unit tests for the r6 operators: distributed prefix sum / sequence
packing (operators/prefix_sum.py) and product quantization ANN
(operators/pq.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_global_cumsum_matches_naive(spark):
    """Bucketed two-level scan == pandas cumsum, on sparse non-dense keys
    and with a bucket count that forces multiple buckets."""
    from dask_lightgbm_spark.operators.prefix_sum import global_cumsum

    rng = np.random.default_rng(5)
    keys = np.sort(rng.choice(100_000, size=500, replace=False))
    vals = rng.integers(-50, 100, size=500)  # negatives: offset math must not
    # rely on max(local cumsum) == bucket total
    pdf = pd.DataFrame({"k": keys, "x": vals})
    got = (
        global_cumsum(spark.createDataFrame(pdf), "k", "x", out_col="cs", n_buckets=7)
        .orderBy("k")
        .toPandas()
    )
    expect = pdf.sort_values("k").x.cumsum().to_numpy()
    assert (got.cs.to_numpy() == expect).all()
    assert list(got.columns) == ["k", "x", "cs"]


def test_global_cumsum_single_row_and_reserved(spark):
    from dask_lightgbm_spark.operators.prefix_sum import global_cumsum

    one = spark.createDataFrame(pd.DataFrame({"k": [42], "x": [7]}))
    assert global_cumsum(one, "k", "x").first()["cumsum"] == 7
    bad = spark.createDataFrame(pd.DataFrame({"k": [1], "x": [1], "__b": [0]}))
    with pytest.raises(ValueError, match="__b"):
        global_cumsum(bad, "k", "x")


def test_pack_sequences_chunk_math(spark):
    """Hand-computed packing: docs of 100/200/60 tokens at seq_len=128 —
    doc0 [0,100) chunk 0; doc1 [100,300) chunks 0-2; doc2 [300,360) chunk 2;
    an empty doc occupies zero chunks at its boundary offset."""
    from dask_lightgbm_spark.operators.prefix_sum import pack_sequences

    pdf = pd.DataFrame({"doc_id": [0, 1, 2, 3], "n": [100, 200, 60, 0]})
    got = (
        pack_sequences(spark.createDataFrame(pdf), "doc_id", "n", seq_len=128)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[0].tolist() == [100, 0, 100, 0, 0, 1]
    assert got.loc[1].tolist() == [200, 100, 300, 0, 2, 3]
    assert got.loc[2].tolist() == [60, 300, 360, 2, 2, 1]
    assert got.loc[3].tolist() == [0, 360, 360, 2, 2, 0]


def _toy_vectors(n=60, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [row.astype(np.float32).tolist() for row in rng.normal(size=(n, dim))],
        }
    )


def _top_k_window(scored, k, order):
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(order, F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def _pq_knn_expr(df, queries_filter, k, codebooks):
    """pq_knn's parity reference, the interpreted plan: a broadcast query
    join scored by per-candidate ``sq_dist(slice, code_centroid)`` folds
    (the literal codebook keyed by cid value, so gapped books work), then a
    row_number window."""
    from dask_lightgbm_spark.operators.kmeans import sq_dist
    from dask_lightgbm_spark.operators.pq import code_centroid, encode_pq
    from dask_lightgbm_spark.operators.similarity import to_double_array

    sub = len(codebooks[0][0][1])
    queries = df.filter(queries_filter).select(
        F.col("vec_id").alias("qid"), to_double_array("embedding").alias("qv")
    )
    pairs = encode_pq(df, codebooks).select(
        F.col("vec_id").alias("nid"), *[f"code_{m}" for m in range(len(codebooks))]
    ).join(F.broadcast(queries), F.col("nid") != F.col("qid"))
    dist = None
    for m, book in enumerate(codebooks):
        d_m = sq_dist(
            F.slice("qv", 1 + m * sub, sub),
            code_centroid(book, F.col(f"code_{m}")),
        )
        dist = d_m if dist is None else dist + d_m
    return _top_k_window(
        pairs.withColumn("adc_dist", dist), k, F.asc("adc_dist")
    ).select("qid", "nid", "rank", "adc_dist")


def _brute_force_knn_expr(corpus, queries, k):
    """brute_force_knn's parity reference, the interpreted plan: norms
    folded once per vector, ``try_divide(dot, qn * nn)`` per pair (a zero
    norm gives a NULL cosine, ranked last by the desc window)."""
    from dask_lightgbm_spark.operators.similarity import dot, norm, to_double_array

    c = corpus.select(
        F.col("vec_id").alias("nid"), to_double_array("embedding").alias("nv")
    ).withColumn("nn", norm("nv"))
    q = queries.select(
        F.col("vec_id").alias("qid"), to_double_array("embedding").alias("qv")
    ).withColumn("qn", norm("qv"))
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("nid")).select(
        "qid",
        "nid",
        F.try_divide(dot("qv", "nv"), F.col("qn") * F.col("nn")).alias("cos"),
    )
    return _top_k_window(scored, k, F.desc("cos")).select("qid", "nid", "rank", "cos")


def test_pq_codebooks_and_encoding(spark):
    """Codebooks: contiguous codes, correct shapes; encoding picks the true
    nearest sub-centroid (verified against a numpy recomputation)."""
    from dask_lightgbm_spark.operators.pq import encode_pq, train_codebooks

    pdf = _toy_vectors()
    df = spark.createDataFrame(pdf)
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    assert len(books) == 2
    for book in books:
        assert [cid for cid, _ in book] == list(range(len(book)))
        assert all(len(cv) == 4 for _, cv in book)

    enc = encode_pq(df, books).orderBy("vec_id").toPandas()
    X = np.array([np.asarray(v, dtype=np.float32).astype(np.float64) for v in pdf.embedding])
    for m, book in enumerate(books):
        C = np.array([cv for _, cv in book])
        sub = X[:, m * 4 : (m + 1) * 4]
        d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assert (enc[f"code_{m}"].to_numpy() == d.argmin(axis=1)).all()


def test_pq_knn_is_adc_topk(spark):
    """pq_knn's ranking == numpy ADC recomputation from the same codebooks
    (rank ties broken by nid, self excluded)."""
    from dask_lightgbm_spark.operators.pq import pq_knn, train_codebooks

    pdf = _toy_vectors()
    df = spark.createDataFrame(pdf)
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    got = pq_knn(df, F.col("vec_id") < 3, k=4, codebooks=books).toPandas()

    X = np.array([np.asarray(v, dtype=np.float32).astype(np.float64) for v in pdf.embedding])
    codes = np.zeros((len(X), 2), dtype=int)
    for m, book in enumerate(books):
        C = np.array([cv for _, cv in book])
        sub = X[:, m * 4 : (m + 1) * 4]
        codes[:, m] = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    for qid in range(3):
        dists = np.zeros(len(X))
        for m, book in enumerate(books):
            C = np.array([cv for _, cv in book])
            qsub = X[qid, m * 4 : (m + 1) * 4]
            dists += ((qsub[None, :] - C[codes[:, m]]) ** 2).sum(axis=1)
        order = sorted((d, n) for n, d in enumerate(dists) if n != qid)[:4]
        mine = got[got.qid == qid].sort_values("rank")
        assert mine.nid.tolist() == [n for _, n in order]
        assert np.allclose(mine.adc_dist.to_numpy(), [d for d, _ in order], atol=1e-9)


def test_pq_memory_footprint_columns(spark):
    """The encoded representation carries only int codes (plus the carried
    vector column for reuse) — the compression contract."""
    from dask_lightgbm_spark.operators.pq import encode_pq, train_codebooks

    df = spark.createDataFrame(_toy_vectors())
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=4, n_iters=1)
    enc = encode_pq(df, books)
    assert [c for c in enc.columns if c.startswith("code_")] == [
        "code_0", "code_1", "code_2", "code_3",
    ]
    dt = dict(enc.dtypes)
    assert all(dt[f"code_{m}"] == "int" for m in range(4))


def test_global_cumsum_known_bounds_skips_prescan(spark):
    """key_bounds skips the min/max pass; values identical, and the plan
    loses the aggregate over the input (loose covering bounds allowed)."""
    from dask_lightgbm_spark.operators.prefix_sum import global_cumsum

    pdf = pd.DataFrame({"k": range(100), "x": [1] * 100})
    df = spark.createDataFrame(pdf)
    a = global_cumsum(df, "k", "x").orderBy("k").toPandas()
    b = global_cumsum(df, "k", "x", key_bounds=(0, 1000)).orderBy("k").toPandas()
    assert (a["cumsum"] == b["cumsum"]).all()


def test_assign_vectorized_bit_identical_to_fold(spark):
    """kmeans.assign_vectorized (Arrow kernel, dim-ordered accumulation)
    must reproduce the interpreted HOF fold's cid choice exactly —
    including on duplicate vectors where distances tie bit-for-bit."""
    from dask_lightgbm_spark.operators.kmeans import (
        assign_to_literal_centroids,
        assign_vectorized,
    )
    from dask_lightgbm_spark.operators.similarity import to_double_array

    pdf = _toy_vectors(n=120, dim=8, seed=11)
    # duplicates force exact distance ties -> lowest-cid tie-break on both
    pdf.loc[60:, "embedding"] = pdf.loc[:59, "embedding"].values
    df = spark.createDataFrame(pdf).select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    cents = [
        (i, [float(x) for x in row])
        for i, row in enumerate(
            np.random.default_rng(2).normal(size=(5, 8))
        )
    ]
    a = assign_to_literal_centroids(df, cents).select("vec_id", "cid").toPandas()
    b = assign_vectorized(df, cents).select("vec_id", "cid").toPandas()
    merged = a.merge(b, on="vec_id", suffixes=("_fold", "_vec"))
    assert (merged.cid_fold == merged.cid_vec).all()


def test_encode_pq_vectorized_matches_interpreted(spark):
    from dask_lightgbm_spark.operators.pq import (
        encode_pq,
        encode_pq_interpreted,
        train_codebooks,
    )

    pdf = _toy_vectors(n=80, dim=8, seed=17)
    df = spark.createDataFrame(pdf)
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=2)
    a = encode_pq_interpreted(df, books).select("vec_id", "code_0", "code_1").toPandas()
    b = encode_pq(df, books).select("vec_id", "code_0", "code_1").toPandas()
    m = a.merge(b, on="vec_id", suffixes=("_i", "_v"))
    assert (m.code_0_i == m.code_0_v).all() and (m.code_1_i == m.code_1_v).all()


def test_pq_knn_vectorized_matches_expression_path(spark):
    from dask_lightgbm_spark.operators.pq import pq_knn, train_codebooks

    pdf = _toy_vectors(n=80, dim=8, seed=23)
    df = spark.createDataFrame(pdf)
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    a = (
        _pq_knn_expr(df, F.col("vec_id") < 5, k=4, codebooks=books)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        pq_knn(df, F.col("vec_id") < 5, k=4, codebooks=books)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_brute_force_knn_vectorized_matches_expression_path(spark):
    """similarity.brute_force_knn's Arrow kernel == the interpreted fold
    expression plan (_brute_force_knn_expr), bit-for-bit (cosines compared exactly, not approx)."""
    from dask_lightgbm_spark.operators.similarity import brute_force_knn

    pdf = _toy_vectors(n=90, dim=16, seed=29)
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 6)
    a = (
        _brute_force_knn_expr(df, q, k=5)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        brute_force_knn(df, q, k=5)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert (a.cos.to_numpy() == b.cos.to_numpy()).all()  # exact, not allclose


def test_knn_empty_query_set_returns_empty(spark):
    """Contract parity with the expression plans: an empty query set yields
    an empty frame with the output schema, not an error."""
    from dask_lightgbm_spark.operators.pq import pq_knn, train_codebooks
    from dask_lightgbm_spark.operators.similarity import brute_force_knn

    df = spark.createDataFrame(_toy_vectors(n=30))
    out = brute_force_knn(df, df.filter(F.col("vec_id") < 0), k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "nid", "rank", "cos"]
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    out2 = pq_knn(df, F.col("vec_id") < 0, k=3, codebooks=books)
    assert out2.count() == 0
    assert out2.columns == ["qid", "nid", "rank", "adc_dist"]


def test_pq_knn_gapped_codebook_scores_by_cid(spark):
    """A codebook whose cids are gapped (Lloyd's drops empty clusters) must
    score by cid VALUE in the kernel and the expression plan — not positional indexing, which would
    silently fetch the wrong centroid (ADVICE r6). Built by renumbering a
    trained book's cids to {0, 2, 5, ...} and re-encoding."""
    from dask_lightgbm_spark.operators.pq import encode_pq, pq_knn, train_codebooks

    df = spark.createDataFrame(_toy_vectors(n=60, dim=8, seed=31))
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    gapped = [
        [(cid * 3 + 1, cv) for cid, cv in book]  # {1, 4, 7, 10}: no 0, gaps
        for book in books
    ]
    enc = encode_pq(df, gapped)
    codes = enc.select("code_0").distinct().toPandas()["code_0"]
    assert set(codes) <= {cid for cid, _ in gapped[0]}
    a = (
        _pq_knn_expr(df, F.col("vec_id") < 5, k=4, codebooks=gapped)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        pq_knn(df, F.col("vec_id") < 5, k=4, codebooks=gapped)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    # and the gapped book ranks identically to the dense original (same
    # centroids, relabeled codes)
    orig = (
        pq_knn(df, F.col("vec_id") < 5, k=4, codebooks=books)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a[["qid", "nid", "rank", "adc_dist"]], orig)


def test_pq_knn_alien_code_raises(spark):
    """Codes not present in the codebook (mismatched books) fail loudly in
    the vectorized kernel instead of mis-scoring."""
    from dask_lightgbm_spark.operators.pq import encode_pq, pq_knn, train_codebooks

    df = spark.createDataFrame(_toy_vectors(n=40, dim=8, seed=37))
    books = train_codebooks(df, F.col("vec_id") < 4, dim=8, n_subspaces=2, n_iters=1)
    enc = encode_pq(df, books).withColumn("code_0", F.col("code_0") + 100)
    with pytest.raises(Exception, match="not present in"):
        pq_knn(
            df, F.col("vec_id") < 5, k=3, codebooks=books, encoded=enc
        ).collect()


def test_brute_force_zero_norm_null_cosine_parity(spark):
    """A zero-norm vector must NOT abort the job: its pairs carry NULL
    cosine and rank last in both the kernel and the interpreted reference
    plan (try_divide semantics; ADVICE r6)."""
    from dask_lightgbm_spark.operators.similarity import brute_force_knn

    pdf = _toy_vectors(n=12, dim=8, seed=41)
    pdf.at[3, "embedding"] = [0.0] * 8  # degenerate corpus vector
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") < 2)
    # k > finite candidates forces the NULL tier into the result
    a = (
        _brute_force_knn_expr(df, q, k=11)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        brute_force_knn(df, q, k=11)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert a["cos"].isna().sum() == 2  # one NULL pair per query
    pd.testing.assert_frame_equal(a, b)
    # zero-norm QUERY: every one of its cosines is NULL, ranked by nid
    pdf2 = _toy_vectors(n=6, dim=8, seed=43)
    pdf2.at[0, "embedding"] = [0.0] * 8
    df2 = spark.createDataFrame(pdf2)
    q2 = df2.filter(F.col("vec_id") == 0)
    a2 = _brute_force_knn_expr(df2, q2, k=3).toPandas()
    b2 = brute_force_knn(df2, q2, k=3).toPandas()
    assert a2["cos"].isna().all() and len(a2) == 3
    pd.testing.assert_frame_equal(
        a2.sort_values("rank").reset_index(drop=True),
        b2.sort_values("rank").reset_index(drop=True),
    )


def test_pack_sequences_exact_past_double_precision(spark):
    """Chunk indices stay exact past 2^53 total tokens: int64 `div`, not
    floor(double/double) (ADVICE r6). 2^53+1 is not representable as a
    double, so the old double path rounds the boundary."""
    from dask_lightgbm_spark.operators.prefix_sum import pack_sequences

    big = 2**53  # cumulative offset beyond double precision
    df = spark.createDataFrame(
        [(1, big), (2, 3), (3, 5)], "doc_id long, n_tokens long"
    )
    out = (
        pack_sequences(df, seq_len=2, id_col="doc_id", n_tokens_col="n_tokens")
        .toPandas()
        .set_index("doc_id")
    )
    # doc 2 spans tokens [2^53, 2^53+3): chunks 2^52 .. (2^53+2)//2
    assert out.loc[2, "start_tok"] == big
    assert out.loc[2, "first_chunk"] == big // 2
    assert out.loc[2, "last_chunk"] == (big + 2) // 2
    assert out.loc[2, "n_chunks"] == (big + 2) // 2 - big // 2 + 1
    assert out.loc[3, "first_chunk"] == (big + 3) // 2


def test_fused_codebooks_match_per_subspace(spark):
    """train_codebooks' fused per-iteration pass (one encode kernel + one
    combined (m, cid, subpos) fixed-point mean) must be bit-identical to
    training each subspace independently through kmeans_centroids — the
    semantic definition it replaced (r16 optimization)."""
    from dask_lightgbm_spark.operators.kmeans import kmeans_centroids
    from dask_lightgbm_spark.operators.pq import train_codebooks
    from dask_lightgbm_spark.operators.similarity import to_double_array

    pdf = _toy_vectors(n=80, dim=8, seed=7)
    df = spark.createDataFrame(pdf)
    for n_iters in (1, 2):
        books = train_codebooks(
            df, F.col("vec_id") < 5, dim=8, n_subspaces=2, n_iters=n_iters
        )
        e = df.select("vec_id", to_double_array("embedding").alias("v"))
        for m in range(2):
            sliced = e.select("vec_id", F.slice("v", 1 + m * 4, 4).alias("sv"))
            cents = kmeans_centroids(
                sliced, F.col("vec_id") < 5, vec_col="sv", n_iters=n_iters
            )
            ref = sorted((r.cid, list(r.cv)) for r in cents.collect())
            got = [(cid, list(cv)) for cid, cv in books[m]]
            assert got == ref, (m, n_iters)
