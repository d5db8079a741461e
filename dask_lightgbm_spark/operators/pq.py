"""Product quantization (PQ) approximate nearest neighbor.

The fourth ANN family in the engine (alongside IVF, sign-LSH, and int8
scalar quantization): split each d-dim vector into M contiguous
sub-vectors, learn a small k-means codebook per subspace, store each corpus
vector as M single-byte codes, and answer queries with asymmetric distance
computation (ADC) — exact query sub-vector vs the code's centroid.

Scale story (100 TB): the codebooks are M×K×(d/M) doubles — kilobytes —
held on the driver and shipped in the kernel closures, so BOTH the corpus
encoding and the ADC scan are zero-shuffle Arrow kernels over the corpus
(dimension-ordered ``functions.blockfold`` folds; memory per vector drops
from d×4 bytes float to M bytes of codes — 64× here). The only shuffle in the
whole query is the per-query top-k window. Encoding cost is amortizable
exactly like the IVF cell assignment (build once, serve many — s15).

Determinism (oracle bit-parity): codebooks come from
operators/kmeans.py's fixed-point Lloyd's (order-independent means); ADC
distance is a fixed-order sum of M sequential sub-vector folds, evaluated
identically by DuckDB's list_reduce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_lightgbm_spark.operators.kmeans import sq_dist
from dask_lightgbm_spark.operators.similarity import to_double_array, top_k_rank


def _lit_arr(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def _plain_books(codebooks):
    """Codebooks as plain (int cid, float list) pairs sorted by cid — the
    picklable closure form the kernels rebuild their matrices from."""
    return [
        sorted((int(c), [float(x) for x in cv]) for c, cv in book)
        for book in codebooks
    ]


def _adc_scorer(Q, books, who: str):
    """Executor-side ADC for the (n_q, d) query matrix ``Q`` against the
    sorted ``books`` (:func:`_plain_books`). Builds one LUT per subspace —
    ``fold_sq_dists`` of the queries' m-th sub-vector against the book's
    centroids (n_q x K), the dim-ordered subtract-multiply-add sequence of
    the interpreted ``sq_dist`` fold — and returns ``score(pdf)``, which maps
    a batch's ``code_0..code_{M-1}`` columns to the (n_q x n) distances
    ((lut0 + lut1) + lut2) + ..., the fixed-order subspace sum of the
    expression plan. LUT columns are positional over the sorted book while
    codes are cid VALUES: a code absent from the book (a gapped-cid
    mis-encode, or mismatched codebooks) raises instead of mis-scoring."""
    import numpy as np

    from dask_lightgbm_spark.functions.blockfold import fold_sq_dists

    sub = len(books[0][0][1])
    tables = []
    for m, book in enumerate(books):
        C = np.asarray([cv for _, cv in book], dtype=np.float64)
        cids = np.asarray([c for c, _ in book], dtype=np.int64)
        tables.append((cids, fold_sq_dists(Q[:, m * sub : (m + 1) * sub], C)))

    def score(pdf):
        dist = None
        for m, (cids, lut) in enumerate(tables):
            codes = pdf[f"code_{m}"].values.astype(np.int64)
            pos = np.clip(np.searchsorted(cids, codes), 0, len(cids) - 1)
            if not np.array_equal(cids[pos], codes):
                raise ValueError(
                    f"{who}: subspace {m} has codes not present in the "
                    "codebook (codes must be cid values from the same "
                    "train_codebooks output)"
                )
            d_m = lut[:, pos]
            dist = d_m if dist is None else dist + d_m
        return dist

    return score


def code_centroid(book: list[tuple[int, list[float]]], code: Column) -> Column:
    """Centroid lookup by code VALUE, not array position: a literal
    cid → centroid map. Lloyd's drops empty clusters, so a codebook's cids
    can be gapped (e.g. {0,1,3..7}); positional ``element_at(table, code+1)``
    would then silently fetch the wrong centroid (or NULL past the end).
    Keying the lookup by cid makes a gapped book score correctly — matching
    the oracle SQL, which joins codes by cid value."""
    entries: list[Column] = []
    for cid, cv in book:
        entries.append(F.lit(int(cid)))
        entries.append(_lit_arr(cv))
    return F.element_at(F.create_map(*entries), code)


def train_codebooks(
    df: DataFrame,
    init_filter: Column,
    dim: int,
    n_subspaces: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
) -> list[list[tuple[int, list[float]]]]:
    """One deterministic k-means codebook per contiguous subspace.
    Returns ``[subspace][code] -> centroid`` (driver-side: M×K×(dim/M)
    doubles, a few KB). K = the number of rows matching ``init_filter``.

    All M subspace trainings are FUSED per Lloyd's iteration (the
    subspaces are independent k-means over slices of the same vectors, so
    nothing couples them): one :func:`encode_pq` kernel pass assigns every
    subspace's codes, and one combined (m, cid, subpos) aggregation —
    the identical fixed-point mean expression ``kmeans._update_centroids``
    uses, F.round and all, just keyed by subspace too — updates every
    codebook. 3 corpus jobs total (init collect + one per iteration)
    instead of 3 per subspace; bit-identity to the per-subspace route is
    pinned by tests/test_prefix_pq.py::test_fused_codebooks_match_per_subspace."""
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    e = df.select(F.col(id_col), to_double_array(vec_col).alias("v"))
    init_rows = sorted(
        ((r[0], list(r[1])) for r in e.filter(init_filter).collect()),
        key=lambda r: r[0],
    )
    if not init_rows:
        raise ValueError("init_filter matched no rows — k-means needs k >= 1 seeds")
    # cid = rank of id within the init set; per-subspace init centroid =
    # the contiguous slice (same values kmeans_centroids' F.slice produced)
    books: list[list[tuple[int, list[float]]]] = [
        [(cid, v[m * sub : (m + 1) * sub]) for cid, (_, v) in enumerate(init_rows)]
        for m in range(n_subspaces)
    ]
    from dask_lightgbm_spark.operators.kmeans import FIXED_POINT

    code_cols = [f"code_{m}" for m in range(n_subspaces)]
    for _ in range(n_iters):
        assigned = encode_pq(e, books, id_col, "v")
        lf = assigned.select(
            *code_cols, F.posexplode("v").alias("pos", "val")
        ).select(
            F.expr(f"pos div {sub}").alias("m"),
            F.element_at(
                F.array(*[F.col(c) for c in code_cols]),
                F.expr(f"pos div {sub}").cast("int") + F.lit(1),
            ).alias("cid"),
            F.expr(f"pos % {sub}").alias("subpos"),
            "val",
        )
        per_dim = lf.groupBy("m", "cid", "subpos").agg(
            (
                F.sum(F.round(F.col("val") * FIXED_POINT).cast("long")).cast("double")
                / F.lit(float(FIXED_POINT))
                / F.count(F.lit(1))
            ).alias("mv")
        )
        upd: dict[tuple[int, int], list[float]] = {}
        for r in per_dim.collect():
            upd.setdefault((r["m"], r["cid"]), [0.0] * sub)[r["subpos"]] = r["mv"]
        books = [
            sorted(
                (cid, cv) for (m2, cid), cv in upd.items() if m2 == m
            )
            for m in range(n_subspaces)
        ]
    return books


def encode_pq_interpreted(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference encoder (interpreted HOF folds) — the semantic definition
    the vectorized kernel is pytest-proven bit-identical to; kept for the
    parity test and for readers tracing the oracle SQL."""
    sub = len(codebooks[0][0][1])
    out = df.select(F.col(id_col), to_double_array(vec_col).alias("v"))
    for m, book in enumerate(codebooks):
        sv = F.slice("v", 1 + m * sub, sub)
        structs = F.array(
            *[
                F.struct(
                    sq_dist(sv, _lit_arr(cv)).alias("dist"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in book
            ]
        )
        out = out.withColumn(f"code_{m}", F.array_min(structs)["cid"])
    return out


def encode_pq(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → (id, v, code_0..code_{M-1}): per subspace, the nearest
    codebook centroid by squared L2 (tie → lowest code). Arrow mapInPandas
    kernel with DIMENSION-ORDERED accumulation — per element exactly the
    subtract-multiply-add sequence of the interpreted fold (see
    kmeans.assign_vectorized for the bit-exactness argument; parity is
    pytest-proven against :func:`encode_pq_interpreted`). All M subspaces
    encode in one corpus pass; zero shuffle."""
    sub = len(codebooks[0][0][1])
    books = _plain_books(codebooks)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from dask_lightgbm_spark.functions.blockfold import fold_sq_dists

        mats = [np.asarray([cv for _, cv in b], dtype=np.float64) for b in books]
        ids = [np.asarray([c for c, _ in b], dtype=np.int64) for b in books]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].values).astype(np.float64)
            cols = {
                id_col: pdf[id_col].astype("int64").values,
                "v": list(V),
            }
            for m, (C, cid) in enumerate(zip(mats, ids)):
                acc = fold_sq_dists(V[:, m * sub : (m + 1) * sub], C)
                cols[f"code_{m}"] = cid[np.argmin(acc, axis=1)].astype("int32")
            yield pd.DataFrame(cols)

    src = df.select(
        F.col(id_col).cast("long").alias(id_col),
        to_double_array(vec_col).alias(vec_col),
    )
    schema = f"{id_col} long, v array<double>, " + ", ".join(
        f"code_{m} int" for m in range(len(books))
    )
    return src.mapInPandas(kernel, schema)


def ivf_pq_serve_topk(
    corpus: DataFrame,
    queries_assigned: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 3,
    max_queries: int = 10_000,
) -> DataFrame:
    """Vectorized IVF-PQ serve (the s18 hot path): ADC top-k within each
    query's cell for a BOUNDED query batch. Same result bit-for-bit as the
    declarative cell-join + per-candidate ``sq_dist(slice, code_centroid)``
    expression plan (the parity reference in tests/test_similarity.py);
    the difference is execution — Spark interprets the per-candidate HOF
    folds and the element_at centroid-map lookups row by row, while this
    kernel scores each corpus partition's candidates against per-query
    LUTs (:func:`_adc_scorer`, shared with :func:`pq_knn`) and emits only
    its per-partition top-k per query.

    ``corpus`` columns: (nid, cell, code_0..code_{M-1}).
    ``queries_assigned`` columns: (qid, qv, cell) — ≤ ``max_queries`` rows,
    shipped in the kernel closure (the ivf_serve_topk boundedness contract).

    Bit-exactness: see :func:`_adc_scorer` (pytest-proven against the
    expression plan for both kernels). Per-partition top-k under the total
    order (adc_dist asc, nid asc) distributes over partitions, so the
    final window over ≤ partitions×k rows per query picks the identical
    global top-k. Output: (qid, nid, rank, adc_dist)."""
    n_sub = len(codebooks)
    books = _plain_books(codebooks)
    q_rows = queries_assigned.select("qid", "qv", "cell").collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_serve_topk ships the query batch in the task closure; "
            f"{len(q_rows)} queries > max_queries={max_queries}. Chunk the "
            "batch, or use the declarative cell-join plan for unbounded "
            "query sides."
        )
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "qid long, nid long, rank int, adc_dist double"
        )
    by_cell: dict[int, list] = {}
    for r in q_rows:
        by_cell.setdefault(int(r["cell"]), []).append(
            (int(r["qid"]), [float(x) for x in r["qv"]])
        )
    cells = sorted(by_cell)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from dask_lightgbm_spark.functions.blockfold import top_k_block
        from dask_lightgbm_spark.operators.pq import _adc_scorer

        # per cell: (qids, ADC scorer over that cell's query LUTs)
        scorers = {
            c: (
                np.asarray([q for q, _ in qs], dtype=np.int64),
                _adc_scorer(
                    np.asarray([qv for _, qv in qs], dtype=np.float64),
                    books,
                    "ivf_pq_serve_topk",
                ),
            )
            for c, qs in by_cell.items()
        }
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_n, out_d = [], [], []
            for c, grp in pdf.groupby("cell", sort=False):
                qids, score = scorers[int(c)]
                nid = grp["nid"].values.astype(np.int64)
                dist = score(grp)  # Q x n
                r, j = top_k_block(dist.T, nid, qids, k, descending=False)
                out_q.append(qids[j])
                out_n.append(nid[r])
                out_d.append(dist[j, r])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        "adc_dist": np.concatenate(out_d),
                    }
                )

    part_topk = (
        corpus.filter(F.col("cell").isin(cells))
        .select(
            F.col("nid").cast("long").alias("nid"),
            "cell",
            *[f"code_{m}" for m in range(n_sub)],
        )
        .mapInPandas(kernel, "qid long, nid long, adc_dist double")
    )
    return top_k_rank(part_topk, k, "adc_dist", ascending=True)


def pq_knn(
    df: DataFrame,
    queries_filter: Column,
    k: int,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: approximate distance from each query (exact sub-vectors)
    to each corpus vector (codes only) = fixed-order sum over subspaces of
    sqdist(query sub-vector, code centroid).

    Output: (qid, nid, rank, adc_dist).

    Scores in an Arrow kernel: the queries are collected driver-side (a
    serve batch is small by design — same boundedness argument as
    broadcasting them), per-query LUTs (Q × K sqdist entries per subspace)
    are built INSIDE the kernel with dimension-ordered accumulation, and
    each corpus row's distance is ((lut0 + lut1) + lut2) + lut3 — the
    identical IEEE op sequence as the interpreted
    ``sq_dist(slice, code_centroid)`` expression plan (pytest-proven
    against it). Each batch keeps its top-k per query; one window ranks
    the union."""
    enc = encoded if encoded is not None else encode_pq(df, codebooks, id_col, vec_col)
    n_sub = len(codebooks)
    books = _plain_books(codebooks)
    q_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in df.filter(queries_filter).select(id_col, vec_col).collect()
    )
    if not q_rows:
        return df.sparkSession.createDataFrame(
            [], "qid long, nid long, rank int, adc_dist double"
        )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from dask_lightgbm_spark.functions.blockfold import top_k_block
        from dask_lightgbm_spark.operators.pq import _adc_scorer

        qids = np.asarray([q for q, _ in q_rows], dtype=np.int64)
        score = _adc_scorer(
            np.asarray([qv for _, qv in q_rows], dtype=np.float64), books, "pq_knn"
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid = pdf["nid"].astype("int64").values
            dist = score(pdf)  # Q x n
            r, j = top_k_block(dist.T, nid, qids, k, descending=False)
            yield pd.DataFrame(
                {"qid": qids[j], "nid": nid[r], "adc_dist": dist[j, r]}
            )

    scored = enc.select(
        F.col(id_col).alias("nid"), *[f"code_{m}" for m in range(n_sub)]
    ).mapInPandas(kernel, "qid long, nid long, adc_dist double")
    return top_k_rank(scored, k, "adc_dist", ascending=True)
