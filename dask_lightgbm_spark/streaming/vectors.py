"""Streaming ANN serving: a stream of query vectors searched against a
static, pre-built IVF index — the online-serving topology (queries arrive
continuously; the index was built by a batch job and only changes on
rebuild).

Top-k-per-query is not expressible as a streaming aggregation (ranking
windows are batch-only), so the serve step runs in ``foreachBatch``: within
each micro-batch the arriving queries are scored against the full static
index with ordinary batch semantics. Each query appears in exactly one
micro-batch and its top-k depends only on the static index, so the drained
union across batches equals the batch IVF query exactly — which is the
oracle (the same SQL as s02, restricted to the streamed query ids).

At scale: the per-batch work is the s02 serve plan (broadcast the batch's
queries, equi-join on cell); state is zero (no streaming aggregation), so
an unbounded query stream runs at constant memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lightgbm_spark.operators.similarity import dot, top_k_rank
from dask_lightgbm_spark.streaming.diag import drain_and_capture


def stream_ann_serving(
    spark: SparkSession,
    sf_dir: str,
    index: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Drain a bounded stream of query vectors (vec_id < 10 from the
    embeddings fixture) through foreachBatch IVF serving against ``index``
    (the persisted (vec_id, v, cell, nn) storage assignment) and return the
    union of per-batch top-k results.

    The cosine expression reuses the index's precomputed norms on BOTH
    sides (a query's norm is its own index row's ``nn``), so values are
    bit-identical to the batch ivf_knn serve path."""
    from dask_lightgbm_spark.sources.readers import raw_parquet_schema

    schema = raw_parquet_schema(spark, sf_dir, "embeddings.parquet")
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") < 10)
        .select("vec_id")
    )

    # keyed by batch_id so a foreachBatch RE-invocation for the same batch
    # (micro-batch retry) overwrites rather than duplicates — the drained
    # union stays exactly one top-k per streamed query
    results: dict[int, list] = {}
    out_schema = "qid long, nid long, rank int, cos double"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ids = [r[0] for r in batch_df.select("vec_id").collect()]
        if not ids:
            return
        q = index.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("cell"),
            F.col("nn").alias("qn"),
        )
        scored = (
            index.select(
                F.col("vec_id").alias("nid"),
                F.col("v").alias("nv"),
                F.col("cell"),
                F.col("nn"),
            )
            .join(F.broadcast(q), "cell")
            .filter(F.col("qid") != F.col("nid"))
            .select(
                "qid",
                "nid",
                F.try_divide(
                    dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn")
                ).alias("cos"),
            )
        )
        topk = top_k_rank(scored, k, "cos")
        # a serve batch emits k rows per arriving query — bounded by design
        results[batch_id] = topk.collect()

    q = src.writeStream.foreachBatch(handle).start()
    drain_and_capture(q)
    rows = [r for b in sorted(results) for r in results[b]]
    return spark.createDataFrame(rows, out_schema)


def stream_ivf_insert(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    glob: str = "embeddings.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming IVF index MAINTENANCE (the online twin of batch s23):
    vectors arrive as a stream and are inserted into the index as they
    land — each micro-batch is assigned against the FROZEN centroids
    (vectorized, bit-identical to the batch build) and appended to the
    index's parquet layout under a ``batch=<id>`` directory (overwrite per
    batch id, so a micro-batch RETRY overwrites its own output instead of
    duplicating rows — sink idempotency by layout). After the stream
    drains, queries serve against base ∪ streamed-delta; no centroid has
    vec_id % 10 == 7, so the merged index is identical to a from-scratch
    build and the batch s02 oracle verifies the serve result bit-for-bit.

    At scale: per-batch work is one centroid scan over the BATCH only
    (the base corpus is never touched), state is zero, and the index
    grows by parquet appends — exactly how a production IVF ingest path
    behaves between centroid retrains. ``glob``/``max_files_per_trigger``
    select the streamed delta files and batch granularity (tests split the
    delta across several real micro-batches; the default streams the
    single fixture file, one batch)."""
    import os

    from dask_lightgbm_spark.operators.similarity import (
        assign_cells_vectorized,
        ivf_knn,
    )
    from dask_lightgbm_spark.session import scratch_dir
    from dask_lightgbm_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % 25 == 0)
    base = assign_cells_vectorized(e.filter(F.col("vec_id") % 10 != 7), cents)

    out = scratch_dir("x15_ivf_delta") + "/" + sf_dir.strip("/").replace("/", "_")
    # fresh delta dir per invocation (r7 advisor): batch=<id> overwrite is
    # retry-idempotent WITHIN a run, but a re-invocation that drains into
    # fewer micro-batches would leave stale batch=N dirs from the previous
    # run and the union below would serve duplicated delta rows
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    from dask_lightgbm_spark.sources.readers import raw_parquet_schema

    schema = raw_parquet_schema(spark, sf_dir, "embeddings.parquet")
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(sf_dir).filter(F.col("vec_id") % 10 == 7)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells_vectorized(batch_df, cents)
        assigned.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    q = src.writeStream.foreachBatch(handle).start()
    drain_and_capture(q)

    delta_dirs = (
        [f"{out}/{d}" for d in sorted(os.listdir(out)) if d.startswith("batch=")]
        if os.path.isdir(out)
        else []  # zero micro-batches → index is just the base
    )
    index = base
    if delta_dirs:
        delta = spark.read.parquet(*delta_dirs).select(*base.columns)
        index = base.unionByName(delta)
    return ivf_knn(
        e,
        queries_filter=F.col("vec_id") < 10,
        centroid_filter=F.col("vec_id") % 25 == 0,
        k=k,
        assigned=index,
    )
