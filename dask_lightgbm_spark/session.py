"""SparkSession factory tuned for this engine.

Local mode is single-JVM; on a real cluster the same settings hold except
memory, which comes from the cluster manager. AQE is on so skewed joins and
small shuffle partitions re-plan at runtime — essential at the 100 TB design
point, harmless locally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``min(32g, half of physical RAM)``: the local-mode JVM heap must leave
    the other half to Python workers and the OS — a fixed 32g on a 15 GB
    host let the heap grow until the kernel OOM-killed the JVM."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (OSError, ValueError):
        return "32g"
    return f"{min(32 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "spark-lightgbm-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - Arrow on (vectorized pandas-UDF boundary; SURVEY.md §1 "row- vs
      column-oriented").
    - UTC session timezone (oracle comparability; parquet timestamps are
      instants).
    - shuffle partitions ~ cores locally; AQE coalesces at runtime so a
    - cluster deployment can leave this high.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate adds a redundant `size(arr) > 0` filter
        # under every explode and pushes it below exchanges with the array
        # expression fully re-inlined (no subexpression elimination in
        # filters) — for explodes of derived arrays like shingle hashes
        # this re-evaluates an O(len) inner array per element_at tap,
        # turning an O(len) projection into O(len²) per row: measured 266 s
        # → 1.9 s on the sf0.1 shingle explode. explode() already drops
        # empty arrays, so excluding the rule cannot change results.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SCRATCH_ROOT: str | None = None


def scratch_dir(subdir: str) -> str:
    """Per-process scratch directory, removed at interpreter exit.

    Queries that materialize intermediate parquet (the s15 persisted-index
    build, the foreachBatch stream sink) write under a single process-wide
    root instead of a fresh ``mkdtemp`` per invocation — repeated runs
    (bench's min-of-3, the driver gate) overwrite the same path rather than
    accumulating orphaned directories, and the whole root is cleaned up
    when the process ends."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dls_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    path = os.path.join(_SCRATCH_ROOT, subdir)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# Scoped cache release — the long-session hygiene API.
#
# Two kinds of executor-memory state outlive an operator call:
#   1. Session-keyed build-once caches (the IVF index, PQ codes, the s23
#      incremental index) — dicts hung off the SparkSession as `_dls_*`
#      attributes, deliberately reused across invocations so serve paths
#      measure serving, not index rebuilds.
#   2. Per-invocation lazy persists an operator CANNOT unpersist in-function
#      because the DataFrame it returns still depends on them lazily
#      (minhash_lsh_neardup's shingle-hash arrays, s25's kNN graph). These
#      register here via track_lazy_persist().
# A long-running service switching corpora releases both with
# release_caches(spark) — scoped to this package's state, unlike
# spark.catalog.clearCache(), which would also evict the caller's own
# cached DataFrames. Everything released is deterministic derived state:
# the next invocation rebuilds it with identical content.
# ---------------------------------------------------------------------------

# lazy-persist registry lives ON the owning SparkSession (attr below), not
# in a process-global list: release_caches(sparkA) must never unpersist
# DataFrames persisted under a different session, and the list must die
# with its session rather than pin handles process-wide (r8 advisor).
_LAZY_PERSIST_ATTR = "_dls_lazy_persists"

# session attrs holding dicts of persisted DataFrames (executor memory)
_SESSION_DF_CACHES = (
    "_dls_ivf_index_cache",
    "_dls_pq_codes_cache",
    "_dls_ivf_incr_cache",
)
# session attrs holding driver-side derived state (memoized nprobe counts,
# PQ codebooks, k-means centroids) — dropped so a corpus switch cannot
# serve stale index parameters; cheap to rebuild
_SESSION_STATE_CACHES = (
    "_dls_ivf_nprobe_cache",
    "_dls_pq_codebook_cache",
    "_dls_semdedup_cents",
)
# NOT released: _dls_bucketed_tables / _dls_compacted (markers for on-disk
# scratch artifacts, not executor memory) and _dls_orig_confs /
# _dls_pkg_shipped (session bookkeeping, not caches).


def track_lazy_persist(df):
    """Register a DataFrame an operator just ``persist()``-ed but cannot
    unpersist before returning (its result is lazy and still depends on
    it). Registered on the DataFrame's own session so
    :func:`release_caches` drains only that session's entries."""
    sess = df.sparkSession
    lst = getattr(sess, _LAZY_PERSIST_ATTR, None)
    if lst is None:
        lst = []
        setattr(sess, _LAZY_PERSIST_ATTR, lst)
    lst.append(df)
    return df


def release_caches(spark: SparkSession) -> dict[str, int]:
    """Unpersist every DataFrame this package persisted into ``spark`` and
    drop its driver-side memoized index state. Returns counts
    ``{"unpersisted": n, "dropped_state": m}``. Safe at any time: all
    released state is deterministic and rebuilt on next use."""
    unpersisted = 0
    for df in getattr(spark, _LAZY_PERSIST_ATTR, []):
        try:
            df.unpersist()
            unpersisted += 1
        except Exception:  # noqa: BLE001 — a dead session must not block release
            pass
    if hasattr(spark, _LAZY_PERSIST_ATTR):
        delattr(spark, _LAZY_PERSIST_ATTR)
    for attr in _SESSION_DF_CACHES:
        cache = getattr(spark, attr, None)
        if cache:
            for df in cache.values():
                try:
                    df.unpersist()
                    unpersisted += 1
                except Exception:  # noqa: BLE001
                    pass
        if hasattr(spark, attr):
            delattr(spark, attr)
    dropped = 0
    for attr in _SESSION_STATE_CACHES:
        if hasattr(spark, attr):
            dropped += len(getattr(spark, attr) or {})
            delattr(spark, attr)
    return {"unpersisted": unpersisted, "dropped_state": dropped}


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver owns its own session; we can only set dynamic confs).

    UTC matters: every timestamp-producing query is compared against a
    DuckDB oracle whose timestamps are UTC-naive.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    return spark
