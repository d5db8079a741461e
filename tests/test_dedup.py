"""Dedup operators on planted duplicates (deterministic synthetic docs)."""

import pandas as pd
import pytest

from dask_lightgbm_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near-dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated document mentioning gradient boosted trees"),
        (5, BASE + " extra tail words appended here"),  # near-dup, longer
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 5  # 6 docs, one exact pair
    dup = [g for g in groups if g.n_copies == 2]
    assert len(dup) == 1 and dup[0].keep_id == 0


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_neardup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs  # single-word edit
    assert not any({a, b} & {3, 4} and {a, b} != {3, 4} for a, b in pairs)


def test_simhash_identical_and_near(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sig[0] == sig[1]  # identical text → identical simhash
    ham02 = bin(sig[0] ^ sig[2]).count("1")
    ham03 = bin(sig[0] ^ sig[3]).count("1")
    assert ham02 < ham03  # near-dup closer than unrelated


def test_simhash_blocked_pairs_match_bruteforce(docs):
    """Pigeonhole blocking must find exactly the all-pairs result."""
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    brute = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 10
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    }
    assert blocked == brute


def test_ngram_jaccard_symmetric_bounds(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.0).collect()
    for r in out:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.id_a < r.id_b
    exact = [r for r in out if (r.id_a, r.id_b) == (0, 1)]
    assert exact and exact[0].jaccard == 1.0


def test_connected_components_chain(spark):
    """Chain a-b, b-c, isolated d: one component {a,b,c} labeled min, d its
    own (transitivity that pairwise near-dup output alone can't express)."""
    import pandas as pd

    from dask_lightgbm_spark.operators.components import connected_components

    edges = spark.createDataFrame(pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]}))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11]}))
    out = {r.doc_id: r.component for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10}


def test_connected_components_deep_path_bounded_driver_cost(spark):
    """A 16-node path is the iteration-count worst case (diameter 15 → 16
    rounds): each round's plan references the previous labels twice, so
    WITHOUT per-round lineage truncation the plan tree doubles per round
    and the per-count listener plan-string walk goes exponential (~2^16
    subtree visits — this exact shape once pinned a full-suite run for
    >14 min of driver CPU). With checkpointing the whole run is seconds;
    the generous wall bound trips only on an exponential regression."""
    import time

    import pandas as pd

    from dask_lightgbm_spark.operators.components import connected_components

    n = 16
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    t0 = time.monotonic()
    out = {r.doc_id: r.component for r in connected_components(edges, nodes).collect()}
    elapsed = time.monotonic() - t0
    assert out == {i: 0 for i in range(n)}
    assert elapsed < 120, f"deep-path components took {elapsed:.0f}s — lineage growth?"


def test_connected_components_reliable_checkpoint_branch(spark, tmp_path):
    """With a checkpoint dir set, per-round truncation takes the RELIABLE
    checkpoint path (the production-scale configuration — survives executor
    loss); results must be identical and checkpoint files must appear."""
    import os

    import pandas as pd

    from dask_lightgbm_spark.operators.components import connected_components

    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    sc.setCheckpointDir(ckpt)
    try:
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
        )
        nodes = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11]}))
        out = {
            r.doc_id: r.component for r in connected_components(edges, nodes).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10}
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "reliable checkpoint dir set but no checkpoint files written"
        # superseded rounds' files are deleted after convergence (Spark
        # never deletes reliable checkpoints itself by default — without
        # this, an iterating service accumulates unbounded disk): exactly
        # ONE rdd-* dir (the final labels) may remain
        rdd_dirs = [
            d
            for root, dirs, _ in os.walk(ckpt)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) == 1, (
            f"expected only the final round's checkpoint to survive, "
            f"found {sorted(rdd_dirs)}"
        )
    finally:
        # don't leak a tmp checkpoint dir into the session-scoped fixture:
        # later tests must take the localCheckpoint branch again
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_short_and_empty_docs_ansi_safe_and_oracle_parity(spark):
    """Docs shorter than k_shingle (incl. empty) must not throw under ANSI
    mode (Spark 4 default) and must produce bit-identical minhash signatures
    to the DuckDB oracle, which computes ascii('')=0 for positions past the
    end of the text."""
    import duckdb
    import pandas as pd

    from dask_lightgbm_spark.functions.hashing import (
        MINHASH_COEF,
        MINHASH_PRIME,
        sql_poly_shingle_hash,
    )

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["", "ab", "abcd", "abcdefgh"]}
    )
    k, num_perm = 5, 4
    sdf = spark.createDataFrame(pdf)
    spark_sig = (
        dedup.minhash_signatures(sdf, "doc_id", "text", k_shingle=k, num_perm=num_perm)
        .orderBy("doc_id")
        .toPandas()
    )

    mins = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MINHASH_PRIME})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEF[:num_perm])
    )
    oracle = duckdb.sql(
        f"""
        WITH arr AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - {k - 1}, 1)),
                   g -> {sql_poly_shingle_hash('text', 'g', k)})) AS hs
          FROM pdf)
        SELECT doc_id, {mins} FROM arr ORDER BY doc_id
        """
    ).df()
    pd.testing.assert_frame_equal(
        spark_sig.astype("int64"), oracle.astype("int64"), check_names=False
    )

    # the full LSH pipeline must also survive short docs ("" vs "ab" etc.)
    out = dedup.minhash_lsh_neardup(
        sdf, "doc_id", "text", k_shingle=k, num_perm=8, band_size=2, threshold=0.9
    ).collect()
    assert isinstance(out, list)


def test_ngram_jaccard_guard_refuses_unbounded_input(spark):
    """The exact all-pairs operator refuses corpus-sized inputs (quadratic
    per hot shingle) unless max_rows is explicitly disabled — a 100 TB user
    cannot invoke the O(n^2) plan without reading the warning."""
    import pandas as pd
    import pytest

    from dask_lightgbm_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(30), "text": ["abcabc"] * 30})
    )
    with pytest.raises(ValueError, match="minhash_lsh_neardup"):
        ngram_jaccard_pairs(df, "doc_id", "text", max_rows=10)
    # explicit opt-out still works on bounded sets
    assert ngram_jaccard_pairs(df, "doc_id", "text", max_rows=None).count() > 0


def test_lsh_bucket_cap_salting(spark):
    """Duplicate-heavy corpus: 60 identical docs collapse into one hot
    band-bucket per band (m^2 pair formation on one reducer in the plain
    join). With bucket_cap the bucket splits into hash groups salted over
    (group_a, group_b) sub-joins — pair set identical, and the group count
    matches ceil(m/cap) so expected group size is the cap (hash splitting
    needs only a linear count aggregate; an exact-rank split would sort
    the hot bucket on one task)."""
    from pyspark.sql import functions as F

    from dask_lightgbm_spark.operators.dedup import (
        _band_views,
        minhash_lsh_neardup,
        minhash_signatures,
    )

    rows = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(60)]
    rows += [
        (
            100 + i,
            f"totally different document number {i} alpha{i} beta{i} gamma{i} "
            f"delta{i} epsilon{i} zeta{i} eta{i} theta{i}",
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = {(r.id_a, r.id_b) for r in minhash_lsh_neardup(df, "doc_id", "text").collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_neardup(df, "doc_id", "text", bucket_cap=8).collect()
    }
    assert capped == base
    assert len(base) >= 60 * 59 // 2  # every identical pair found

    # bound check: the hash split produces ceil(m/cap) groups per bucket,
    # so expected group size is the cap; with 60 identical docs and cap=8
    # that is 8 groups of ~7.5 — assert no group blows past 2x the cap
    # (hash variance) and that the hot bucket genuinely split
    bands = _band_views(minhash_signatures(df, "doc_id", "text"), "doc_id", 16, 4)
    bvs = ["band"] + [f"bv{j}" for j in range(4)]
    ng = bands.groupBy(*bvs).agg(F.expr("(count(*) + 7) div 8").alias("__ng"))
    sizes = (
        bands.join(ng, bvs)
        .withColumn("__g", F.pmod(F.hash(F.col("doc_id")), F.col("__ng")))
        .groupBy(*bvs, "__g")
        .count()
        .agg(F.max("count").alias("mx"), F.max("__g").alias("gmax"))
        .first()
    )
    assert sizes.gmax >= 1, "hot bucket must actually split"
    assert sizes.mx <= 16

    with pytest.raises(ValueError, match="bucket_cap"):
        minhash_lsh_neardup(df, "doc_id", "text", bucket_cap=0)


def test_match_against_bucket_cap(spark):
    """Two-sided ingest dedup with a viral corpus template: 50 identical
    corpus docs share every band bucket. With bucket_cap the corpus side
    hash-splits and the new side fans out over the groups — match set
    identical to the uncapped join."""
    from dask_lightgbm_spark.operators.dedup import minhash_lsh_match_against

    corpus = [(i, "viral template text repeated across the entire corpus body") for i in range(50)]
    corpus += [(60 + i, f"corpus only document {i} with its own words {i}") for i in range(10)]
    new = [(1000, "viral template text repeated across the entire corpus body")]
    new += [(1001, "a fresh never seen before document about gardens")]
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    ndf = spark.createDataFrame(new, ["doc_id", "text"])
    base = {
        (r.new_id, r.corpus_id)
        for r in minhash_lsh_match_against(ndf, cdf, "doc_id", "text").collect()
    }
    capped = {
        (r.new_id, r.corpus_id)
        for r in minhash_lsh_match_against(
            ndf, cdf, "doc_id", "text", bucket_cap=8
        ).collect()
    }
    assert capped == base
    assert {c for _, c in base} >= set(range(50))  # the viral pile matched
    assert all(n == 1000 for n, _ in base)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket_cap"):
        minhash_lsh_match_against(ndf, cdf, "doc_id", "text", bucket_cap=0)


def test_match_against_persisted_index_roundtrip(spark, tmp_path):
    """The production ingest shape: build the corpus band index ONCE,
    round-trip BOTH index tables through parquet, and match a new batch
    against the STORED index — the match set (ids and jaccard values)
    must be bit-identical to the recompute-from-text path, with and
    without bucket_cap. This is the artifact the t40 docstring promises
    ('at scale the corpus band table is read, not recomputed') and the
    t40_indexed bench leg times."""
    from dask_lightgbm_spark.operators.dedup import (
        build_minhash_band_index,
        minhash_lsh_match_against,
        minhash_lsh_match_against_index,
    )

    corpus = [
        (i, f"corpus document number {i} about {'apples' if i % 3 else 'pears'} and markets")
        for i in range(40)
    ] + [(100 + i, "viral template text repeated across the entire corpus body") for i in range(12)]
    new = [
        (1000, "viral template text repeated across the entire corpus body"),
        (1001, "corpus document number 7 about apples and markets"),
        (1002, "a fresh never seen before document about gardens"),
    ]
    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    ndf = spark.createDataFrame(new, ["doc_id", "text"])

    bands, verify = build_minhash_band_index(cdf, "doc_id", "text")
    bands.write.parquet(str(tmp_path / "bands.parquet"))
    verify.write.parquet(str(tmp_path / "verify.parquet"))
    bands_r = spark.read.parquet(str(tmp_path / "bands.parquet"))
    verify_r = spark.read.parquet(str(tmp_path / "verify.parquet"))

    def norm(df):
        return {
            (r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in df.collect()
        }

    for cap in (None, 8):
        base = norm(
            minhash_lsh_match_against(ndf, cdf, "doc_id", "text", bucket_cap=cap)
        )
        stored = norm(
            minhash_lsh_match_against_index(
                ndf, bands_r, verify_r, "doc_id", "text", bucket_cap=cap
            )
        )
        assert stored == base, (cap, stored ^ base)
    assert {(n, c) for n, c, _ in base} >= {(1000, 100 + i) for i in range(12)}
    assert (1001, 7) in {(n, c) for n, c, _ in base}


def test_match_against_streaming_corpus_index_skips_prefilter(spark, tmp_path):
    """A batch new batch against a STREAMING corpus band index must take
    the un-filtered verify plan: the candidate set then derives from a
    stream, and persisting it (the batch-only pre-filter) raises. The
    drained stream's match set equals the batch index's."""
    from dask_lightgbm_spark.operators.dedup import (
        build_minhash_band_index,
        minhash_lsh_match_against_index,
    )

    cdf = spark.createDataFrame(
        [(i, f"corpus document number {i} about rivers and lakes") for i in range(12)],
        ["doc_id", "text"],
    )
    ndf = spark.createDataFrame(
        [(100, "corpus document number 7 about rivers and lakes")], ["doc_id", "text"]
    )
    bands, verify = build_minhash_band_index(cdf, "doc_id", "text")
    bands.write.parquet(str(tmp_path / "bands"))
    bands_batch = spark.read.parquet(str(tmp_path / "bands"))
    bands_stream = spark.readStream.schema(bands_batch.schema).parquet(
        str(tmp_path / "bands")
    )
    out = minhash_lsh_match_against_index(
        ndf, bands_stream, verify, "doc_id", "text", _validate_index=False
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("match_stream_corpus")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in spark.sql("SELECT * FROM match_stream_corpus").collect()
    }
    want = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in minhash_lsh_match_against_index(
            ndf, bands_batch, verify, "doc_id", "text", _validate_index=False
        ).collect()
    }
    assert got == want and (100, 7, 1.0) in got


def test_match_against_index_param_mismatch_errors(spark, tmp_path):
    """An index built with one (num_perm, band_size) queried with another
    must raise, not silently return zero matches (r12 advisor, medium):
    with matching band_size but different num_perm, zip_with over
    different-length sigarr columns yields NULL match counts and the
    est_min_matches filter would drop every candidate."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import (
        build_minhash_band_index,
        minhash_lsh_match_against_index,
    )

    cdf = spark.createDataFrame(
        [(i, f"corpus document {i} about rivers and bridges") for i in range(8)],
        ["doc_id", "text"],
    )
    ndf = spark.createDataFrame(
        [(100, "corpus document 3 about rivers and bridges")], ["doc_id", "text"]
    )
    bands, verify = build_minhash_band_index(
        cdf, "doc_id", "text", num_perm=16, band_size=4
    )
    bands.write.parquet(str(tmp_path / "bands.parquet"))
    verify.write.parquet(str(tmp_path / "verify.parquet"))
    bands_r = spark.read.parquet(str(tmp_path / "bands.parquet"))
    verify_r = spark.read.parquet(str(tmp_path / "verify.parquet"))

    # the silent-zero-matches case: same band layout, different num_perm
    with pytest.raises(ValueError, match="num_perm"):
        minhash_lsh_match_against_index(
            ndf, bands_r, verify_r, "doc_id", "text", num_perm=8, band_size=4
        )
    # layout mismatch: different band_size (bv columns disagree)
    with pytest.raises(ValueError, match="band"):
        minhash_lsh_match_against_index(
            ndf, bands_r, verify_r, "doc_id", "text", num_perm=16, band_size=8
        )
    # matching params still work
    ok = minhash_lsh_match_against_index(
        ndf, bands_r, verify_r, "doc_id", "text", num_perm=16, band_size=4
    )
    got = {(r.new_id, r.corpus_id) for r in ok.collect()}
    # the near-identical corpus docs legitimately match each other too;
    # the pinned fact is: no error, and the exact duplicate is found
    assert (100, 3) in got, got


def test_band_index_incremental_append(spark, tmp_path):
    """The full continuous-ingest loop: build the index on corpus A, match
    batch B against it (misses B-only dups), APPEND B's rows to the stored
    index, then match batch C — C must now match against BOTH A and B, and
    the A-side results must be unchanged by the append."""
    from dask_lightgbm_spark.operators.dedup import (
        append_to_band_index,
        build_minhash_band_index,
        minhash_lsh_match_against_index,
    )

    corpus_a = [(i, f"original corpus document {i} about rivers and bridges") for i in range(20)]
    batch_b = [(100, "a brand new template that batch c will duplicate later")]
    batch_c = [
        (200, "a brand new template that batch c will duplicate later"),  # dup of B
        (201, "original corpus document 3 about rivers and bridges"),      # dup of A
        (202, "entirely novel content never seen in any prior batch"),
    ]
    adf = spark.createDataFrame(corpus_a, ["doc_id", "text"])
    bdf = spark.createDataFrame(batch_b, ["doc_id", "text"])
    cdf = spark.createDataFrame(batch_c, ["doc_id", "text"])

    idx = str(tmp_path / "idx")
    bands, verify = build_minhash_band_index(adf, "doc_id", "text")
    bands.write.parquet(f"{idx}/bands.parquet")
    verify.write.parquet(f"{idx}/verify.parquet")

    def match(batch):
        return {
            (r.new_id, r.corpus_id)
            for r in minhash_lsh_match_against_index(
                batch,
                spark.read.parquet(f"{idx}/bands.parquet"),
                spark.read.parquet(f"{idx}/verify.parquet"),
                "doc_id",
                "text",
            ).collect()
        }

    # B matches nothing in A; admit it, append its rows
    assert match(bdf) == set()
    append_to_band_index(bdf, idx, "doc_id", "text")

    got = match(cdf)
    assert (200, 100) in got, got       # cross-batch dup caught post-append
    assert (201, 3) in got, got         # original corpus still matched
    assert not any(n == 202 for n, _ in got), got  # novel doc stays clean


def test_band_index_compaction_many_batches(spark, tmp_path):
    """The growth story compaction exists for (r12 verdict #5): N ingest
    appends leave the stored index as N file-sets; compact_band_index
    rewrites both tables to a bounded file count, and the match results
    are BIT-identical before/after — compaction is a physical-layout
    change with zero semantic content (the s28 contract, applied to the
    band index)."""
    from dask_lightgbm_spark.operators.dedup import (
        append_to_band_index,
        build_minhash_band_index,
        compact_band_index,
        minhash_lsh_match_against_index,
    )

    adf = spark.createDataFrame(
        [(i, f"seed corpus document {i} about rivers and bridges") for i in range(10)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    bands, verify = build_minhash_band_index(adf, "doc_id", "text")
    bands.write.parquet(f"{idx}/bands.parquet")
    verify.write.parquet(f"{idx}/verify.parquet")

    # six ingest batches, each with one doc a later probe will match
    for b in range(6):
        batch = spark.createDataFrame(
            [
                (100 + 2 * b, f"unique template number {b} planted by batch {b}"),
                (101 + 2 * b, f"filler text for batch {b} about unrelated topics"),
            ],
            ["doc_id", "text"],
        )
        append_to_band_index(batch, idx, "doc_id", "text")

    probe = spark.createDataFrame(
        [
            (900, "unique template number 4 planted by batch 4"),  # from an append
            (901, "seed corpus document 7 about rivers and bridges"),  # from build
            (902, "entirely novel content matching nothing at all"),
        ],
        ["doc_id", "text"],
    )

    def match():
        return {
            (r.new_id, r.corpus_id, round(r.jaccard, 12))
            for r in minhash_lsh_match_against_index(
                probe,
                spark.read.parquet(f"{idx}/bands.parquet"),
                spark.read.parquet(f"{idx}/verify.parquet"),
                "doc_id",
                "text",
            ).collect()
        }

    before = match()
    assert any(n == 900 and c == 108 for n, c, _ in before), before
    assert any(n == 901 and c == 7 for n, c, _ in before), before
    assert not any(n == 902 for n, c, _ in before), before

    stats = compact_band_index(spark, idx, target_files=2)
    # 1 build + 6 appends = at least 7 file-sets per table pre-compaction
    assert stats["bands_files_before"] >= 7, stats
    assert stats["verify_files_before"] >= 7, stats
    assert stats["bands_files_after"] <= 2, stats
    assert stats["verify_files_after"] <= 2, stats
    assert match() == before  # bit-identical match set on the compacted index

    # the lifecycle continues: post-compaction appends still land
    append_to_band_index(
        spark.createDataFrame(
            [(300, "post compaction template for the final probe")],
            ["doc_id", "text"],
        ),
        idx,
        "doc_id",
        "text",
    )
    late = spark.createDataFrame(
        [(950, "post compaction template for the final probe")], ["doc_id", "text"]
    )
    got = {
        (r.new_id, r.corpus_id)
        for r in minhash_lsh_match_against_index(
            late,
            spark.read.parquet(f"{idx}/bands.parquet"),
            spark.read.parquet(f"{idx}/verify.parquet"),
            "doc_id",
            "text",
        ).collect()
    }
    assert (950, 300) in got, got


def _tiny_index(spark, idx):
    from dask_lightgbm_spark.operators.dedup import write_band_index

    adf = spark.createDataFrame(
        [(i, f"seed corpus document {i} about rivers and bridges") for i in range(8)],
        ["doc_id", "text"],
    )
    write_band_index(adf, idx, "doc_id", "text")
    return adf


def test_band_index_single_writer_lock(spark, tmp_path):
    """r13 advisor (medium): append and compact are mutually exclusive via
    an atomically-created lock marker — a second writer fails LOUDLY
    instead of silently losing rows to a concurrent compaction swap."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import (
        _INDEX_LOCK,
        append_to_band_index,
        compact_band_index,
    )

    idx = str(tmp_path / "idx")
    _tiny_index(spark, idx)
    batch = spark.createDataFrame([(100, "some new admitted text")], ["doc_id", "text"])

    # simulate a writer holding the lock (or a crashed one's leftover)
    lock = tmp_path / "idx" / _INDEX_LOCK
    lock.touch()
    with pytest.raises(RuntimeError, match="locked by another writer"):
        append_to_band_index(batch, idx, "doc_id", "text")
    with pytest.raises(RuntimeError, match="locked by another writer"):
        compact_band_index(spark, idx, target_files=1)
    lock.unlink()

    # lock released -> both proceed, and neither leaves the marker behind
    append_to_band_index(batch, idx, "doc_id", "text")
    assert not lock.exists()
    compact_band_index(spark, idx, target_files=1)
    assert not lock.exists()


def test_band_index_manifest_refuses_mixed_params(spark, tmp_path):
    """The manifest written at build time makes a mixed-num_perm index
    unconstructible through the API: an append with different LSH params
    raises at WRITE time (r13 advisor: the match-time probe used to be
    the only guard, and a single-row probe cannot see mixed batches)."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import append_to_band_index

    idx = str(tmp_path / "idx")
    _tiny_index(spark, idx)  # writes manifest with num_perm=16, band_size=4
    batch = spark.createDataFrame([(100, "some new admitted text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="mixed-param"):
        append_to_band_index(batch, idx, "doc_id", "text", num_perm=8)
    with pytest.raises(ValueError, match="mixed-param"):
        append_to_band_index(batch, idx, "doc_id", "text", band_size=8)
    # matching params append cleanly
    append_to_band_index(batch, idx, "doc_id", "text")


def test_band_index_legacy_gets_manifest_on_first_append(spark, tmp_path):
    """Indices written before the manifest existed (bare parquet writes)
    get one stamped by their first locked append, with the params that
    append used — later mismatched appends then fail loudly."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import (
        _INDEX_MANIFEST,
        append_to_band_index,
        build_minhash_band_index,
    )

    adf = spark.createDataFrame(
        [(i, f"legacy corpus doc {i} text body") for i in range(5)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    bands, verify = build_minhash_band_index(adf, "doc_id", "text")
    bands.write.parquet(f"{idx}/bands.parquet")
    verify.write.parquet(f"{idx}/verify.parquet")
    assert not (tmp_path / "idx" / _INDEX_MANIFEST).exists()

    batch = spark.createDataFrame([(50, "an admitted doc")], ["doc_id", "text"])
    append_to_band_index(batch, idx, "doc_id", "text")
    assert (tmp_path / "idx" / _INDEX_MANIFEST).exists()
    with pytest.raises(ValueError, match="mixed-param"):
        append_to_band_index(batch, idx, "doc_id", "text", num_perm=8)


def test_match_probe_detects_mixed_num_perm(spark):
    """r13 advisor (low): the match-time validation aggregates min AND max
    sigarr length in one job, so an index holding batches with MIXED
    num_perm — single-row probes pass it — fails loudly, naming both."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import (
        build_minhash_band_index,
        minhash_lsh_match_against_index,
    )

    adf = spark.createDataFrame(
        [(i, f"corpus doc {i} about rivers") for i in range(4)], ["doc_id", "text"]
    )
    b16, v16 = build_minhash_band_index(adf, "doc_id", "text", num_perm=16, band_size=4)
    b8, v8 = build_minhash_band_index(adf, "doc_id", "text", num_perm=8, band_size=4)
    mixed_bands = b16.unionByName(b8)
    mixed_verify = v16.unionByName(v8)
    probe = spark.createDataFrame([(100, "corpus doc 1 about rivers")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="MIXED"):
        minhash_lsh_match_against_index(
            probe, mixed_bands, mixed_verify, "doc_id", "text", num_perm=16
        )


def test_compaction_crash_recovery_and_tmp_cleanup(spark, tmp_path):
    """Crash-safety contract (r13 advisor): (a) a .precompact aside left by
    a crash with NO live table is restored on the next compaction — the
    old delete-then-rename order had a window with zero live copies; (b) a
    failed rewrite deletes its .compacting tmp instead of accumulating
    stale dirs a glob would pick up."""
    import shutil

    from dask_lightgbm_spark.operators.dedup import compact_band_index

    idx = str(tmp_path / "idx")
    _tiny_index(spark, idx)
    rows_before = spark.read.parquet(f"{idx}/bands.parquet").count()

    # simulate a crash mid-swap: live bands renamed aside, process died
    shutil.move(f"{idx}/bands.parquet", f"{idx}/bands.parquet.precompact")
    stats = compact_band_index(spark, idx, target_files=1)
    assert stats["bands_files_after"] <= 1
    assert spark.read.parquet(f"{idx}/bands.parquet").count() == rows_before
    assert not (tmp_path / "idx" / "bands.parquet.precompact").exists()
    # and a stale aside NEXT to a live table is dropped, not restored
    shutil.copytree(
        f"{idx}/verify.parquet", f"{idx}/verify.parquet.precompact"
    )
    compact_band_index(spark, idx, target_files=1)
    assert not (tmp_path / "idx" / "verify.parquet.precompact").exists()


def test_maybe_compact_band_index_trigger(spark, tmp_path):
    """r13 verdict #7: the size-based scheduling hook. Under the threshold
    it is a pure FS listing (returns None, index untouched); once append
    fragmentation pushes the file count past trigger_ratio x the
    byte-proportional ideal, it compacts to that ideal — no human in the
    loop. Match results are unchanged either way (compaction is layout-
    only, pinned above)."""
    from dask_lightgbm_spark.operators.dedup import (
        append_to_band_index,
        maybe_compact_band_index,
    )

    idx = str(tmp_path / "idx")
    _tiny_index(spark, idx)
    # tiny index, generous threshold -> no trigger
    assert maybe_compact_band_index(spark, idx, min_files=1000) is None

    for b in range(16):
        append_to_band_index(
            spark.createDataFrame(
                [(100 + b, f"batch {b} admitted document text")],
                ["doc_id", "text"],
            ),
            idx, "doc_id", "text",
        )
    n_files = len(spark.read.parquet(f"{idx}/bands.parquet").inputFiles())
    assert n_files >= 17  # build + 16 appends fragmented the table
    # trigger: byte-proportional ideal is 1 file (tiny table); 9+ files
    # exceeds trigger_ratio*1 once min_files allows
    stats = maybe_compact_band_index(spark, idx, trigger_ratio=4.0, min_files=4)
    assert stats is not None
    assert stats["bands_files_after"] <= 1, stats
    # immediately after compaction: back under threshold
    assert maybe_compact_band_index(spark, idx, trigger_ratio=4.0, min_files=4) is None


def test_maybe_compact_defers_on_held_lock(spark, tmp_path):
    """r14 advisor (low): when the trigger fires while another writer holds
    the single-writer lock, the hands-off hook must DEFER (return None, let
    the next post-append call retry) rather than crash the ingest loop.
    Direct compact_band_index still refuses loudly — only the scheduling
    wrapper absorbs contention."""
    import pytest

    from dask_lightgbm_spark.operators.dedup import (
        BandIndexLockedError,
        append_to_band_index,
        compact_band_index,
        maybe_compact_band_index,
    )

    idx = str(tmp_path / "idx")
    _tiny_index(spark, idx)
    for b in range(8):
        append_to_band_index(
            spark.createDataFrame(
                [(200 + b, f"lock batch {b} admitted document text")],
                ["doc_id", "text"],
            ),
            idx, "doc_id", "text",
        )
    # simulate a concurrent writer: the lock marker exists
    lock = tmp_path / "idx" / "_COMPACT_LOCK"
    if not lock.exists():  # name comes from _INDEX_LOCK; resolve dynamically
        from dask_lightgbm_spark.operators.dedup import _INDEX_LOCK

        lock = tmp_path / "idx" / _INDEX_LOCK
    lock.touch()
    try:
        # deferral: trigger would fire (threshold forced low) but lock held
        assert (
            maybe_compact_band_index(spark, idx, trigger_ratio=1.0, min_files=1)
            is None
        )
        # the explicit API keeps its loud refusal (typed, catchable)
        with pytest.raises(BandIndexLockedError, match="locked by"):
            compact_band_index(spark, idx, target_files=1)
    finally:
        lock.unlink()
    # lock released -> the very next scheduled call compacts for real
    stats = maybe_compact_band_index(spark, idx, trigger_ratio=1.0, min_files=1)
    assert stats is not None and stats["bands_files_after"] <= 1, stats
