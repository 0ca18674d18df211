"""Persistent IVF vector index: build/probe parity with the per-run e02
path, file pruning on probe, and O(new) incremental extension."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ducktales_spark.lake import LakeCatalog
from ducktales_spark.queries.similarity import (
    as_double,
    assign_buckets,
    n_centroids_for,
    probe_assigned,
    probe_lookup,
)
from ducktales_spark.vector_index import (
    build_vector_index,
    extend_vector_index,
    probe_vector_index,
)


@pytest.fixture()
def vectors(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", as_double(F.col("embedding")).alias("e"))
    )


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rnk) for r in df.collect()
    )


def test_index_probe_matches_per_run_ivf(spark, tmp_path, vectors):
    """Probing the persisted index returns exactly the per-run e02 IVF
    answer (same centroids, same probes, same ranking)."""
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    C = build_vector_index(lake, "emb_idx", vectors)
    assert C == n_centroids_for(vectors)

    queries = vectors.filter(F.col("vec_id") < 5).toPandas()
    got = probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4)

    cpdf = vectors.filter(F.col("vec_id") < C).orderBy("vec_id").toPandas()
    expected = probe_assigned(
        assign_buckets(vectors, C, centroids=cpdf),
        probe_lookup(queries, cpdf, 4),
        10,
    )
    assert _rows(got) == _rows(expected)


def test_probe_prunes_index_files(spark, tmp_path, vectors):
    """The centroid_id IN (...) probe must hit a file-pruned scan: the
    clustered index write yields narrow per-file centroid ranges, so the
    probed read touches strictly fewer files than the full index."""
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    # at test SF the write is tiny and AQE coalesces the range partitions
    # into one file (right for 200 rows, wrong for the assertion): pin the
    # partitioning so the build produces the many-files layout a real
    # corpus gets
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        build_vector_index(lake, "emb_idx", vectors)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    all_files = set(lake.read("emb_idx").inputFiles())
    assert len(all_files) > 1, "clustered write should produce multiple files"
    queries = vectors.filter(F.col("vec_id") < 2).toPandas()
    cpdf = lake.read("emb_idx__centroids").orderBy("vec_id").toPandas()
    buckets = sorted(probe_lookup(queries, cpdf, 2))
    pruned = set(
        lake.read(
            "emb_idx",
            where="centroid_id IN (%s)" % ", ".join(map(str, buckets)),
        ).inputFiles()
    )
    assert pruned and pruned < all_files


def test_probe_never_collects_centroid_matrix(spark, tmp_path, vectors):
    """The probe path must hold only the query matrix driver-side: the
    centroid ranking runs distributed (query matrix broadcast into the
    Arrow kernel) and only (query_id, centroid_id) id PAIRS are collected —
    never a DataFrame carrying the C x dim vector column. Guards the
    10^12-scale driver-memory bound documented in vector_index.py."""
    from pyspark.sql import DataFrame

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "emb_idx", vectors)
    queries = vectors.filter(F.col("vec_id") < 3).toPandas()

    pulled_cols: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled_cols.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled_cols.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        probe_vector_index(lake, "emb_idx", queries, k=5, nprobe=3).collect()
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    vector_pulls = [c for c in pulled_cols[:-1] if "e" in c]
    assert not vector_pulls, f"probe collected vector columns: {vector_pulls}"


def test_extend_index_incremental(spark, tmp_path, vectors):
    """extend assigns only the new vectors under the frozen centroids; a
    probe over the extended index equals a probe over an index built from
    the union with the SAME centroid set (sqrt-N growth aside)."""
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    old = vectors.filter(F.col("vec_id") % 5 != 0)
    new = vectors.filter(F.col("vec_id") % 5 == 0)
    C = build_vector_index(lake, "emb_idx", old)
    v_before = lake.current_version()
    extend_vector_index(lake, "emb_idx", new)
    assert lake.current_version() == v_before + 1  # one append snapshot

    queries = pd.concat(
        [old.filter(F.col("vec_id") < 20).limit(3).toPandas()]
    )
    got = probe_vector_index(lake, "emb_idx", queries, k=5, nprobe=3)
    cpdf = lake.read("emb_idx__centroids").orderBy("vec_id").toPandas()
    expected = probe_assigned(
        assign_buckets(vectors, C, centroids=cpdf),
        probe_lookup(queries, cpdf, 3),
        5,
    )
    assert _rows(got) == _rows(expected)

    # time travel: the pre-extend index still answers from the old corpus
    got_old = probe_vector_index(
        lake, "emb_idx", queries, k=5, nprobe=3, version=v_before
    )
    ids_old = {r.neighbor_id for r in got_old.collect()}
    assert all(i % 5 != 0 for i in ids_old)


def test_remove_vectors_lifecycle(spark, tmp_path, vectors):
    """remove_vectors (the retire verb): deleted ids vanish from probes,
    the pre-delete index stays reachable via time travel, stats-derived
    bucket counts self-correct, extend-after-remove equals a rebuild from
    the surviving corpus under the same centroids, and the whole operation
    never pulls a vector column to the driver."""
    from pyspark.sql import DataFrame

    from ducktales_spark.vector_index import (
        _bucket_counts_from_stats,
        remove_vectors,
    )

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    C = build_vector_index(lake, "emb_idx", vectors)
    n0 = lake.read("emb_idx").count()
    v_before = lake.current_version()
    queries = vectors.filter(F.col("vec_id") < 3).toPandas()
    orig = _rows(probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4))

    # retire every 7th vector ABOVE the centroid range (seeds untouched, so
    # a rebuild from survivors picks the identical frozen centroid set)
    doomed = vectors.filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= C)
    ).select("vec_id")
    n_doomed = doomed.count()
    assert n_doomed > 0

    pulled: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        removed = remove_vectors(lake, "emb_idx", doomed)
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    assert removed == n_doomed
    assert not [c for c in pulled if "e" in c], f"pulled vectors: {pulled}"

    # counts: table shrank by exactly the removed rows; the stats-derived
    # bucket counts (when valid) sum to the new total
    assert lake.read("emb_idx").count() == n0 - n_doomed
    counts = _bucket_counts_from_stats(lake, "emb_idx", None)
    if counts is not None:
        assert sum(counts.values()) == n0 - n_doomed

    # probes exclude every deleted id; time travel before the delete
    # reproduces the pre-delete answer exactly
    got = probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4)
    gone = {r["vec_id"] for r in doomed.collect()}
    assert not gone & {r.neighbor_id for r in got.collect()}
    before = probe_vector_index(
        lake, "emb_idx", queries, k=10, nprobe=4, version=v_before
    )
    assert _rows(before) == orig

    # removing unknown ids is a no-op, list form accepted
    assert remove_vectors(lake, "emb_idx", [10**9, 10**9 + 1]) == 0

    # extend after remove == rebuild from survivors + new, same centroids
    survivors = vectors.join(doomed, "vec_id", "left_anti")
    new = vectors.filter(F.col("vec_id") % 7 == 0).filter(
        F.col("vec_id") >= C
    ).withColumn("vec_id", F.col("vec_id") + 100000)
    extend_vector_index(lake, "emb_idx", new)
    lake2 = LakeCatalog(str(tmp_path / "lake2"), spark)
    build_vector_index(
        lake2, "emb_idx", survivors.unionByName(new), n_centroids=C
    )
    got = probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4)
    want = probe_vector_index(lake2, "emb_idx", queries, k=10, nprobe=4)
    assert _rows(got) == _rows(want)


def test_int8_quantization_roundtrip_and_recall(spark, tmp_path, vectors):
    """quantize_vectors: exact int8 round-trip invariants (codes bounded,
    |e_i - q_i*scale| <= scale/2, zero vectors stay zero), >= 4x smaller
    on disk than the raw doubles, all-JVM (no Python stages), and
    top-k cosine over the DEQUANTIZED corpus keeps recall@10 >= 0.9
    against the exact answer — the storage-format contract."""
    from ducktales_spark.queries.similarity import _np, _topk, cosine_scores
    from ducktales_spark.vector_index import (
        dequantize_vectors,
        quantize_vectors,
    )

    q = quantize_vectors(vectors)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # transform/aggregate stay codegen
    joined = (
        vectors.alias("a")
        .join(q.alias("b"), "vec_id")
        .select("a.e", "b.q", "b.scale")
    )
    bad = joined.selectExpr(
        "exists(q, x -> x > 127 OR x < -127) AS oob",
        "exists(arrays_zip(e, q), p -> "
        "abs(p.e - p.q * scale) > scale / 2 + 1e-12) AS drift",
    ).filter("oob OR drift")
    assert bad.count() == 0
    # zero vector edge
    z = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id bigint, e array<double>")
    zq = quantize_vectors(z).first()
    assert zq["scale"] == 0.0 and list(zq["q"]) == [0, 0]
    # dirty vectors (NaN / Infinity) become explicit NULLs, never a
    # job-aborting ANSI cast overflow; clean rows in the same frame survive
    dirty = spark.createDataFrame(
        [
            (1, [1.0, float("nan"), 2.0], "x"),
            (2, [1.0, float("inf")], "y"),
            (3, [1.0, -2.0], "z"),
            # NULL element: greatest() skips nulls so the max-abs stays
            # finite — without its own dirty check this row would carry a
            # null CODE inside q and poison dot products downstream
            (4, [1.0, None, 2.0], "w"),
        ],
        "vec_id bigint, e array<double>, tag string",
    )
    dq = {r["vec_id"]: r for r in quantize_vectors(dirty).collect()}
    assert dq[1]["q"] is None and dq[1]["scale"] is None
    assert dq[2]["q"] is None and dq[2]["scale"] is None
    assert list(dq[3]["q"]) == [64, -127] and dq[3]["tag"] == "z"
    assert dq[4]["q"] is None and dq[4]["scale"] is None
    # non-contract columns (tag) round-trip through both faces
    back = {
        r["vec_id"]: r
        for r in dequantize_vectors(
            quantize_vectors(dirty).filter("q IS NOT NULL")
        ).collect()
    }
    assert back[3]["tag"] == "z" and abs(back[3]["e"][1] + 2.0) < 0.02
    # storage: int8 codes at least 4x smaller than the double corpus
    import os

    raw_dir, q_dir = str(tmp_path / "raw"), str(tmp_path / "quant")
    vectors.write.parquet(raw_dir)
    q.write.parquet(q_dir)

    def _bytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert _bytes(q_dir) * 4 <= _bytes(raw_dir)
    # recall@10 of brute-force top-k over the dequantized corpus
    queries = vectors.filter(F.col("vec_id") < 10).toPandas()
    qids, Q = queries["vec_id"].to_numpy(), _np(queries["e"])

    def _brute(corpus):
        return _topk(
            cosine_scores(corpus, qids, Q, local_k=10, drop_self=False), 10
        )

    exact = _brute(vectors)
    approx = _brute(dequantize_vectors(q))
    by_q_exact: dict = {}
    for r in exact.collect():
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    for r in approx.collect():
        tot += 1
        hits += r.neighbor_id in by_q_exact[r.query_id]
    assert tot and hits / tot >= 0.9, hits / tot


def test_compact_after_remove_keeps_probe_parity(spark, tmp_path, vectors):
    """Heavy delete churn fragments index files; lake.compact is the
    documented maintenance answer. After remove + compact the probe answer
    is unchanged, and the screening path's stats-derived bucket counts
    either stay exact or demote gracefully to the count-scan fallback
    (compacted files may span centroids)."""
    from ducktales_spark.vector_index import (
        _bucket_counts_from_stats,
        remove_vectors,
    )

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    C = build_vector_index(lake, "emb_idx", vectors)
    queries = vectors.filter(F.col("vec_id") < 3).toPandas()
    doomed = vectors.filter(
        (F.col("vec_id") % 3 == 0) & (F.col("vec_id") >= C)
    ).select("vec_id")
    removed = remove_vectors(lake, "emb_idx", doomed)
    assert removed > 0
    before = _rows(probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4))
    n_before = lake.read("emb_idx").count()

    lake.compact("emb_idx")
    assert lake.read("emb_idx").count() == n_before
    after = _rows(probe_vector_index(lake, "emb_idx", queries, k=10, nprobe=4))
    assert after == before
    counts = _bucket_counts_from_stats(lake, "emb_idx", None)
    if counts is not None:  # single-centroid files: counts must be exact
        assert sum(counts.values()) == n_before


def _mean_best_cos(vpdf, cpdf):
    import numpy as np

    E = np.array(vpdf["e"].tolist(), dtype=np.float64)
    C = np.array(cpdf["e"].tolist(), dtype=np.float64)
    S = (E @ C.T) / (
        np.linalg.norm(E, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    return float(np.max(np.round(S, 9), axis=1).mean())


def test_kmeans_refine_improves_quantization(spark, vectors):
    """Lloyd iterations under the probe's own cosine assignment must not
    worsen — and on arbitrary seeds should improve — the mean best-centroid
    cosine (the quantization quality that probe recall depends on)."""
    from ducktales_spark.vector_index import kmeans_refine
    from ducktales_spark.queries.similarity import n_centroids_for

    C = n_centroids_for(vectors)
    seed = vectors.filter(F.col("vec_id") < C).orderBy("vec_id").toPandas()
    refined = kmeans_refine(vectors, seed, iterations=3)
    assert len(refined) == C
    assert list(refined["vec_id"]) == list(seed["vec_id"])  # stable ids
    vpdf = vectors.toPandas()
    q_seed = _mean_best_cos(vpdf, seed)
    q_ref = _mean_best_cos(vpdf, refined)
    assert q_ref >= q_seed - 1e-9, (q_seed, q_ref)
    assert q_ref > q_seed, "refinement should move arbitrary seed centroids"


def test_probe_empty_query_set(spark, tmp_path, vectors):
    """An empty query frame short-circuits to an empty result with the
    probe output schema — not a malformed 'centroid_id IN ()' scan or an
    np.stack crash on the empty ranking."""
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "emb_idx", vectors)
    queries = vectors.filter(F.col("vec_id") < 0).toPandas()  # zero rows
    out = probe_vector_index(lake, "emb_idx", queries, k=5, nprobe=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rnk"]


def test_ingest_paths_never_collect_centroid_matrix(spark, tmp_path, vectors):
    """The per-ingest-batch paths (near-dup screening AND extend) must not
    pull the C x dim centroid matrix to the driver: assignment runs as the
    distributed cogroup kernel, so the only driver-side pulls carry no
    vector column. (Build-time paths may broadcast — documented bound.)"""
    from pyspark.sql import DataFrame

    from ducktales_spark.vector_index import neardup_against_index

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "emb_idx", vectors.filter(F.col("vec_id") < 150))
    new = vectors.filter(F.col("vec_id").between(150, 170)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "e"
    )

    pulled_cols: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled_cols.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled_cols.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        neardup_against_index(lake, "emb_idx", new, threshold=0.99).collect()
        extend_vector_index(lake, "emb_idx", new)
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    vector_pulls = [c for c in pulled_cols if "e" in c]
    assert not vector_pulls, f"ingest collected vector columns: {vector_pulls}"


def test_neardup_against_index(spark, tmp_path, vectors):
    """Incremental-ingest screening: a new batch containing exact copies of
    indexed vectors flags exactly those copies (cosine 1.0 against their
    originals); genuinely new directions flag nothing."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from ducktales_spark.vector_index import neardup_against_index

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    indexed = vectors.filter(F.col("vec_id") < 150)
    build_vector_index(lake, "emb_idx", indexed)

    dim = len(indexed.first()["e"])
    # two planted dups of indexed vectors 40 and 77, plus one orthogonal-ish
    # random direction far from the corpus
    dup_rows = [
        (1040, [float(x) for x in indexed.filter("vec_id = 40").first()["e"]]),
        (1077, [float(x) for x in indexed.filter("vec_id = 77").first()["e"]]),
    ]
    # alternating spike pattern is far from the testdata embeddings
    novel = [(2000, [1000.0 * (-1) ** i for i in range(dim)])]
    schema = StructType(
        [StructField("vec_id", LongType()),
         StructField("e", ArrayType(DoubleType()))]
    )
    new = spark.createDataFrame(dup_rows + novel, schema)
    got = neardup_against_index(lake, "emb_idx", new, threshold=0.999)
    pairs = {(r.vec_new, r.vec_indexed) for r in got.collect()}
    assert (1040, 40) in pairs and (1077, 77) in pairs
    assert all(n != 2000 for n, _ in pairs), pairs
    # every flagged pair is new x indexed, never indexed x indexed
    assert all(n >= 1000 and i < 150 for n, i in pairs)


def test_build_index_with_refinement_probes(spark, tmp_path, vectors):
    from ducktales_spark.vector_index import (
        build_vector_index,
        probe_vector_index,
    )

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "emb_idx", vectors, refine_iterations=2)
    queries = vectors.filter(F.col("vec_id") < 3).toPandas()
    got = probe_vector_index(lake, "emb_idx", queries, k=5, nprobe=4)
    rows = got.collect()
    assert len(rows) == 15
    assert all(r.rnk <= 5 for r in rows)


def test_two_level_index_parity_and_pruning(spark, tmp_path, vectors):
    """Two-level IVF (C forced above coarse_threshold): with coarse_nprobe
    covering every shard the probe must return EXACTLY the flat index's
    answer (the coarse level only prunes the centroid read, never changes
    index contents), and the fine-centroid read must be file-pruned to the
    probed shards."""
    # centroid table must exceed the inline threshold to get data FILES
    # (the pruning assertion below is about file skipping)
    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=8)
    flat = LakeCatalog(str(tmp_path / "flat"), spark, inline_threshold=8)
    C = 64
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        build_vector_index(lake, "emb2", vectors, n_centroids=C,
                           coarse_threshold=16)  # C=64 > 16 -> two-level
        build_vector_index(flat, "embf", vectors, n_centroids=C)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    n_coarse = 8  # ceil(sqrt(64))
    assert "emb2__coarse" in lake.tables()
    assert flat.read("embf__centroids").columns == ["vec_id", "e"]
    cent = lake.read("emb2__centroids")
    assert "coarse_id" in cent.columns
    # index contents identical to the flat build
    assert sorted(
        (r.vec_id, r.centroid_id) for r in lake.read("emb2").collect()
    ) == sorted(
        (r.vec_id, r.centroid_id) for r in flat.read("embf").collect()
    )
    queries = vectors.filter(F.col("vec_id") < 4).toPandas()
    got = probe_vector_index(
        lake, "emb2", queries, k=8, nprobe=3, coarse_nprobe=n_coarse
    )
    want = probe_vector_index(flat, "embf", queries, k=8, nprobe=3)
    assert _rows(got) == _rows(want)
    # centroid-table file pruning: one probed shard reads fewer files
    all_files = set(cent.inputFiles())
    assert len(all_files) > 1
    one = set(lake.read("emb2__centroids", where="coarse_id IN (0)")
              .inputFiles())
    assert one and one < all_files


def test_two_level_default_width_recall(spark, tmp_path, vectors):
    """At the default coarse width the two-level probe is approximate in
    WHICH fine buckets it ranks, but each returned neighbor must carry its
    exact cosine, and recall of the flat probe's answer stays high."""
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    flat = LakeCatalog(str(tmp_path / "flat"), spark)
    build_vector_index(lake, "emb2", vectors, n_centroids=64,
                       coarse_threshold=16)
    build_vector_index(flat, "embf", vectors, n_centroids=64)
    queries = vectors.filter(F.col("vec_id") < 8).toPandas()
    got = probe_vector_index(lake, "emb2", queries, k=8, nprobe=3)
    want = probe_vector_index(flat, "embf", queries, k=8, nprobe=3)

    def tops(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    g, w = tops(got), tops(want)
    recalls = [
        len(g.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in w.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # exact cosines: every returned pair matches the flat probe's value
    flat_sims = {
        (r.query_id, r.neighbor_id): r.cos_sim for r in want.collect()
    }
    for r in got.collect():
        key = (r.query_id, r.neighbor_id)
        if key in flat_sims:
            assert r.cos_sim == pytest.approx(flat_sims[key], abs=1e-9)


def test_two_level_extend_flat_parity(spark, tmp_path, vectors):
    """Coarse-routed extension (two-level index) with route_width covering
    every coarse shard must assign EXACTLY like the flat cogroup kernel —
    the routing only changes which centroids ship where, never the argmax
    (same 9-dp rounding, same lowest-id tie rule)."""
    from ducktales_spark.queries.similarity import assign_buckets_distributed

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "emb2", vectors.filter(F.col("vec_id") < 150),
                       n_centroids=64, coarse_threshold=16)
    new = vectors.filter(F.col("vec_id").between(150, 199)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "e"
    )
    extend_vector_index(lake, "emb2", new, route_width=8)  # 8 = all shards
    got = {
        r.vec_id: r.centroid_id
        for r in lake.read("emb2").filter("vec_id >= 10000").collect()
    }
    cent = lake.read("emb2__centroids").select("vec_id", "e")
    want = {
        r.vec_id: r.centroid_id
        for r in assign_buckets_distributed(new, cent).collect()
    }
    assert got == want and len(got) == 50


def test_two_level_ingest_paths_skip_flat_kernel(spark, tmp_path, vectors):
    """On a two-level index, extend AND screening must take the coarse-
    routed path — the flat kernel (which replicates all C fine centroids
    to every partition per batch) must not run. On a flat index it still
    must. Asserted by poisoning the flat kernel in the ingest module's
    namespace after build."""
    import ducktales_spark.vector_index as vi
    from ducktales_spark.vector_index import neardup_against_index

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    flat = LakeCatalog(str(tmp_path / "flat"), spark)
    corpus = vectors.filter(F.col("vec_id") < 150)
    build_vector_index(lake, "emb2", corpus, n_centroids=64,
                       coarse_threshold=16)
    build_vector_index(flat, "embf", corpus, n_centroids=64)
    new = vectors.filter(F.col("vec_id").between(150, 160)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "e"
    )

    def poisoned(*a, **k):
        raise AssertionError("flat kernel used on a two-level index")

    orig = vi.assign_buckets_distributed
    vi.assign_buckets_distributed = poisoned
    try:
        extend_vector_index(lake, "emb2", new)
        neardup_against_index(lake, "emb2", new, threshold=0.99).collect()
        with pytest.raises(AssertionError, match="flat kernel"):
            extend_vector_index(flat, "embf", new)
    finally:
        vi.assign_buckets_distributed = orig


def test_two_level_screen_finds_planted_dups(spark, tmp_path, vectors):
    """Default route_width: coarse-routed screening still flags planted
    exact duplicates of indexed vectors (the dup's route includes its
    original's shard — they share the embedding), and the coarse-routed
    ingest paths never pull a vector column to the driver (collect-spy,
    same contract as the flat ingest paths)."""
    from pyspark.sql import DataFrame

    from ducktales_spark.vector_index import neardup_against_index

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    indexed = vectors.filter(F.col("vec_id") < 150)
    build_vector_index(lake, "emb2", indexed, n_centroids=64,
                       coarse_threshold=16)
    dup_rows = [
        (1040, [float(x) for x in indexed.filter("vec_id = 40").first()["e"]]),
        (1077, [float(x) for x in indexed.filter("vec_id = 77").first()["e"]]),
    ]
    new = spark.createDataFrame(dup_rows, "vec_id bigint, e array<double>")

    pulled_cols: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled_cols.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled_cols.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        got = orig_collect(
            neardup_against_index(lake, "emb2", new, threshold=0.999)
        )
        extend_vector_index(lake, "emb2", new)
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    pairs = {(r.vec_new, r.vec_indexed) for r in got}
    assert (1040, 40) in pairs and (1077, 77) in pairs
    vector_pulls = [c for c in pulled_cols if "e" in c]
    assert not vector_pulls, f"ingest collected vector columns: {vector_pulls}"


def test_neardup_screen_salts_hot_buckets(spark, tmp_path, vectors):
    """Planted hot bucket: a duplicate-heavy index concentrates population
    in one IVF bucket; with a small hot_bucket_rows the screening input
    must fan that bucket out over >1 (bucket, salt) group — spreading the
    gram work across tasks — while the pair output stays IDENTICAL to the
    unsalted run."""
    from ducktales_spark.queries.similarity import (
        assign_buckets_distributed,
    )
    from ducktales_spark.vector_index import (
        _salted_screen_input,
        neardup_against_index,
    )

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    base = vectors.filter(F.col("vec_id") < 40)
    hot = vectors.filter(F.col("vec_id") == 3).first()["e"]
    clones = spark.createDataFrame(
        [(5000 + i, [float(x) for x in hot]) for i in range(60)],
        "vec_id bigint, e array<double>",
    )
    build_vector_index(
        lake, "emb_idx", base.unionByName(clones), n_centroids=8
    )
    new = spark.createDataFrame(
        [(9000, [float(x) for x in hot]),
         (9001, [float(-x) for x in hot])],
        "vec_id bigint, e array<double>",
    )
    # the salted input fans the clone bucket across multiple groups
    assigned_new = assign_buckets_distributed(
        new, lake.read("emb_idx__centroids")
    ).select("vec_id", "e", "centroid_id", F.lit(True).alias("is_new"))
    indexed = lake.read("emb_idx").select(
        "vec_id", "e", "centroid_id", F.lit(False).alias("is_new")
    )
    salted = _salted_screen_input(assigned_new, indexed, hot_bucket_rows=16)
    groups = (
        salted.filter(~F.col("is_new"))
        .select("centroid_id", "__salt")
        .distinct()
        .collect()
    )
    per_bucket: dict = {}
    for r in groups:
        per_bucket.setdefault(r.centroid_id, set()).add(r["__salt"])
    assert max(len(s) for s in per_bucket.values()) > 1, per_bucket
    # and every new row is replicated to each of its bucket's salts
    reps = (
        salted.filter("is_new AND vec_id = 9000")
        .select("centroid_id", "__salt")
        .collect()
    )
    assert len(reps) == len(per_bucket[reps[0].centroid_id])

    got_salted = sorted(map(tuple, neardup_against_index(
        lake, "emb_idx", new, threshold=0.99, hot_bucket_rows=16
    ).collect()))
    got_plain = sorted(map(tuple, neardup_against_index(
        lake, "emb_idx", new, threshold=0.99, hot_bucket_rows=1 << 30
    ).collect()))
    assert got_salted == got_plain
    assert {p[0] for p in got_salted} == {9000}  # all 61 dups of vec 3
    assert len(got_salted) >= 61


def test_bucket_counts_from_stats_guards(spark, tmp_path, vectors):
    """The metadata-derived fan path must be SAFE: when it returns counts
    they equal the true per-bucket populations; after a tiny (inlined)
    extend it must return None (an inlined bucket would be invisible to
    file stats — dropping its pairs from the fan join); and the screening
    output is identical either way."""
    from ducktales_spark.vector_index import _bucket_counts_from_stats

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=4)
    build_vector_index(lake, "emb_idx", vectors, n_centroids=8)
    true_counts = {
        r.centroid_id: r.n
        for r in lake.read("emb_idx")
        .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counts = _bucket_counts_from_stats(lake, "emb_idx", None)
    if counts is not None:  # single-bucket file layout: must be exact
        assert counts == true_counts
    new = vectors.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "e"
    )
    from ducktales_spark.vector_index import neardup_against_index

    with_meta = sorted(map(tuple, neardup_against_index(
        lake, "emb_idx", new, threshold=0.999, hot_bucket_rows=8
    ).collect()))
    assert {p[0] for p in with_meta} == {7000, 7001, 7002}
    # a 2-row extend inlines into the catalog -> stats no longer cover the
    # whole table -> the metadata path must refuse
    extend_vector_index(lake, "emb_idx", new.limit(2))
    if lake.table_info()[0]["inlined_rows"]:
        assert _bucket_counts_from_stats(lake, "emb_idx", None) is None
    # and screening still finds the (now-indexed) copies via the scan path
    again = sorted(map(tuple, neardup_against_index(
        lake, "emb_idx", new, threshold=0.999, hot_bucket_rows=8
    ).collect()))
    assert len(again) >= len(with_meta)


def test_default_build_never_collects_vectors(spark, tmp_path, vectors):
    """The default (unrefined) build is driver-free end to end: seed
    centroids stay a DataFrame and assignment runs the distributed cogroup
    kernel, so no driver-side pull during build carries the vector
    column."""
    from pyspark.sql import DataFrame

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    pulled_cols: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled_cols.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled_cols.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        build_vector_index(lake, "emb_idx", vectors)
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    vector_pulls = [c for c in pulled_cols if "e" in c]
    assert not vector_pulls, f"build collected vector columns: {vector_pulls}"


def test_two_level_assignment_lossless_with_empty_coarse_shard(spark):
    """A coarse id owning ZERO fine centroids (duplicate seed embeddings can
    leave a shard empty) must not swallow vectors: routing only considers
    shards that have candidates, so output rows == input rows even at
    route_width=1 with every vector's nearest coarse seed being the empty
    one."""
    from ducktales_spark.queries.similarity import assign_buckets_two_level

    # coarse ids 0 (empty!) and 1; all fine centroids live under shard 1
    coarse = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id bigint, e array<double>"
    )
    centroids = spark.createDataFrame(
        [(10, [0.1, 1.0], 1), (11, [0.9, 0.2], 1)],
        "vec_id bigint, e array<double>, coarse_id bigint",
    )
    # vectors nearest to coarse 0 — at route_width=1 the unfixed kernel
    # routes them only to the empty shard and emits nothing
    v = spark.createDataFrame(
        [(100, [1.0, 0.01]), (101, [1.0, 0.05]), (102, [0.2, 1.0])],
        "vec_id bigint, e array<double>",
    )
    out = assign_buckets_two_level(v, coarse, centroids, route_width=1)
    rows = {r.vec_id: r.centroid_id for r in out.collect()}
    assert set(rows) == {100, 101, 102}, "no silent row loss on ingest"
    # the x-ish vectors get the only x-ish fine centroid
    assert rows[100] == 11 and rows[101] == 11 and rows[102] == 10


def test_routed_assignment_quality_at_default_route_width(spark, vectors):
    """Quality gate for the per-batch ASSIGNMENT approximation (the probe
    path has its own recall gate): on the realistic sf0.001 embeddings with
    10 coarse shards — MORE than the default route_width=8, so routing is
    genuinely approximate, not the exact-parity configuration — at least
    90% of routed assignments must equal the flat kernel's argmax, and no
    vector may be dropped. A regression in route_coarse's coarse ranking
    cannot hide behind the route_width >= shards parity tests."""
    from ducktales_spark.queries.similarity import (
        assign_buckets_distributed,
        assign_buckets_two_level,
    )

    centroids = vectors.filter(F.col("vec_id") < 100)  # C=100 -> 10 coarse
    coarse = centroids.filter(F.col("vec_id") < 10)
    with_shard = assign_buckets_distributed(
        centroids, coarse
    ).withColumnRenamed("centroid_id", "coarse_id")
    v = vectors.filter(F.col("vec_id") >= 100)

    flat = {
        r.vec_id: r.centroid_id
        for r in assign_buckets_distributed(v, centroids).collect()
    }
    routed = {
        r.vec_id: r.centroid_id
        for r in assign_buckets_two_level(
            v, coarse, with_shard, route_width=8
        ).collect()
    }
    assert set(routed) == set(flat), "lossless: every vector assigned"
    match = sum(routed[k] == flat[k] for k in flat) / len(flat)
    # measured 0.93 on the current fixture; pinned with headroom for data
    # rotation — a genuine ranking bug (inverted sort, wrong norm) lands
    # far below (route_width=4 already measures 0.65)
    assert match >= 0.85, f"routed assignment quality regressed: {match:.3f}"


def test_quantized_at_rest_index(spark, tmp_path, vectors):
    """build_vector_index(quantize=True): the index table stores int8
    codes (q, scale) instead of float64 e — smaller at rest — while every
    read path (probe, screen, extend, remove) behaves like the float
    index through the dequantize face. Probe recall@10 vs the float index
    under the standalone-format gate; no vector column is ever collected
    to the driver."""
    import os

    from pyspark.sql import DataFrame

    from ducktales_spark.vector_index import (
        neardup_against_index,
        remove_vectors,
    )

    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "idx_f", vectors)
    build_vector_index(lake, "idx_q", vectors, quantize=True)
    assert {"vec_id", "q", "scale", "centroid_id"} == set(
        lake.read("idx_q").columns
    )
    # storage: quantized index files at least 3x smaller than float
    def _tbl_bytes(tname):
        return sum(s["file_bytes"] or 0 for s in lake.file_stats(tname))

    assert _tbl_bytes("idx_q") * 3 <= _tbl_bytes("idx_f")
    # probe recall@10 vs the float index (identical centroids/buckets,
    # only the stored corpus is quantized)
    queries = vectors.filter(F.col("vec_id") < 10).toPandas()
    exact = {}
    for r in probe_vector_index(lake, "idx_f", queries, k=10, nprobe=4).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    got = probe_vector_index(lake, "idx_q", queries, k=10, nprobe=4)

    pulled: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        rows = got.collect()
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    assert not [
        c for c in pulled[:-1] if "e" in c or "q" in c
    ], "probe pulled vector/code columns to the driver"
    for r in rows:
        tot += 1
        hits += r.neighbor_id in exact.get(r.query_id, set())
    assert tot and hits / tot >= 0.9, hits / tot
    # extend: appended rows land QUANTIZED (schema stays uniform)
    newv = vectors.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "e"
    ).limit(7)
    extend_vector_index(lake, "idx_q", newv)
    ext = lake.read("idx_q").filter("vec_id >= 1000000")
    assert ext.count() == 7
    assert {"q", "scale"} <= set(ext.columns)
    assert ext.filter("q IS NULL").count() == 0
    # screening consumes the quantized corpus through the same face
    pairs = neardup_against_index(
        lake, "idx_q",
        vectors.limit(3).select((F.col("vec_id") + 2_000_000).alias("vec_id"), "e"),
        threshold=0.99,
    )
    assert pairs.count() >= 3  # each new vector matches its own original
    # remove: MERGE delete under the quantized schema
    n = remove_vectors(lake, "idx_q", [1_000_000, 1_000_001])
    assert n == 2
    assert lake.read("idx_q").filter("vec_id IN (1000000, 1000001)").count() == 0


def test_quantized_index_excludes_dirty_vectors(spark, tmp_path, vectors):
    """A corpus row with NaN/Inf/NULL elements quantizes to NULL codes no
    kernel can score: the quantized build and extend EXCLUDE it (explicit
    policy), so probes over a dirty corpus run instead of aborting inside
    the Arrow kernel on a NULL embedding."""
    dim = len(vectors.first()["e"])
    dirty = vectors.unionByName(
        spark.createDataFrame(
            [
                (9_000_001, [float("nan")] * dim),
                (9_000_002, [1.0, None] + [0.0] * (dim - 2)),
            ],
            "vec_id bigint, e array<double>",
        )
    )
    lake = LakeCatalog(str(tmp_path / "lake"), spark)
    build_vector_index(lake, "qi", dirty, quantize=True)
    assert lake.read("qi").filter("vec_id >= 9000000").count() == 0
    assert lake.read("qi").filter("q IS NULL").count() == 0
    queries = vectors.filter(F.col("vec_id") < 3).toPandas()
    assert probe_vector_index(lake, "qi", queries, k=5, nprobe=4).count() > 0
    # extend with a dirty batch: clean rows land, dirty rows excluded
    extend_vector_index(
        lake, "qi",
        spark.createDataFrame(
            [(9_100_000, [0.5] * dim), (9_100_001, [float("inf")] * dim)],
            "vec_id bigint, e array<double>",
        ),
    )
    got = [r["vec_id"] for r in lake.read("qi").filter("vec_id >= 9100000").collect()]
    assert got == [9_100_000]


def test_probe_centroid_tie_is_order_free(spark, tmp_path, monkeypatch):
    """A cosine tie between centroids breaks to the lowest centroid id on
    BOTH ranking paths, whatever order the lake returns the centroid rows
    in: the driver rank (centroid read <= _COARSE_THRESHOLD rows) and the
    distributed _topk rank (threshold forced to 0) probe the same bucket.
    Centroids 0 and 1 point the same way; the centroid table is stored in
    descending id order, so an unsorted driver rank would probe bucket 1."""
    from ducktales_spark import vector_index as vx

    lake = LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=0)
    cents = [(2, [0.0, 1.0]), (1, [2.0, 0.0]), (0, [1.0, 0.0])]
    lake.ctas(
        "tie_idx__centroids",
        spark.createDataFrame(cents, "vec_id bigint, e array<double>")
        .coalesce(1),
    )
    lake.ctas(
        "tie_idx",
        spark.createDataFrame(
            [(10, [1.0, 0.1], 0), (11, [1.0, 0.2], 1), (12, [0.0, 1.0], 2)],
            "vec_id bigint, e array<double>, centroid_id bigint",
        ),
    )
    assert [r["vec_id"] for r in lake.read("tie_idx__centroids").collect()] == [
        2, 1, 0
    ]
    queries = pd.DataFrame({"vec_id": [100], "e": [[1.0, 0.0]]})

    def probe():
        return _rows(
            vx.probe_vector_index(lake, "tie_idx", queries, k=1, nprobe=1)
        )

    driver = probe()
    monkeypatch.setattr(vx, "_COARSE_THRESHOLD", 0)
    distributed = probe()
    assert driver == distributed
    assert [r[1] for r in driver] == [10]  # bucket 0: the lowest tied id
