"""Similarity search: brute-force cosine top-k (exact baseline) and IVF
(k-means-partitioned approximate path) over the embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from valar_spark import ann

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_brute_force_topk(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    topk = ann.brute_force_topk(emb, queries, k=10).cache()
    got = topk.collect()
    n_q = queries.count()
    assert len(got) == n_q * 10
    # ranks are 1..10 per query, self excluded, sims within [-1, 1]
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["vec_id"] != r["query_id"]
        assert -1.0 <= r["cosine_sim"] <= 1.0
    for q, rows_ in per_q.items():
        ranks = sorted(x["rank"] for x in rows_)
        assert ranks == list(range(1, 11))
        sims = [x["cosine_sim"] for x in sorted(rows_, key=lambda x: x["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_brute_force_matches_numpy(spark, emb):
    import numpy as np

    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    q_id = 3
    qv = data[q_id]
    sims = {
        i: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        for i, v in data.items() if i != q_id
    }
    expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = (
        ann.brute_force_topk(emb, emb.filter(F.col("vec_id") == q_id), k=5)
        .orderBy("rank").collect()
    )
    assert [r["vec_id"] for r in got] == [i for i, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert abs(r["cosine_sim"] - s) < 1e-4


def test_ivf_probe_all_equals_brute_force_rows(spark, emb):
    """nprobe = nlist must reproduce the brute-force result ROW-FOR-ROW
    (ids, rounded sims, ranks) — the gate query
    ann_ivf_probe_all_embeddings hash-checks the same identity vs DuckDB;
    this pins it in-repo at test speed."""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = ann.brute_force_topk(emb, queries, k=5).orderBy(
        "query_id", "rank").collect()
    assigned, centroids = ann.ivf_build_sampled(emb, nlist=8)
    full = ann.ivf_topk(assigned, centroids, queries, k=5,
                        nprobe=8).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in exact]


def test_ivf_recall_nlist64_sf01(spark):
    """Centroids-as-table path at production-ish quantizer size: nlist=64
    over the sf0.1 embeddings (2000 x 64-dim). Plan stays a broadcast join
    + window — no 64-entry literal expression (ann.py
    ivf_build_sampled/ivf_topk)."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = ann.brute_force_topk(emb, queries, k=10)
    assigned, centroids = ann.ivf_build_sampled(emb, nlist=64)
    assert centroids.count() == 64  # centroid TABLE, not literals
    full = ann.ivf_topk(assigned, centroids, queries, k=10, nprobe=64)
    assert ann.recall_at_k(full, exact, k=10) == 1.0
    r16 = ann.recall_at_k(
        ann.ivf_topk(assigned, centroids, queries, k=10, nprobe=16),
        exact, k=10)
    assert r16 >= 0.5, f"IVF recall@10 at nprobe=16/64: {r16}"


def test_cosine_pairs_exact_matches_numpy(spark, emb):
    import numpy as np

    data = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(data)
    expected = {}
    for i, a in enumerate(ids):
        va = data[a] / np.linalg.norm(data[a])
        for b in ids[i + 1:]:
            vb = data[b] / np.linalg.norm(data[b])
            c = float(va @ vb)
            if c >= 0.3:
                expected[(a, b)] = round(c, 6)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in ann.cosine_pairs_exact(emb, threshold=0.3).collect()}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 2e-6


def test_embedding_near_dup_recall(spark, emb):
    # plant near-duplicates: one coordinate nudged => cosine ~0.999
    near = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.05)).cast("float")),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"))
    u = emb.select("vec_id", "embedding").unionByName(near)
    pairs = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(i, i + 100_000) for i in range(30)}
    found = len(planted & got)
    assert found / len(planted) >= 0.8, f"near-dup recall {found}/30"
    # and no flood of false positives (random vectors aren't near-dups)
    assert len(got) <= len(planted) * 3


def test_ivf_sampled_matches_contract(spark, emb):
    """Sampled-numpy quantizer: (assigned, centroids) contract; every
    cell is populated, full probe is exhaustive (recall 1.0), partial
    recall grows with nprobe, cells cover the corpus, assignment is
    deterministic across calls."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = ann.brute_force_topk(emb, queries, k=10)
    assigned, centroids = ann.ivf_build_sampled(emb, nlist=8, max_iter=8)
    assert centroids.count() == 8
    assert assigned.select("_cell").distinct().count() == 8
    assert assigned.count() == emb.count()
    # full probe == exhaustive search → exact recall (the algebraic
    # correctness check: cell pruning is the ONLY approximation)
    full = ann.ivf_topk(assigned, centroids, queries, k=10, nprobe=8)
    assert ann.recall_at_k(full, exact, k=10) == 1.0
    # partial probe: embeddings here are near-random, the worst case for
    # IVF — real clustered data does far better
    r4 = ann.recall_at_k(
        ann.ivf_topk(assigned, centroids, queries, k=10, nprobe=4),
        exact, k=10)
    r1 = ann.recall_at_k(
        ann.ivf_topk(assigned, centroids, queries, k=10, nprobe=1),
        exact, k=10)
    assert r4 >= 0.5, f"sampled-IVF recall@10 too low: {r4}"
    assert r4 > r1, f"recall must grow with nprobe: {r1} -> {r4}"
    # determinism: the hash-sample + seeded init give identical cells
    a2, _ = ann.ivf_build_sampled(emb, nlist=8, max_iter=8)
    diff = (assigned.select("vec_id", "_cell").exceptAll(
        a2.select("vec_id", "_cell"))).count()
    assert diff == 0


def test_ivf_sampled_tiny_corpus_guard(spark):
    tiny = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)],
        "vec_id bigint, embedding array<float>")
    import pytest as _pt
    with _pt.raises(ValueError, match="corpus has only 6"):
        ann.ivf_build_sampled(tiny, nlist=16)
    # nlist <= corpus works even when the hash-sample is short
    a, c = ann.ivf_build_sampled(tiny, nlist=3)
    assert c.count() == 3 and a.count() == 6


def test_cosine_pairs_exact_block_invariance(spark, emb):
    """The distributed block-pair plan must produce the identical pair set
    at any block count (1 block == the all-in-one-group degenerate case)."""
    ref = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in ann.cosine_pairs_exact(emb, threshold=0.3,
                                           num_blocks=1).collect()}
    for nb in (3, 7):
        got = {(r["id_a"], r["id_b"]): r["cosine"]
               for r in ann.cosine_pairs_exact(emb, threshold=0.3,
                                               num_blocks=nb).collect()}
        assert got == ref, f"block count {nb} changed the result"
    assert ref, "expected non-empty pair set at threshold 0.3"


def test_ivf_cell_partition_pruning(spark, emb, tmp_path):
    """ann.py's production claim demonstrated end-to-end: write the
    assigned corpus PARTITIONED BY _cell, probe via ivf_topk_pruned, and
    assert (a) the scan plan carries a PartitionFilters entry on _cell and
    (b) the files actually read all live under the probed cell dirs —
    i.e. nprobe of nlist directories, the rest never touched."""
    nlist, nprobe = 8, 2
    assigned, centroids = ann.ivf_build_sampled(emb, nlist=nlist, max_iter=8)
    path = str(tmp_path / "ivf_cells")
    ann.ivf_write_partitioned(assigned, path)

    queries = emb.filter(F.col("vec_id") < 3)
    out = ann.ivf_topk_pruned(spark, path, centroids, queries,
                              k=5, nprobe=nprobe)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan

    # runtime proof: input_file_name over the same pruned scan touches only
    # the probed cell directories
    qc = ann._query_cells(centroids, queries, nprobe)
    cells = {r["_cell"] for r in qc.select("_cell").distinct().collect()}
    assert 0 < len(cells) < nlist
    pruned_scan = (spark.read.parquet(path)
                   .where(F.col("_cell").isin(sorted(cells))))
    files = {r[0] for r in
             pruned_scan.select(F.input_file_name()).distinct().collect()}
    assert files
    import re as _re

    touched = {int(_re.search(r"_cell=(\d+)", f).group(1)) for f in files}
    assert touched <= cells, f"scan touched non-probed cells: {touched - cells}"

    # and the pruned result equals the unpartitioned probe on the same cells
    ref = ann.ivf_topk(assigned, centroids, queries, k=5, nprobe=nprobe)
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in out.collect()}
    want = {(r["query_id"], r["vec_id"], r["rank"]) for r in ref.collect()}
    assert got == want


def test_embedding_near_dup_chunk_guarantee(spark, emb):
    """8×8-bit chunk blocking is pigeonhole-complete to hamming 7: planted
    near-dups (cosine ≈ 0.999, hamming ≲ 5) must ALL be found — recall 1.0,
    not the >= 0.8 the 4×16-bit split was held to."""
    near = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.05)).cast("float")),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"))
    u = emb.select("vec_id", "embedding").unionByName(near)
    pairs = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=7,
                                         chunk_bits=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    exact = {(r["id_a"], r["id_b"]) for r in
             ann.cosine_pairs_exact(u, threshold=0.95).collect()}
    assert exact, "construction should plant >= one 0.95-pair"
    assert got == exact, (f"missed: {exact - got}, spurious: {got - exact}")
    pairs.unpersist()


def test_embedding_near_dup_auto_chunk_bits(spark, emb, monkeypatch):
    """chunk_bits=None auto-scales on corpus count: 8-bit chunks (hamming
    <= 7 contract) below CHUNK_BITS_CROSSOVER, 16-bit above it with
    max_hamming clamped to the pigeonhole bound (3) so the output contract
    stays exact rather than silently incomplete."""
    near = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.05)).cast("float")),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"))
    u = emb.select("vec_id", "embedding").unionByName(near)

    # small regime: auto == explicit chunk_bits=8
    auto = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=7)
    pinned8 = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=7,
                                           chunk_bits=8)
    a = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    p8 = {(r["id_a"], r["id_b"]) for r in pinned8.collect()}
    assert a == p8

    # large regime (forced): auto == explicit chunk_bits=16, whose output
    # is the hamming<=3 subset of the 8-bit hamming<=7 output
    monkeypatch.setattr(ann, "CHUNK_BITS_CROSSOVER", 1)
    auto16 = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=7)
    pinned16 = ann.embedding_near_dup_pairs(u, threshold=0.95, max_hamming=7,
                                            chunk_bits=16)
    a16 = {(r["id_a"], r["id_b"]) for r in auto16.collect()}
    p16 = {(r["id_a"], r["id_b"]) for r in pinned16.collect()}
    assert a16 == p16
    assert a16 <= p8
    for df in (auto, pinned8, auto16, pinned16):
        df.unpersist()


def test_embedding_profile_degenerate_vectors(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0]), (2, [0.0, 0.0, 0.0]),
         (3, [nan, 1.0, 2.0]), (4, None)],
        "vec_id bigint, embedding array<float>")
    got = {r["vec_id"]: r for r in ann.embedding_profile(df).collect()}
    assert got[1]["dim"] == 3 and got[1]["n_zero"] == 1
    assert abs(got[1]["norm"] - 5.0) < 1e-6          # 3-4-5 triangle
    assert got[2]["n_zero"] == 3 and got[2]["norm"] == 0.0
    assert got[3]["n_nan"] == 1 and got[3]["norm"] is None
    assert got[4]["dim"] is None


def test_embedding_dim_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [3.0, 20.0]), (3, [5.0, 30.0])],
        "vec_id bigint, embedding array<float>")
    got = {r["dim"]: r for r in ann.embedding_dim_stats(df).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n"] == 3 and got[0]["mean_val"] == 3.0
    assert got[0]["min_val"] == 1.0 and got[0]["max_val"] == 5.0
    assert got[1]["mean_val"] == 20.0 and got[1]["n_nan"] == 0


def test_embedding_group_drift_displaced_group(spark):
    # group 0 centered at origin, group 1 shifted by +10 on dim 0 —
    # group distances from the global centroid must mirror each other
    # (equal sizes) and sit near 5.0
    rows = ([(i, [0.1 * (i % 3) - 0.1, 0.0], 0) for i in range(30)]
            + [(100 + i, [10.0 + 0.1 * (i % 3) - 0.1, 0.0], 1)
               for i in range(30)])
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<float>, "
                               "label int")
    got = {r["label"]: r for r in ann.embedding_group_drift(df).collect()}
    assert got[0]["n_vectors"] == 30 and got[1]["n_vectors"] == 30
    assert abs(got[0]["centroid_dist"] - 5.0) < 1e-4
    assert abs(got[0]["centroid_dist"] - got[1]["centroid_dist"]) < 1e-6


def test_semantic_dedup_planted_clusters(spark):
    # {0,1,2} mutually near-identical (cosine > 0.95), {3} orthogonal,
    # {4,5} a second pair — expect components {0,0,0,3,4,4} and the
    # minimum-id member of each group marked keep
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),      # cos(v0, v1) ~ 0.99995
        (2, [0.999, 0.02, 0.0]),
        (3, [0.0, 0.0, 1.0]),       # orthogonal singleton
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 1.0, 0.015]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r["vec_id"]: r for r in ann.semantic_dedup(df, threshold=0.95)
           .collect()}
    assert len(got) == 6
    assert {k: got[k]["component"] for k in sorted(got)} == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    assert {k: got[k]["keep"] for k in sorted(got)} == {
        0: True, 1: False, 2: False, 3: True, 4: True, 5: False}


def test_semantic_dedup_accepts_shared_pairs(spark):
    # the sets=/pairs= sharing convention: a precomputed pair frame must
    # produce the same labelling as the internally generated one
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = ann.embedding_near_dup_pairs(df, threshold=0.95)
    a = sorted(ann.semantic_dedup(df, threshold=0.95).collect())
    b = sorted(ann.semantic_dedup(df, threshold=0.95, pairs=pairs).collect())
    assert a == b
    assert [r["keep"] for r in a] == [True, False, True]


def test_embedding_exact_dup_clusters(spark):
    from valar_spark.ann import embedding_exact_dup_clusters

    v_a = [0.5] * 4          # default-vector failure class: 3 members
    v_b = [0.25, 0.5, 0.75, 1.0]   # written-twice pair
    rows = [
        (1, v_a), (2, [0.1, 0.2, 0.3, 0.4]), (3, v_a),
        (4, v_b), (5, v_b), (6, v_a),
        (7, None),                       # null vector excluded
        (8, [0.5, 0.5, 0.5, 0.5001]),    # close but NOT bit-equal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r["n_vecs"], r["min_vec_id"], r["max_vec_id"])
           for r in embedding_exact_dup_clusters(df).collect()]
    assert got == [(3, 1, 6), (2, 4, 5)]
