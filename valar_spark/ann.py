"""Similarity search over an embedding column (``array<float>``).

Baseline: exact brute-force cosine top-k — broadcast the (small) query set
against the corpus, dot products via ``zip_with``/``aggregate`` (JVM-side,
no UDF), per-query top-k via window. Cost O(|queries|·|corpus|) FLOPs as a
narrow map — the right baseline and the recall oracle.

Scale path: IVF — a k-means coarse quantizer, trained driver-side on a
bounded hash-sample, assigns every vector to a centroid partition; a query
probes only its ``nprobe`` nearest centroids, turning the scan into a
partition-pruned key join (1/nlist × nprobe of the corpus touched).
Recall measured against brute force in tests."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_profile(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Per-vector hygiene profile for an embedding column —
    ``(id, dim, n_nan, n_zero, norm)``. Catches the degenerate vectors
    that silently poison similarity search and dedup: zero/near-empty
    vectors (cosine undefined), NaN leakage from a failed encoder batch,
    and ragged dimensions from a mixed-model write. ``norm`` is NULL when
    the vector contains NaN (instead of a poisoned NaN that different
    engines order differently); null vectors profile as dim NULL.

    Pure shuffle-free projection; the fold runs in array order (matching
    a sequential list-fold oracle bit-for-bit before rounding)."""
    v = F.col(vec_col)
    n_nan = F.size(F.filter(v, lambda x: F.isnan(x.cast("double"))))
    return df.select(
        id_col,
        F.when(v.isNull(), F.lit(None)).otherwise(F.size(v)).cast("int")
        .alias("dim"),
        n_nan.cast("long").alias("n_nan"),
        F.size(F.filter(v, lambda x: x.cast("double") == 0.0)).cast("long")
        .alias("n_zero"),
        F.when(v.isNull() | (n_nan > 0), F.lit(None))
        .otherwise(F.round(_norm(v), 6)).alias("norm"),
    )


def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-DIMENSION distribution stats across the corpus —
    ``(dim, n, n_nan, mean_val, min_val, max_val)`` (floats rounded 6,
    NaNs excluded from the moments and counted separately). The
    training-data signal: a dimension whose mean drifts or collapses to a
    constant flags an encoder-version mismatch between ingest batches —
    per-dim stats are the cheapest drift tripwire for 100-TB embedding
    stores.

    Shape at scale: posexplode to (dim, value) then ONE hash aggregate
    keyed by dim — cardinality = vector width, partial map-side combine
    does almost all the work, and the shuffle carries `width × partitions`
    rows no matter the corpus size."""
    ex = df.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(vec_col).alias("dim", "_x"))
    x = F.col("_x").cast("double")
    clean = F.when(F.isnan(x), F.lit(None)).otherwise(x)
    return (
        ex.groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum(F.isnan(x).cast("long")).cast("long").alias("n_nan"),
             F.round(F.avg(clean), 6).alias("mean_val"),
             F.round(F.min(clean), 6).alias("min_val"),
             F.round(F.max(clean), 6).alias("max_val"))
        .orderBy("dim")
    )


def embedding_group_drift(df: DataFrame, group_col: str = "label",
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Per-group centroid displacement from the corpus centroid —
    ``(group, n_vectors, centroid_dist)`` (L2, rounded 6). The embedding
    drift tripwire: when one ingest batch / label / source was encoded by
    a different model version, its centroid walks away from the global
    mean long before any per-vector check fires. Complements
    :func:`embedding_dim_stats` (which sees global drift but not which
    slice moved).

    Shape at scale: posexplode → ONE (group × dim)-keyed sum/count
    aggregate (map-side partials do the work; result is #groups × width
    rows), the global centroid derived from THAT small frame (exact —
    weighted by the same sums, no second data pass), then a
    groups-sized join+aggregate. The data rows shuffle once, carrying
    only partial sums. NaN entries are excluded; null group/vector rows
    are skipped."""
    ex = df.filter(F.col(vec_col).isNotNull()
                   & F.col(group_col).isNotNull()).select(
        group_col, F.posexplode(vec_col).alias("dim", "_x"))
    x = F.col("_x").cast("double")
    g = (ex.filter(~F.isnan(x))
         .groupBy(group_col, "dim")
         .agg(F.sum(x).alias("_s"), F.count(F.lit(1)).alias("_c")))
    glob = (g.groupBy("dim")
            .agg((F.sum("_s") / F.sum("_c")).alias("_gm")))
    diff = F.col("_s") / F.col("_c") - F.col("_gm")
    return (
        g.join(glob, "dim")
        .groupBy(group_col)
        .agg(F.min("_c").cast("long").alias("n_vectors"),
             F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_dist"))
        .orderBy(group_col)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """``(query_id, vec_id, cosine_sim, rank)`` — exact top-k neighbors per
    query (self-matches excluded when ids collide). The query side is
    broadcast: corpus×queries stays a narrow map over the corpus scan."""
    qid = query_id_col or id_col
    q = queries.select(F.col(qid).alias("query_id"),
                       F.col(vec_col).alias("_qvec"))
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(q))
    sim = joined.select(
        "query_id", id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("_sim"),
    ).filter(F.col("query_id") != F.col(id_col))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col(id_col))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col,
                F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def ivf_build_sampled(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_limit: int = 25_000,
):
    """FAISS-style coarse quantizer: train k-means driver-side (numpy
    Lloyd's) on a bounded DETERMINISTIC hash-sample of the corpus, then
    assign every vector in one Arrow pass (argmin L2 against the broadcast
    centroid matrix via the matmul expansion). Returns ``(assigned,
    centroids)``: ``assigned`` adds a ``_cell`` column — in production the
    table's partition key (:func:`ivf_write_partitioned`), so a probe is
    partition pruning — and ``centroids`` is the ``(cell, cvec)`` table,
    a local relation that scales to nlist of 10^3-10^4 where an inlined
    literal expression would blow up plan size.

    Why this beats a distributed fit: coarse-quantizer quality saturates at
    ~39-256 training points per centroid (the FAISS guideline), so training
    cost is FIXED no matter the corpus size — only the single assignment
    pass scales with data, and that's a narrow map. The sample is selected
    by ``xxhash64(id)`` so it is reproducible and needs no sort."""
    import numpy as np

    from .runner import _local_frame

    # deterministic bounded sample: keep ids whose hash falls under the cap
    n = corpus.count()
    frac = min(1.0, train_limit / max(n, 1))
    cap = int(frac * 1_000_000)
    train = corpus.select(vec_col).filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < cap)
    m = np.array([r[vec_col] for r in train.collect()], dtype=np.float64)
    if len(m) < nlist:
        # tiny corpus: deterministic fallback ordered by id
        m = np.array([r[vec_col] for r in
                      corpus.select(id_col, vec_col).orderBy(id_col)
                      .limit(nlist * 4).collect()],
                     dtype=np.float64)
    if len(m) < nlist:
        raise ValueError(
            f"ivf_build_sampled: corpus has only {len(m)} vectors but "
            f"nlist={nlist}; lower nlist to at most the corpus size")
    # collect() order depends on the partition layout — sort the sample
    # lexicographically so centroid init (and the empty-cell reseed) is
    # deterministic across core counts / file splits, as documented
    m = m[np.lexsort(m.T[::-1])]
    rng = np.random.default_rng(seed)
    c = m[rng.choice(len(m), size=nlist, replace=False)]
    for _ in range(max_iter):
        d2 = (m * m).sum(1)[:, None] - 2.0 * (m @ c.T) + (c * c).sum(1)[None]
        lab = d2.argmin(1)
        new_c = c.copy()
        for j in range(nlist):
            sel = lab == j
            if sel.any():
                new_c[j] = m[sel].mean(0)
            else:  # empty cell: reseed to the farthest point
                new_c[j] = m[d2.min(1).argmax()]
        if np.allclose(new_c, c):
            c = new_c
            break
        c = new_c

    cmat = c.copy()
    c_sq = (cmat * cmat).sum(1)

    @F.pandas_udf("int")
    def cell_of(vs):
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        v = np.array([np.asarray(x, dtype=np.float64) for x in vs])
        d2 = -2.0 * (v @ cmat.T) + c_sq[None]  # |v|^2 constant per row
        return pd.Series(d2.argmin(1).astype("int32"))

    assigned = corpus.withColumn("_cell", cell_of(F.col(vec_col)))
    centroids = _local_frame(corpus.sparkSession,
                             list(enumerate(cmat.tolist())),
                             "cell int, cvec array<double>")
    return assigned, centroids


def _query_cells(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """``(query_id, _qvec, _cell)`` — the ``nprobe`` nearest cells per
    query, ranked via a broadcast join against the ``(cell, cvec)``
    centroid table + one window over queries×nlist rows — never a literal
    expression."""
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("_qvec"))
    qc = q.crossJoin(F.broadcast(centroids)).select(
        "query_id", "_qvec", "cell",
        cosine(F.col("_qvec"), F.col("cvec")).alias("_csim"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("cell"))
    return (
        qc.withColumn("_rnk", F.row_number().over(wq))
        .filter(F.col("_rnk") <= nprobe)
        .select("query_id", "_qvec", F.col("cell").alias("_cell"))
    )


def _rank_candidates(cand: DataFrame, k: int, id_col: str,
                     vec_col: str) -> DataFrame:
    """Shared probe tail of :func:`ivf_topk` / :func:`ivf_topk_pruned`:
    exact cosine on the candidate rows, per-query window top-k with the
    (sim desc, id) tie-break, rounded output."""
    sim = cand.select(
        "query_id", id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col(id_col))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col,
                F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def ivf_write_partitioned(assigned: DataFrame, path: str,
                          mode: str = "overwrite") -> None:
    """Persist an IVF-assigned corpus PARTITIONED BY ``_cell`` — the
    production layout :func:`ivf_build_sampled`'s docstring promises: each
    cell is its own partition directory, so a probe that filters on
    ``_cell`` is Catalyst **partition pruning** (the scan lists only nprobe
    directories out of nlist; `PartitionFilters` in the plan, zero I/O
    elsewhere)."""
    assigned.write.mode(mode).partitionBy("_cell").parquet(path)


def ivf_topk_pruned(
    spark,
    path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF probe against a ``_cell``-partitioned corpus written by
    :func:`ivf_write_partitioned`: ranks cells per query, collects the
    (≤ |queries|·nprobe, driver-bounded by the query set — queries are
    small by definition) distinct probe cells, and reads the corpus with a
    static ``_cell IN (…)`` filter so the parquet scan touches ONLY those
    partition directories. Same result contract as :func:`ivf_topk`; the
    difference is demonstrable I/O pruning (see
    tests/test_ann.py::test_ivf_cell_partition_pruning)."""
    from .runner import _local_frame

    qid = query_id_col or id_col
    # the probe set is query-bounded (≤ |queries|·nprobe rows), so it can
    # be collected once and re-emitted as a local relation — no cache to
    # manage, and the cell list becomes a STATIC partition filter
    qc_df = _query_cells(centroids, queries, nprobe, vec_col,
                         query_id_col=qid)
    rows = qc_df.collect()
    cells = sorted({r["_cell"] for r in rows})
    q_cells = _local_frame(spark, rows, qc_df.schema.toDDL())
    assigned = spark.read.parquet(path).where(F.col("_cell").isin(cells))
    cand = assigned.join(F.broadcast(q_cells), "_cell").filter(
        F.col("query_id") != F.col(id_col))
    return _rank_candidates(cand, k, id_col, vec_col)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: each query probes its ``nprobe`` nearest cells
    (ranked via a broadcast join against the ``(cell, cvec)`` centroid
    table), then exact cosine within those cells only. The corpus join is a
    key-equality join on ``_cell`` — the candidate set is
    |corpus|·nprobe/nlist per query instead of |corpus|."""
    qid = query_id_col or id_col
    q_cells = _query_cells(centroids, queries, nprobe, vec_col,
                           query_id_col=qid)

    cand = assigned.join(F.broadcast(q_cells), "_cell").filter(
        F.col("query_id") != F.col(id_col))
    return _rank_candidates(cand, k, id_col, vec_col)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> float:
    """Mean fraction of exact top-k recovered by the approximate search."""
    a = approx.filter(F.col("rank") <= k).select("query_id", "vec_id")
    e = exact.filter(F.col("rank") <= k).select("query_id", "vec_id")
    hits = a.join(e, ["query_id", "vec_id"], "left_semi").groupBy(
        "query_id").agg(F.count(F.lit(1)).alias("h"))
    per_q = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).join(
        hits, "query_id", "left").select(
        (F.coalesce(F.col("h"), F.lit(0)) / F.col("n")).alias("r"))
    row = per_q.agg(F.avg("r").alias("recall")).first()
    return float(row["recall"]) if row["recall"] is not None else 0.0


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs — exact baseline + RHP-LSH scale path
# ---------------------------------------------------------------------------


def cosine_pairs_exact(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    target_block_rows: int = 2048,
) -> DataFrame:
    """All pairs ``(id_a, id_b, cosine)`` with ``cosine >= threshold`` and
    ``id_a < id_b`` — EXACT O(N²) baseline, the recall oracle for
    :func:`embedding_near_dup_pairs` (mirrors the brute-force/LSH split of
    the text dedup ops).

    Shape — DISTRIBUTED block-pair grouping, no driver collect: every
    vector is hash-assigned to one of B blocks and replicated (one explode
    projection, no join) into the B groups touching its block, and each
    ``(p, q)`` group
    multiplies its two block matrices with chunked numpy matmuls, emitting
    only passing pairs. Within-block pairs are computed ONLY in the
    diagonal ``(p, p)`` group, cross-block pairs only in ``(p, q)`` — each
    unordered pair exactly once. Executor memory is bounded by two blocks
    (~``target_block_rows``·dim doubles) plus one matmul chunk; driver
    traffic is one ``count()`` for auto-sizing. Shuffle volume is N·B rows
    — B is capped at 256 because beyond ~10⁶ vectors the O(N²) FLOPs are
    the real wall and the RHP-LSH path (:func:`embedding_near_dup_pairs`)
    is the scale answer."""
    import math

    n = corpus.count()
    if num_blocks is None:
        # enough blocks that (a) a block fits comfortably in a task and
        # (b) the diagonal+off-diagonal groups saturate the cluster
        par = corpus.sparkSession.sparkContext.defaultParallelism
        b_mem = math.ceil(n / max(target_block_rows, 1))
        b_par = 1
        while b_par * (b_par + 1) // 2 < par:
            b_par += 1
        num_blocks = max(1, min(256, max(b_mem, b_par)))
    bcount = num_blocks

    blocked = corpus.select(
        F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bcount)).cast("int")
        .alias("_blk"))
    # replicate each row into exactly the B groups touching its block via
    # a projection — enumerating i=0..B-1 and emitting the unordered pair
    # (min(i, blk), max(i, blk)) hits every group containing blk exactly
    # once (i == blk is the diagonal). An OR-predicate broadcast join
    # would plan as BroadcastNestedLoopJoin evaluating N·B(B+1)/2
    # predicates — O(B) worse than this O(N·B) explode.
    groups = F.transform(
        F.sequence(F.lit(0), F.lit(bcount - 1)),
        lambda i: F.struct(F.least(i, F.col("_blk")).alias("_bp"),
                           F.greatest(i, F.col("_blk")).alias("_bq")))
    replicated = blocked.select(
        "_pid", "_pvec", "_blk", F.explode(groups).alias("_g")
    ).select("_pid", "_pvec", "_blk", "_g._bp", "_g._bq")

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        if len(pdf) == 0:
            return empty
        p = int(pdf["_bp"].iat[0])
        q = int(pdf["_bq"].iat[0])

        def mat(sub):
            ids = sub["_pid"].to_numpy(dtype=np.int64)
            m = np.array([np.asarray(x, dtype=np.float64)
                          for x in sub["_pvec"]])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            return ids, m / norms[:, None]

        out_a, out_b, out_s = [], [], []
        chunk = 1024  # bounds the sims matrix at chunk×block_rows doubles
        if p == q:
            ids, mn = mat(pdf)
            for lo in range(0, len(ids), chunk):
                sims = mn[lo:lo + chunk] @ mn.T
                mask = (sims >= threshold) & (ids[None, :] > ids[lo:lo + chunk, None])
                ii, jj = np.nonzero(mask)
                if len(ii):
                    out_a.append(ids[lo + ii])
                    out_b.append(ids[jj])
                    out_s.append(sims[ii, jj])
        else:
            pa = pdf[pdf["_blk"] == p]
            pb = pdf[pdf["_blk"] == q]
            if len(pa) == 0 or len(pb) == 0:
                return empty
            ids_a, mn_a = mat(pa)
            ids_b, mn_b = mat(pb)
            for lo in range(0, len(ids_a), chunk):
                sims = mn_a[lo:lo + chunk] @ mn_b.T
                mask = sims >= threshold
                ii, jj = np.nonzero(mask)
                if len(ii):
                    ia = ids_a[lo + ii]
                    ib = ids_b[jj]
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
                    out_s.append(sims[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.round(np.concatenate(out_s), 6),
        })

    return replicated.groupBy("_bp", "_bq").applyInPandas(
        fn, schema="id_a long, id_b long, cosine double")


def rhp_sketch(vec_col: Column, bits: int = 64, seed: int = 7,
               dim: int | None = None) -> Column:
    """Random-hyperplane (sign-random-projection) 64-bit sketch of an
    embedding: bit b = sign(v · h_b) with SplitMix64-seeded Gaussian-ish
    hyperplanes. Hamming distance estimates the angle:
    ``P(bit differs) = theta / pi`` — the embedding analogue of SimHash.
    Arrow-batched numpy; hyperplanes regenerate deterministically per
    worker from the seed (no broadcast needed)."""

    @F.pandas_udf("long")
    def sk(vs):  # pd.Series[np.ndarray] -> pd.Series[int64]
        import numpy as np
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        v = np.array([np.asarray(x, dtype=np.float64) for x in vs])
        d = v.shape[1]
        rng = np.random.default_rng(seed)
        h = rng.standard_normal((d, bits))
        signs = (v @ h) > 0
        weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
        packed = (signs.astype(np.uint64) * weights[None, :]).sum(
            axis=1, dtype=np.uint64)
        return pd.Series(packed.view(np.int64))

    return sk(vec_col)


#: corpus size at which auto chunk_bits switches 8 → 16 (candidate volume
#: c·N²/2^chunk_bits: at 10⁶ vectors 8-bit buckets average ~4k collisions
#: each — the hamming-≤7 guarantee stops being worth the candidate blowup)
CHUNK_BITS_CROSSOVER = 1_000_000


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    max_hamming: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    chunk_bits: int | None = None,
) -> DataFrame:
    """Near-duplicate embedding pairs at scale: RHP sketch → chunk blocking
    → exact cosine verification ONLY on candidates (vectorized per Arrow
    batch). Same O(candidates)-never-O(N²) contract as the MinHash text
    path.

    Blocking guarantee (pigeonhole): with ``c = 64/chunk_bits`` chunks, any
    pair within Hamming ≤ c−1 shares at least one exact chunk — so with the
    default 8×8-bit chunks and ``max_hamming=7`` the output is EXACTLY
    ``{pairs : hamming(sketch) ≤ 7 ∧ cosine ≥ threshold}``, deterministic
    (a 4×16-bit split only guarantees Hamming ≤ 3 and measurably drops
    hamming-4..6 pairs whose diff bits spread across all four chunks).
    Scale trade-off: candidate volume grows as ``c·N²/2^chunk_bits`` — at
    ≥10⁶ vectors 16-bit chunks (coarser guarantee, far fewer bucket
    collisions) win; near-dup thresholds like 0.95 put expected hamming at
    64·acos(0.95)/π ≈ 6.5 of 64.

    ``chunk_bits=None`` (default) AUTO-SCALES on a corpus count: 8-bit
    chunks below :data:`CHUNK_BITS_CROSSOVER` vectors (full hamming ≤ 7
    guarantee), 16-bit above it (hamming ≤ 3 guarantee — ``max_hamming``
    is clamped to the pigeonhole bound so the output contract
    ``{pairs : hamming ≤ min(max_hamming, 64/chunk_bits − 1) ∧ cosine ≥
    threshold}`` stays exact and explicit, never silently incomplete).
    Pass 8 or 16 explicitly to pin the regime."""
    t = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                      rhp_sketch(F.col(vec_col), seed=seed).alias("_sk"))
    from pyspark import StorageLevel

    t = t.persist(StorageLevel.MEMORY_AND_DISK)
    if chunk_bits is None:
        # count the PERSISTED sketch table (needed by the joins below
        # anyway) — counting the raw corpus would execute its upstream
        # plan one extra time just to pick the regime
        chunk_bits = 8 if t.count() < CHUNK_BITS_CROSSOVER else 16
    assert 64 % chunk_bits == 0
    nchunks = 64 // chunk_bits
    # the blocking only guarantees hamming <= nchunks-1: clamp so the
    # emitted contract is exactly what the chunking can deliver
    max_hamming = min(max_hamming, nchunks - 1)
    mask = (1 << chunk_bits) - 1
    chunked = t.select(
        "_id", "_sk",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("ci"),
                     F.shiftright(F.col("_sk"), i * chunk_bits)
                     .bitwiseAND(F.lit(mask)).alias("cv"))
            for i in range(nchunks)
        ])).alias("c"),
    ).select("_id", "_sk", "c.ci", "c.cv")
    cand = (
        chunked.alias("a").join(
            chunked.alias("b"),
            (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.bit_count(F.col("a._sk").bitwiseXOR(F.col("b._sk")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    paired = (
        cand.join(t.select(F.col("_id").alias("id_a"),
                           F.col("_v").alias("_va")), "id_a")
        .join(t.select(F.col("_id").alias("id_b"),
                       F.col("_v").alias("_vb")), "id_b")
    )

    @F.pandas_udf("double")
    def pair_cos(va, vb):
        import numpy as np
        import pandas as pd

        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.array([np.asarray(x, dtype=np.float64) for x in va])
        b = np.array([np.asarray(x, dtype=np.float64) for x in vb])
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        return pd.Series((a * b).sum(axis=1) / (na * nb))

    # threshold on the UNROUNDED cosine (matching cosine_pairs_exact and
    # the DuckDB oracle), round only for output — filtering post-round
    # would admit boundary pairs in [threshold−5e-7, threshold)
    out = (
        paired.select("id_a", "id_b",
                      pair_cos(F.col("_va"), F.col("_vb")).alias("_raw"))
        .filter(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 6).alias("cosine"))
    )
    # materialize the (small) pair result and free the corpus-sized sketch
    # cache deterministically — repeated per-corpus calls in a long-lived
    # session leave no net-new cached blocks (the returned frame stays
    # persisted; callers may unpersist it)
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    t.unpersist()
    return out


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    chunk_bits: int | None = None,
    max_hamming: int = 7,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): documents whose EMBEDDINGS are
    near-identical (cosine ≥ ``threshold``) are semantic duplicates even
    when no token-level fingerprint matches — paraphrases, template
    rewrites, boilerplate re-renders. Groups them transitively and keeps
    one representative per group.

    Returns one row per corpus id: ``(id_col, component, keep)`` where
    ``component`` is the minimum id reachable through cosine-≥-threshold
    edges (its own id for semantically unique docs) and ``keep`` marks
    the minimum-id representative of each group — the same
    drop-set-producing shape as the MinHash text path, so the ledger's
    ``near_dup_drop_ids`` consumes ``keep = false`` ids directly.

    Shape at scale — the composition inherits both pieces' contracts:
    candidate generation is :func:`embedding_near_dup_pairs` (RHP sketch
    → chunk-block key-equality join, exact-cosine verify on candidates
    only, never all-pairs) and grouping is
    :func:`~valar_spark.textops.connected_components` (large-star/
    small-star over the EDGE list, O(log n) rounds). The final label join
    is corpus × (near-dup ids only) — at near-dup rates of a few percent
    the right side is small and AQE broadcasts it. Pass a precomputed
    ``pairs`` frame to share one candidate pass with other consumers
    (e.g. a pair-audit query), mirroring the ``sets=`` convention of the
    text operators."""
    from valar_spark.textops import connected_components

    p = pairs if pairs is not None else embedding_near_dup_pairs(
        corpus, threshold=threshold, max_hamming=max_hamming,
        id_col=id_col, vec_col=vec_col, seed=seed, chunk_bits=chunk_bits)
    comps = connected_components(p).withColumnRenamed("id", id_col)
    return (
        corpus.select(F.col(id_col))
        .join(comps, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).cast("long")
            .alias("component"))
        .withColumn("keep", F.col("component") == F.col(id_col))
    )


def embedding_exact_dup_clusters(df: DataFrame,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id") -> DataFrame:
    """Bit-identical duplicate VECTOR clusters: groups of rows whose
    embedding arrays are exactly equal element-for-element. Distinct
    vectors that are merely close belong to the near-dup sketch path
    (:func:`embedding_near_dup_pairs`); exact equality at fp32 almost
    never happens between independent encodings of different inputs, so
    a cluster here is a pipeline defect — the encoder returned its
    default/padding vector for failed inputs, a batch got written twice,
    or upstream dedup missed byte-identical docs that then encoded
    identically. Those degenerate constant vectors also poison ANN
    indexes (one IVF cell absorbs the whole failure class).

    Execution shape: ONE groupBy on the array column itself — map-side
    combined, shuffles (vector, partial count) pairs, never an all-pairs
    stage; the array is the grouping key so float formatting never
    enters (both engines compare the fp32 bits they read from parquet).
    Null vectors are excluded (the hygiene profile owns them); NaN
    elements group as equal under Spark/DuckDB grouping semantics —
    acceptable, since a NaN-bearing vector is already a
    :func:`embedding_profile` violation.

    Columns: ``(n_vecs, min_vec_id, max_vec_id)`` — one row per cluster
    with more than one member, ordered by ``min_vec_id``; the vector
    itself is deliberately not projected (scalar output keys the cluster
    by its smallest id)."""
    return (df.filter(F.col(vec_col).isNotNull())
            .groupBy(vec_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.min(id_col).alias("min_vec_id"),
                 F.max(id_col).alias("max_vec_id"))
            .filter(F.col("n_vecs") > 1)
            .select("n_vecs", "min_vec_id", "max_vec_id")
            .orderBy("min_vec_id"))
