"""Distribution-drift checks vs a baseline snapshot (BASELINE.json:6):
PSI and two-sample Kolmogorov–Smirnov.

Scale design: both statistics reduce the data to a FIXED-SIZE histogram
(one ``groupBy(side, bucket)`` shuffle over baseline ∪ current, ≤ 2·bins
rows leave the cluster), so they cost the same at 10^12 rows as at 10^4.
Every binning goes through one of two rules: :func:`edge_bucket` for
quantile edges and :func:`fixed_bucket` for fixed-width bins. The exact-KS
variant (global window over every distinct value) exists for small-scale
verification of the binned approximation and is clearly marked as
non-scalable.

No built-in 2-sample KS exists in Spark — these are custom aggregation
pipelines, still pure DataFrame ops (SURVEY.md §2.5).
"""

from __future__ import annotations

import functools
import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def quantile_edges(df: DataFrame, col: str, bins: int = 10,
                   accuracy: int = 10_000) -> list[float]:
    """Bin edges = baseline quantiles (equal-frequency), via the mergeable
    ``approx_percentile`` sketch — one pass, driver receives ``bins-1``
    numbers."""
    probs = [i / bins for i in range(1, bins)]
    row = df.select(
        F.percentile_approx(col, F.array(*[F.lit(p) for p in probs]),
                            F.lit(accuracy)).alias("q")
    ).first()
    edges: list[float] = []
    for v in row["q"] or []:
        fv = float(v)
        if not edges or fv > edges[-1]:
            edges.append(fv)  # drop duplicate edges on low-cardinality data
    return edges


def edge_bucket(col: str, edges: Sequence[float]) -> Column:
    """Bin of ``col`` over sorted ``edges``: the number of edges strictly
    below the value, so bin ``i`` is ``(e_i, e_{i+1}]``. The binning of
    :func:`histogram`, :func:`psi_by_group`, :func:`psi_timeline` and
    ``streaming.stream_value_histogram``; ``width_bucket`` only takes
    uniform bins, so this is a JVM-side higher-order-function count.

    The value is bound once per row by ``transform`` over a one-element
    array: a lambda over the column itself would evaluate the input
    expression once per edge after ``CollapseProject`` inlines it (for
    ``length(text)``, a full scan of the text per edge). Higher-order
    functions run interpreted, so the edges stay out of generated code and
    a new edge set compiles no new class."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    v = F.col(col).cast("double")
    return F.transform(F.array(v),
                       lambda x: F.size(F.filter(arr, lambda e: x > e)))[0]


def fixed_bucket(col: str, lo: float, width: float, nbins: int) -> Column:
    """Fixed-width bin ``floor((v − lo)/width)`` clamped to ``[0, nbins)``:
    the binning of :func:`emd_by_group` and the entry's fixed-bin gate
    projections, so a DuckDB oracle bins identically."""
    v = F.col(col).cast("double")
    return F.least(F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)),
                              F.lit(0)),
                   F.lit(nbins - 1)).cast("int")


def _side_counts(sides: Sequence[DataFrame], col: str,
                 edges: Sequence[float]) -> list[list[int]]:
    """Per-bin counts of ``col`` for each frame in ``sides`` from ONE
    ``groupBy(side, bucket)`` over their union: each side drops nulls of
    the raw column, then bins with :func:`edge_bucket`."""
    bucket = edge_bucket(col, edges)
    tagged = [df.filter(F.col(col).isNotNull())
              .select(F.lit(i).alias("side"), bucket.alias("bucket"))
              for i, df in enumerate(sides)]
    counts = (functools.reduce(DataFrame.unionAll, tagged)
              .groupBy("side", "bucket")
              .agg(F.count(F.lit(1)).alias("n"))
              .collect())
    out = [[0] * (len(edges) + 1) for _ in sides]
    for r in counts:
        out[r["side"]][r["bucket"]] += r["n"]
    return out


def histogram(df: DataFrame, col: str, edges: list[float]) -> list[int]:
    """Counts per bin (len(edges)+1 bins, (-inf, e1], …, (e_k, inf)) of
    the non-null values, binned by :func:`edge_bucket`. One hash
    aggregate: the one-frame case of the two-sided count :func:`psi` and
    :func:`ks_binned` run."""
    return _side_counts([df], col, edges)[0]


@dataclass(frozen=True)
class DriftResult:
    statistic: float
    threshold: float
    bins: int
    n_current: int
    n_baseline: int

    @property
    def drifted(self) -> bool:
        return self.statistic > self.threshold


def psi(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    bins: int = 10,
    threshold: float = 0.2,
    eps: float = 1e-6,
) -> DriftResult:
    """Population Stability Index over baseline-quantile bins:
    ``Σ (p−q)·ln(p/q)`` with epsilon smoothing. Conventional thresholds:
    <0.1 stable, 0.1–0.2 moderate, >0.2 drifted."""
    edges = quantile_edges(baseline, col, bins)
    q_counts, p_counts = _side_counts([baseline, current], col, edges)
    return psi_from_counts(p_counts, q_counts, threshold, eps)


def psi_by_group(
    df: DataFrame,
    col: str,
    group_col: str,
    bins: int = 10,
    eps: float = 1e-6,
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-SLICE drift: PSI of each group's ``col`` distribution against
    the WHOLE corpus, fully distributed — ``(group, n_rows, psi)`` with
    one output row per group. The slice monitor :func:`psi` can't give
    you without one driver round-trip per group: which language/source/
    day slice walked away from the corpus distribution. Binning is
    :func:`edge_bucket` (bucket = #edges < value), with global quantile
    ``edges`` by default or caller-fixed edges for cross-engine
    reproducibility.

    Shape at scale: one (group, bucket) aggregate (map-side combined;
    result is groups × (bins+1) rows), the global histogram and group
    totals derived from THAT small frame, missing buckets densified by a
    groups × buckets cross join of two tiny frames — the data rows
    shuffle once, everything after is cardinality-sized."""
    if edges is None:
        edges = quantile_edges(df, col, bins)
    v = F.col(col).cast("double")
    bucket = edge_bucket(col, edges)
    base = (df.filter(v.isNotNull() & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("grp"), bucket.alias("bucket")))
    gb = base.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("g_n"))
    glob = gb.groupBy("bucket").agg(F.sum("g_n").alias("q_n"))
    gt = gb.groupBy("grp").agg(F.sum("g_n").alias("gt"))
    qt = glob.agg(F.sum("q_n").alias("qt"))
    buckets = df.sparkSession.range(len(edges) + 1) \
        .select(F.col("id").cast("int").alias("bucket"))
    dense = (gt.crossJoin(F.broadcast(buckets))
             .join(gb, ["grp", "bucket"], "left")
             .join(F.broadcast(glob), "bucket", "left")
             .crossJoin(F.broadcast(qt)))
    p = F.greatest(F.coalesce(F.col("g_n"), F.lit(0)) / F.col("gt"),
                   F.lit(eps))
    q = F.greatest(F.coalesce(F.col("q_n"), F.lit(0)) / F.col("qt"),
                   F.lit(eps))
    return (
        dense.groupBy("grp")
        .agg(F.min("gt").cast("long").alias("n_rows"),
             F.round(F.sum((p - q) * F.log(p / q)), 9).alias("psi"))
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )


def psi_timeline(
    df: DataFrame,
    col: str,
    ts_col: str,
    granularity: str = "day",
    bins: int = 10,
    eps: float = 1e-6,
    edges: list[float] | None = None,
    threshold: float = 0.2,
) -> DataFrame:
    """Rolling drift: PSI of each TIME BUCKET's ``col`` distribution
    against the IMMEDIATELY PRECEDING bucket —
    ``(bucket_ts, n_rows, psi, drifted)``, one row per bucket from the
    second onward, ordered. This is the operational drift question the
    snapshot monitors (:func:`psi` vs a fixed baseline, halves splits)
    don't answer: *did yesterday's ingest walk away from the day
    before* — the alert you page on, because a slow week-long migration
    never trips a fixed-baseline threshold until it's already large.

    Binning is :func:`edge_bucket`, as in :func:`histogram` /
    :func:`psi_by_group` (bucket = #edges strictly below the value); pass
    caller-fixed ``edges`` for cross-engine reproducibility, else global
    quantile edges are derived once (NOT per bucket — per-bucket edges
    would make consecutive PSIs incomparable). ``q`` is the previous
    PRESENT bucket's share (lag over buckets that actually contain rows),
    so a calendar gap compares across it rather than against an empty
    day.

    Shape at scale: ONE data-sized (time-bucket, bin) aggregate
    (map-side combined); the per-bucket totals, the (#buckets × #bins)
    densify cross join of two tiny frames, and the lag window
    (partitioned by bin — ≤ bins+1 window partitions of #time-buckets
    rows each) all run on that cardinality-sized frame. At 10^12 rows ×
    daily buckets over a year the post-aggregate state is 365 × 11 rows.
    Counts are additive, so a streaming deployment maintains the same
    (bucket, bin) histogram incrementally and re-derives the timeline
    from counts alone (:func:`psi_from_counts` per adjacent pair)."""
    if edges is None:
        edges = quantile_edges(df, col, bins)
    v = F.col(col).cast("double")
    bucket = edge_bucket(col, edges)
    base = (df.filter(v.isNotNull() & F.col(ts_col).isNotNull())
            .select(F.date_trunc(granularity, F.col(ts_col)).alias("tb"),
                    bucket.alias("bucket")))
    gb = base.groupBy("tb", "bucket").agg(F.count(F.lit(1)).alias("g_n"))
    gt = gb.groupBy("tb").agg(F.sum("g_n").alias("gt"))
    nb = df.sparkSession.range(len(edges) + 1) \
        .select(F.col("id").cast("int").alias("bucket"))
    dense = (gt.crossJoin(F.broadcast(nb))
             .join(gb, ["tb", "bucket"], "left"))
    share = F.coalesce(F.col("g_n"), F.lit(0)) / F.col("gt")
    w = Window.partitionBy("bucket").orderBy("tb")
    lagged = dense.select(
        "tb", "gt", share.alias("p"), F.lag(share).over(w).alias("q"))
    p = F.greatest(F.col("p"), F.lit(eps))
    q = F.greatest(F.col("q"), F.lit(eps))
    return (
        lagged.filter(F.col("q").isNotNull())
        .groupBy("tb")
        .agg(F.min("gt").cast("long").alias("n_rows"),
             F.round(F.sum((p - q) * F.log(p / q)), 9).alias("psi"))
        .withColumn("drifted", F.col("psi") > F.lit(threshold))
        .withColumnRenamed("tb", "bucket_ts")
        .orderBy("bucket_ts")
    )


def volume_anomaly(
    df: DataFrame,
    ts_col: str,
    granularity: str = "day",
    trailing: int = 7,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Ingest-volume anomaly timeline: each time bucket's row count
    z-scored against the TRAILING ``trailing`` present buckets —
    ``(bucket_ts, n_rows, base_mean, base_std, z, anomalous)``, ordered.
    The volume twin of :func:`psi_timeline` (which watches the value
    *mix*; this watches the *mass*): a half-volume day is a dead
    upstream partition, a 5× day is a replay storm — neither moves a
    distribution monitor. ``z`` is null until ≥2 trailing buckets exist
    or when the trailing window is constant (std 0); ``anomalous`` fires
    on |z| > ``z_threshold``.

    Baseline is the trailing PRESENT buckets (same stance as
    :func:`psi_timeline`'s lag-over-present-days): a calendar gap is
    itself the anomaly to page on, and an RDB-style zero-fill would need
    a generated calendar spine. Sample stddev, rounded 6 (integer counts
    at double precision — engine-order differences live far below 1e-6).

    Shape at scale: ONE data-sized map-side-combined count per bucket;
    the rolling window runs over the cardinality-sized bucket frame
    (365 rows/year at daily granularity) — its single-partition sort is
    deliberate and bounded, the same stance as the drift timelines."""
    counts = (df.filter(F.col(ts_col).isNotNull())
              .groupBy(F.date_trunc(granularity, F.col(ts_col))
                       .alias("bucket_ts"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    w = (Window.orderBy("bucket_ts")
         .rowsBetween(-int(trailing), -1))
    base_n = F.count("n_rows").over(w)
    mean = F.avg("n_rows").over(w)
    std = F.stddev_samp("n_rows").over(w)
    z = F.when(
        (base_n >= 2) & std.isNotNull() & (std > 0),
        F.round((F.col("n_rows").cast("double") - mean) / std, 6))
    return (
        counts
        .select("bucket_ts", "n_rows",
                F.round(mean, 6).alias("base_mean"),
                # n=1 sample stddev is NaN on Spark but NULL on DuckDB —
                # pin the cross-engine contract to NULL
                F.when(base_n >= 2, F.round(std, 6)).alias("base_std"),
                z.alias("z"))
        .withColumn("anomalous",
                    F.coalesce(F.abs(F.col("z")) > float(z_threshold),
                               F.lit(False)))
        .orderBy("bucket_ts")
    )


def cusum_shift(
    df: DataFrame,
    ts_col: str,
    granularity: str = "day",
    baseline: int = 7,
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Tabular CUSUM control chart (Page 1954) on the ingest-volume
    series: each time bucket's row count standardized against the FIRST
    ``baseline`` present buckets, then accumulated into one-sided upper/
    lower cumulative sums — ``(bucket_ts, n_rows, z, s_pos, s_neg,
    alarm)``, ordered. The small-persistent-shift twin of
    :func:`volume_anomaly`: a trailing z-score only pages on a single
    bucket ``z_threshold``-σ out, so a permanent +1σ level shift (a new
    upstream shard, a silently doubled sampling rate) never fires it —
    CUSUM integrates the drift until it crosses ``h``. Classic SPC
    phase-I/phase-II split: the first ``baseline`` buckets estimate
    (μ, σ); every bucket is monitored.

    The textbook recursion ``s⁺_t = max(0, s⁺_{t-1} + z_t − k)`` is NOT
    run as a recursion: by the running-drawdown identity
    ``s⁺_t = C_t − min(0, min_{j≤t} C_j)`` with ``C_t = Σ_{i≤t}(z_i − k)``
    (and symmetrically ``s⁻`` over ``−z_i − k``), so the whole chart is
    two ordered cumulative sums plus their running minima — plain window
    expressions, bit-identical on any ANSI engine, no per-row Python and
    no recursive state. ``z``/``s⁺``/``s⁻`` are rounded 6 and the alarm
    compares the ROUNDED sums to ``h`` so the verdict is cross-engine
    stable. If fewer than 2 baseline buckets exist or the baseline is
    constant (σ = 0), the chart is undefined: z/s columns are NULL and
    ``alarm`` is FALSE (same null-contract stance as
    :func:`volume_anomaly`).

    Shape at scale: ONE data-sized map-side-combined count per bucket;
    the row_number + two cumsum/running-min windows run over the
    cardinality-sized bucket frame (365 rows/year at daily granularity)
    — the single-partition ordered pass is deliberate and bounded, the
    same stance as the drift timelines. Counts are additive, so a
    streaming deployment maintains per-bucket counts incrementally and
    re-derives the chart from counts alone."""
    counts = (df.filter(F.col(ts_col).isNotNull())
              .groupBy(F.date_trunc(granularity, F.col(ts_col))
                       .alias("bucket_ts"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    w_rn = Window.orderBy("bucket_ts")
    c = counts.withColumn("rn", F.row_number().over(w_rn))
    base = c.filter(F.col("rn") <= int(baseline)).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.avg("n_rows").alias("_mu"),
        F.stddev_samp("n_rows").alias("_sigma"),
    )
    ok = (F.col("_nb") >= 2) & F.col("_sigma").isNotNull() \
        & (F.col("_sigma") > 0)
    z = F.when(ok, (F.col("n_rows").cast("double") - F.col("_mu"))
               / F.col("_sigma"))
    wcum = (Window.orderBy("bucket_ts")
            .rowsBetween(Window.unboundedPreceding, 0))
    zc = c.crossJoin(F.broadcast(base)).select(
        "bucket_ts", "n_rows", z.alias("_z"))
    cum = zc.select(
        "bucket_ts", "n_rows", "_z",
        F.sum(F.col("_z") - F.lit(float(k))).over(wcum).alias("_cp"),
        F.sum(-F.col("_z") - F.lit(float(k))).over(wcum).alias("_cn"),
    )
    s_pos = F.round(
        F.col("_cp") - F.least(F.lit(0.0), F.min("_cp").over(wcum)), 6)
    s_neg = F.round(
        F.col("_cn") - F.least(F.lit(0.0), F.min("_cn").over(wcum)), 6)
    return (
        cum.select(
            "bucket_ts", "n_rows",
            F.round("_z", 6).alias("z"),
            s_pos.alias("s_pos"), s_neg.alias("s_neg"))
        .withColumn(
            "alarm",
            F.coalesce((F.col("s_pos") > float(h))
                       | (F.col("s_neg") > float(h)), F.lit(False)))
        .orderBy("bucket_ts")
    )


def js_by_group(
    df: DataFrame,
    cat_col: str,
    group_col: str,
) -> DataFrame:
    """Categorical slice drift: Jensen–Shannon divergence of each group's
    ``cat_col`` distribution against the WHOLE corpus —
    ``(group, n_rows, js)`` (nats, rounded 9), one row per slice. The
    categorical twin of :func:`psi_by_group` (value mix per
    language/source/day slice); JS needs no epsilon smoothing — a
    category absent from one side contributes its ``0·ln0 = 0`` term —
    and is symmetric + bounded by ln 2.

    Shape at scale: one (group, category) aggregate, the corpus
    distribution and group totals derived from that cardinality-sized
    frame, densified by a groups × categories cross join of two tiny
    frames. Null categories count as a category (sentinel-encoded —
    equi-join keys must be non-null); null groups drop."""
    base = (df.filter(F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("grp"),
                    F.coalesce(F.col(cat_col).cast("string"),
                               F.lit("__null__")).alias("val")))
    gb = base.groupBy("grp", "val").agg(F.count(F.lit(1)).alias("g_n"))
    glob = gb.groupBy("val").agg(F.sum("g_n").alias("q_n"))
    gt = gb.groupBy("grp").agg(F.sum("g_n").alias("gt"))
    qt = glob.agg(F.sum("q_n").alias("qt"))
    vals = glob.select("val")
    dense = (gt.crossJoin(F.broadcast(vals))
             .join(gb, ["grp", "val"], "left")
             .join(F.broadcast(glob), "val")
             .crossJoin(F.broadcast(qt)))
    p = F.coalesce(F.col("g_n"), F.lit(0)) / F.col("gt")
    q = F.col("q_n") / F.col("qt")
    m = (p + q) / 2
    term = (F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0)))
    return (
        dense.groupBy("grp")
        .agg(F.min("gt").cast("long").alias("n_rows"),
             F.round(F.sum(term), 9).alias("js"))
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )


def emd_by_group(
    df: DataFrame,
    col: str,
    group_col: str,
    lo: float = 0.0,
    width: float = 50.0,
    nbins: int = 10,
) -> DataFrame:
    """Per-slice Wasserstein-1 drift: the W1 distance of each group's
    ``col`` distribution from the WHOLE corpus over fixed-width bins —
    ``(group, n_rows, emd)`` with ``emd = width · Σ_k |CDF_g(k) −
    CDF_corpus(k)|``, one row per slice. The value-units companion of
    :func:`psi_by_group` / :func:`js_by_group`: PSI/JS tell you a slice's
    mix SHIFTED, W1 tells you by HOW MUCH in the column's own units
    (the "this language's length distribution sits 120 chars above the
    corpus" alert). Binning is :func:`fixed_bucket`
    (``floor((v − lo)/width)`` clamped to ``[0, nbins)``), the rule the
    fixed-bin gate projections use, so a DuckDB oracle bins identically.

    Shape at scale: one (group, bucket) map-side-combined aggregate over
    the data; everything after — densify (groups × nbins cross join of
    two tiny frames), the per-group cumulative window (≤nbins rows per
    group), the final per-group sum — is cardinality-sized. Null values
    and null groups drop."""
    v = F.col(col).cast("double")
    bucket = fixed_bucket(col, lo, width, nbins)
    base = (df.filter(v.isNotNull() & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("grp"), bucket.alias("bucket")))
    gb = base.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("g_n"))
    glob = gb.groupBy("bucket").agg(F.sum("g_n").alias("q_n"))
    gt = gb.groupBy("grp").agg(F.sum("g_n").alias("gt"))
    qt = glob.agg(F.sum("q_n").alias("qt"))
    buckets = df.sparkSession.range(nbins) \
        .select(F.col("id").cast("int").alias("bucket"))
    dense = (gt.crossJoin(F.broadcast(buckets))
             .join(gb, ["grp", "bucket"], "left")
             .join(F.broadcast(glob), "bucket", "left")
             .crossJoin(F.broadcast(qt)))
    w = (Window.partitionBy("grp").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = dense.select(
        "grp", "gt",
        (F.sum(F.coalesce(F.col("g_n"), F.lit(0))).over(w)
         / F.col("gt")).alias("cp"),
        (F.sum(F.coalesce(F.col("q_n"), F.lit(0))).over(w)
         / F.col("qt")).alias("cq"),
    )
    return (
        cum.groupBy("grp")
        .agg(F.min("gt").cast("long").alias("n_rows"),
             F.round(F.sum(F.abs(F.col("cp") - F.col("cq")))
                     * F.lit(width), 9).alias("emd"))
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )


def counts_from_pairs(pairs, bins: int) -> list[int]:
    """Zero-filled histogram list from sparse ``(bucket, n)`` pairs — the
    densify step between ``streaming.stream_value_histogram`` output
    (which emits only NON-EMPTY buckets) and :func:`psi_from_counts`
    (which requires equal-length lists over the same edges)."""
    out = [0] * bins
    for b, n in pairs:
        out[int(b)] += int(n)
    return out


def psi_from_counts(
    p_counts: list[int],
    q_counts: list[int],
    threshold: float = 0.2,
    eps: float = 1e-6,
) -> DriftResult:
    """PSI from two pre-binned histograms (same edges). This is the merge
    step drift monitoring needs at scale: histograms are tiny and additive,
    so a streaming window (``streaming.stream_value_histogram``) or a
    per-partition sketch reduces to bounded counts and the statistic is
    computed driver-side from ≤bins numbers."""
    if len(p_counts) != len(q_counts):
        raise ValueError(
            f"psi_from_counts: histogram lengths differ "
            f"({len(p_counts)} vs {len(q_counts)}) — both sides must be "
            "binned over the SAME edges")
    n_p, n_q = sum(p_counts), sum(q_counts)
    stat = 0.0
    for pc, qc in zip(p_counts, q_counts):
        p = max(pc / max(n_p, 1), eps)
        q = max(qc / max(n_q, 1), eps)
        stat += (p - q) * math.log(p / q)
    return DriftResult(stat, threshold, len(p_counts), n_p, n_q)


def js_divergence_from_counts(
    p_counts: list[int],
    q_counts: list[int],
    threshold: float = 0.1,
) -> DriftResult:
    """Jensen–Shannon divergence (natural log, so the range is [0, ln 2])
    from two pre-binned histograms over the SAME edges — the symmetric,
    bounded companion to PSI (PSI blows up on empty bins; JS does not, so
    it is the better alert statistic for sparse/spiky histograms). Same
    merge-at-scale shape as :func:`psi_from_counts`: the cluster reduces
    to ≤bins counts, the statistic is driver-side arithmetic. No epsilon
    floor anywhere: the ``p>0``/``q>0`` guards already keep every log
    argument positive (``m ≥ p/2 > 0``), and a floor would silently
    diverge from the eps-free oracle projection on extreme-ratio bins."""
    if len(p_counts) != len(q_counts):
        raise ValueError(
            f"js_divergence_from_counts: histogram lengths differ "
            f"({len(p_counts)} vs {len(q_counts)})")
    n_p, n_q = max(sum(p_counts), 1), max(sum(q_counts), 1)
    stat = 0.0
    for pc, qc in zip(p_counts, q_counts):
        p = pc / n_p
        q = qc / n_q
        m = (p + q) / 2.0
        if p > 0:
            stat += 0.5 * p * math.log(p / m)
        if q > 0:
            stat += 0.5 * q * math.log(q / m)
    return DriftResult(stat, threshold, len(p_counts), sum(p_counts),
                       sum(q_counts))


def emd_from_counts(
    p_counts: list[int],
    q_counts: list[int],
    bin_width: float = 1.0,
    threshold: float = 10.0,
) -> DriftResult:
    """Wasserstein-1 / earth-mover's distance between two equal-width
    histograms over the SAME edges: ``W1 = bin_width · Σ_k |CDF_p(k) −
    CDF_q(k)|`` — the exact W1 of the binned distributions (mass placed
    at bin positions). The drift statistic the KS/PSI/JS trio lacks:
    KS sees only the worst single gap, PSI/JS are shift-magnitude-blind
    (a distribution moved one bin or ten bins scores the same once
    supports disjoin); W1 is IN VALUE UNITS and grows linearly with how
    far the mass moved, which is what a "p95 latency walked up 40ms"
    alert needs. Same merge-at-scale shape as the siblings: the cluster
    reduces each side to ≤bins counts (one aggregation shuffle), the
    statistic is driver-side arithmetic over the merged histograms."""
    if len(p_counts) != len(q_counts):
        raise ValueError(
            f"emd_from_counts: histogram lengths differ "
            f"({len(p_counts)} vs {len(q_counts)}) — both sides must be "
            "binned over the SAME edges")
    n_p, n_q = max(sum(p_counts), 1), max(sum(q_counts), 1)
    cp = cq = 0.0
    stat = 0.0
    for pc, qc in zip(p_counts, q_counts):
        cp += pc / n_p
        cq += qc / n_q
        stat += abs(cp - cq)
    return DriftResult(stat * bin_width, threshold, len(p_counts),
                       sum(p_counts), sum(q_counts))


def chi2_from_counts(
    p_counts: list[int],
    q_counts: list[int],
    threshold: float = 0.0,
) -> DriftResult:
    """Two-sample chi-squared statistic from pre-binned histograms —
    ``Σ (o_ij − e_ij)² / e_ij`` over the 2×bins contingency table (bins
    empty on BOTH sides contribute nothing). ``threshold`` is the
    chi-squared CRITICAL VALUE the caller looks up for
    df = nonzero_bins − 1 at their alpha; with the statistic-only default
    of 0 the ``drifted`` property is True for ANY nonzero statistic
    (i.e. meaningless) — callers alerting on this check must pass a real
    critical value."""
    if len(p_counts) != len(q_counts):
        raise ValueError(
            f"chi2_from_counts: histogram lengths differ "
            f"({len(p_counts)} vs {len(q_counts)})")
    n_p, n_q = sum(p_counts), sum(q_counts)
    total = n_p + n_q
    stat = 0.0
    used_bins = 0
    for pc, qc in zip(p_counts, q_counts):
        col = pc + qc
        if col == 0 or total == 0:
            continue
        used_bins += 1
        for obs, n_side in ((pc, n_p), (qc, n_q)):
            exp = col * n_side / total
            if exp > 0:
                stat += (obs - exp) ** 2 / exp
    return DriftResult(stat, threshold, used_bins, n_p, n_q)


def ks_binned(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    bins: int = 256,
    threshold: float | None = None,
) -> DriftResult:
    """Two-sample KS statistic approximated on shared quantile bins:
    ``D = max |ECDF_p − ECDF_q|`` evaluated at bin edges. With ``bins``
    edges the approximation error is ≤ 1/bins of mass per side — 256 bins
    is ample for drift gating. Default threshold = the asymptotic 95%
    critical value ``1.358·sqrt((n+m)/(n·m))``."""
    both = baseline.select(F.col(col)).unionAll(current.select(F.col(col)))
    edges = quantile_edges(both, col, bins)
    q_counts, p_counts = _side_counts([baseline, current], col, edges)
    n_p, n_q = sum(p_counts), sum(q_counts)
    d = 0.0
    cp = cq = 0
    for pc, qc in zip(p_counts, q_counts):
        cp += pc
        cq += qc
        d = max(d, abs(cp / max(n_p, 1) - cq / max(n_q, 1)))
    if threshold is None:
        threshold = (
            1.358 * math.sqrt((n_p + n_q) / max(n_p * n_q, 1))
            if n_p and n_q else 1.0
        )
    return DriftResult(d, threshold, len(edges) + 1, n_p, n_q)


def ks_exact(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    threshold: float | None = None,
) -> DriftResult:
    """EXACT two-sample KS via ECDFs over the union of values.

    ⚠ Uses an un-partitioned window (global ordering) — correct but
    single-reducer; small-scale verification only. Use :func:`ks_binned`
    in production (SURVEY.md §2.5 KS row)."""
    cur = current.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()).withColumn("src", F.lit(1))
    base = baseline.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()).withColumn("src", F.lit(0))
    n_p = cur.count()
    n_q = base.count()
    u = cur.unionAll(base)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = u.select(
        "v",
        (F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).over(w) / n_p).alias("cdf_p"),
        (F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).over(w) / n_q).alias("cdf_q"),
    )
    # evaluate at the last row of each tie group (max v per value)
    d = (
        ecdf.groupBy("v")
        .agg(F.max("cdf_p").alias("cdf_p"), F.max("cdf_q").alias("cdf_q"))
        .select(F.max(F.abs(F.col("cdf_p") - F.col("cdf_q"))).alias("d"))
        .first()["d"]
    )
    if threshold is None:
        threshold = (
            1.358 * math.sqrt((n_p + n_q) / max(n_p * n_q, 1))
            if n_p and n_q else 1.0
        )
    return DriftResult(float(d), threshold, 0, n_p, n_q)


def drift_violation_row(spark, result: DriftResult, col: str, kind: str,
                        rule_id: str | None = None) -> DataFrame:
    """One violation row when a drift check trips; empty frame otherwise."""
    from . import errors as E
    from .dataset_rules import VIOLATION_COLS
    from .runner import _local_frame

    rule_id = rule_id or f"dataset.drift_{kind}.{col}"
    code = E.CODE_DRIFT_PSI if kind == "psi" else E.CODE_DRIFT_KS
    rows = []
    if result.drifted:
        rows.append((
            rule_id, None, None, None, [col],
            f"{kind.upper()} drift on {col}: statistic "
            f"{result.statistic:.6f} > threshold {result.threshold:.6f} "
            f"(bins={result.bins}, n={result.n_current}, "
            f"baseline_n={result.n_baseline})",
            code, None, f"<= {result.threshold:.6f}",
            f"{result.statistic:.6f}",
        ))
    schema = ("rule_id string, conv_id string, turn_idx string, "
              "partition_id int, field_path array<string>, message string, "
              "code string, severity string, expected string, actual string")
    return _local_frame(spark, rows, schema).select(*VIOLATION_COLS)


def token_drift(
    df_base: DataFrame,
    df_cur: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """TEXT-distribution drift between two corpus snapshots: the
    Jensen–Shannon divergence of their (lowercased whitespace-)token
    unigram distributions, attributed to the top-``k`` moving tokens.
    The numeric/categorical drift family answers "did this COLUMN's mix
    shift"; this answers the corpus-level "did the LANGUAGE shift" — a
    template flooding in, a domain's vocabulary washing out, a scraper
    feeding boilerplate — which no per-column statistic sees. Each output
    row is one mover: its counts, relative frequencies, its (signed-less)
    JS contribution, and the snapshot-pair total.

    Ranking is INTEGER-EXACT: movers order by the cross-multiplied
    absolute frequency delta ``|n_cur·T_base − n_base·T_cur|`` computed
    in DECIMAL(38,0) (exact at 10^12-token totals where int64 products
    overflow and where a float/libm-``ln`` ranking key could reorder the
    top-k boundary between engines by an ulp — the salient_terms
    lesson); the rounded JS terms are informational payload. Ties break
    on the token string.

    Shape at scale: one token-keyed aggregate per snapshot (map-side
    combined, result ≈ vocabulary size), a full-outer vocabulary join on
    the token key, broadcast totals, distributed TakeOrdered for the
    top-k. Never a row-level join between the snapshots.

    Columns: ``(token, n_base, n_cur, p_base, p_cur, js_contrib,
    js_total)`` ordered by the exact delta DESC, token ASC."""
    from valar_spark.textops import tokens

    def counts(df, alias):
        return (df.filter(F.col(text_col).isNotNull())
                .select(F.explode(tokens(F.lower(F.col(text_col))))
                        .alias("token"))
                .groupBy("token")
                .agg(F.count(F.lit(1)).cast("long").alias(alias)))

    cb, cc = counts(df_base, "n_base"), counts(df_cur, "n_cur")
    tb = cb.agg(F.sum("n_base").alias("t_base"))
    tc = cc.agg(F.sum("n_cur").alias("t_cur"))
    vocab = (cb.join(cc, "token", "full_outer")
             .select("token",
                     F.coalesce("n_base", F.lit(0)).alias("n_base"),
                     F.coalesce("n_cur", F.lit(0)).alias("n_cur"))
             .crossJoin(F.broadcast(tb))
             .crossJoin(F.broadcast(tc)))
    p = F.col("n_base") / F.col("t_base")
    q = F.col("n_cur") / F.col("t_cur")
    m = (p + q) / 2
    term = (F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
            + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0)))
    dec = "decimal(38,0)"
    delta = F.abs(F.col("n_cur").cast(dec) * F.col("t_base").cast(dec)
                  - F.col("n_base").cast(dec) * F.col("t_cur").cast(dec))
    scored = vocab.select(
        "token", "n_base", "n_cur",
        F.round(p, 9).alias("p_base"),
        F.round(q, 9).alias("p_cur"),
        F.round(term, 9).alias("js_contrib"),
        delta.alias("_delta"))
    total = scored.agg(
        F.round(F.sum("js_contrib"), 9).alias("js_total"))
    return (scored
            .orderBy(F.col("_delta").desc(), F.col("token").asc())
            .limit(int(k))
            .crossJoin(F.broadcast(total))
            .orderBy(F.col("_delta").desc(), F.col("token").asc())
            .drop("_delta"))
