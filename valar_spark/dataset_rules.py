"""Dataset-level rules (SURVEY.md §2.5 — obligated by BASELINE.json:6,
absent from the single-value reference): uniqueness, referential integrity,
per-column stats profiles with mergeable sketches, domain checks, ordering
invariants, and per-turn text equality.

Every rule is a stock DataFrame program — shuffles only where semantically
required (the key agg / anti-join), broadcast for small reference sides,
AQE handles skew. Each has two faces:

- an *analytic* function returning the natural result frame (used directly
  and by the DuckDB-oracle queries in ``__spark_entry__.py``), and
- a ``*_violations`` adapter emitting rows in the engine's violation schema
  so dataset findings union with row-rule findings in one report.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from . import errors as E

VIOLATION_COLS = ("rule_id", "conv_id", "turn_idx", "partition_id",
                  "field_path", "message", "code", "severity",
                  "expected", "actual")


def _as_violations(
    df: DataFrame,
    rule_id: str,
    code: str,
    message: Column,
    *,
    keys: Sequence[str] = (),
    key_aliases: Sequence[str] = ("conv_id", "turn_idx"),
    field_path: Sequence[str] = (),
    expected: Column | str | None = None,
    actual: Column | str | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    cols = [F.lit(rule_id).alias("rule_id")]
    for i, alias in enumerate(key_aliases):
        src = F.col(keys[i]).cast("string") if i < len(keys) else F.lit(None).cast("string")
        cols.append(src.alias(alias))
    cols.append((bucket if bucket is not None else F.lit(None).cast("int"))
                .alias("partition_id"))
    cols.append(F.array(*[F.lit(s) for s in field_path]).cast("array<string>")
                .alias("field_path"))
    cols.append(message.cast("string").alias("message"))
    cols.append(F.lit(code).alias("code"))
    cols.append(F.lit(None).cast("string").alias("severity"))
    exp = expected if isinstance(expected, Column) else F.lit(expected)
    act = actual if isinstance(actual, Column) else F.lit(actual)
    cols.append(exp.cast("string").alias("expected"))
    cols.append(act.cast("string").alias("actual"))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Uniqueness (BASELINE.json:6 "uniqueness of (conv_id, turn_idx)")
# ---------------------------------------------------------------------------


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key groups appearing more than once: ``(*keys, dup_count)``.

    One hash-aggregate shuffle on the key columns; map-side partial
    aggregation keeps the shuffle small when duplicates are rare. AQE
    splits skewed reducers."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame, keys: Sequence[str], rule_id: str = "dataset.uniqueness"
) -> DataFrame:
    dups = duplicate_keys(df, keys)
    return _as_violations(
        dups,
        rule_id,
        E.CODE_DUPLICATE_KEY,
        F.concat(F.lit(f"Duplicate key ({', '.join(keys)}): seen "),
                 F.col("dup_count").cast("string"), F.lit(" times")),
        keys=keys,
        field_path=keys,
        expected="unique key",
        actual=F.col("dup_count"),
    )


def divergent_duplicates(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    content_col: str = "text",
) -> DataFrame:
    """Triage duplicate key groups by content agreement:
    ``(*keys, dup_count, n_variants, kind)`` where ``kind`` is
    ``exact_replay`` (every copy carries byte-identical content — a
    benign retry/replay/backfill artifact, safe to auto-dedup) or
    ``divergent`` (copies disagree — a branched regeneration or a
    corruption, which needs human triage before any copy is dropped).

    :func:`duplicate_keys` answers *which* keys are duplicated; this
    answers *whether the duplicates are interchangeable* — the question a
    100-TB operator actually has to settle before deleting rows. A NULL
    content value counts as its own variant (NULL vs text is divergence).

    Scale: the standard two-exchange distinct-aggregate plan — a partial
    aggregate keyed on ``(*keys, md5(content))`` collapses the
    non-duplicated bulk map-side to one row per (key, digest) BEFORE the
    first exchange, and the second exchange re-keys those survivors on
    the key columns alone. Content never crosses a shuffle as text, only
    as its 128-bit ``md5`` digest (the NUL sentinel keeps NULL distinct
    from every real text). No window, no self-join, no second scan of
    the table.
    """
    digest = F.md5(F.coalesce(F.col(content_col), F.lit("\x00")))
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.countDistinct(digest).alias("n_variants"))
        .filter(F.col("dup_count") > 1)
        .withColumn(
            "kind",
            F.when(F.col("n_variants") > 1, F.lit("divergent"))
            .otherwise(F.lit("exact_replay")))
    )


# ---------------------------------------------------------------------------
# Referential integrity (BASELINE.json:6 — conv_id ⊆ registry)
# ---------------------------------------------------------------------------


def orphan_keys(
    child: DataFrame,
    child_key: str | Sequence[str],
    parent: DataFrame,
    parent_key: str | Sequence[str] | None = None,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Distinct child keys with no parent — LEFT ANTI join, the async
    membership check of the reference (AsyncValidatorSpec.scala:56-65)
    re-expressed as a join (SURVEY.md §2.4). Returns
    ``(*child_key, orphan_rows)``.

    The parent side is deduplicated to its key and broadcast when small
    (registry ≪ facts); otherwise a shuffled anti-join with AQE skew
    handling. Child is pre-aggregated to distinct keys FIRST so the join
    input is |distinct keys|, not |rows|."""
    ck = [child_key] if isinstance(child_key, str) else list(child_key)
    pk = ck if parent_key is None else (
        [parent_key] if isinstance(parent_key, str) else list(parent_key))
    child_keys = child.groupBy(*ck).agg(F.count(F.lit(1)).alias("orphan_rows"))
    parent_keys = parent.select(*[F.col(p).alias(c) for p, c in zip(pk, ck)]).dropDuplicates(ck)
    if broadcast_parent:
        parent_keys = F.broadcast(parent_keys)
    return child_keys.join(parent_keys, ck, "left_anti")


def referential_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str | None = None,
    rule_id: str = "dataset.referential_integrity",
    broadcast_parent: bool = True,
) -> DataFrame:
    orphans = orphan_keys(child, child_key, parent, parent_key,
                          broadcast_parent=broadcast_parent)
    return _as_violations(
        orphans,
        rule_id,
        E.CODE_REF_INTEGRITY,
        F.concat(F.lit(f"{child_key} not present in reference table ("),
                 F.col("orphan_rows").cast("string"),
                 F.lit(" child rows affected)")),
        keys=[child_key],
        field_path=[child_key],
        expected="key present in reference table",
        actual=F.col(child_key),
    )


def bloom_parameters(n_keys: int, fpp: float = 1e-6) -> tuple[int, int]:
    """Standard Bloom sizing (Bloom 1970): optimal bit count
    ``m = ⌈−n·ln(fpp)/ln²2⌉`` rounded up to a whole byte, and hash count
    ``k = round(m/n·ln 2)``, clamped to ≥ 1."""
    import math

    n = max(int(n_keys), 1)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(key: Column, num_bits: int, num_hashes: int,
                     seed: int) -> list[Column]:
    """The ``num_hashes`` bit positions of a key: independent JVM-side
    ``xxhash64`` draws (one per seed), reduced mod ``num_bits``. Keys
    are hashed as strings so child/parent dtype mismatches (int vs
    string ids) can't silently hash to disjoint positions."""
    return [
        F.pmod(F.xxhash64(key.cast("string"), F.lit(seed + i)),
               F.lit(num_bits)).alias(f"_bp{i}")
        for i in range(num_hashes)
    ]


#: executor-side OR fan-in per tree level of the Bloom bitmap merge
_BLOOM_MERGE_FANIN = 64


def _bloom_bitmap_rows(df: DataFrame, key_col: str, num_bits: int,
                       num_hashes: int, seed: int) -> DataFrame:
    """The distributed half of :func:`build_key_bloom`: per-partition
    bitmap rows reduced EXECUTOR-SIDE to a single row by a fan-in-
    ``_BLOOM_MERGE_FANIN`` OR tree (repartition + ``mapInPandas`` OR per
    level). Returned as a 1-row DataFrame so the driver's collect
    receives one ``num_bits/8``-byte bitmap REGARDLESS of the parent's
    partition count — the r5 review's scale hole was the driver ORing
    one bitmap row per partition (a 10⁸-key parent scanned as ~1000
    partitions shipped ~1000 × 125 MB to the driver; now those bytes
    cross the executor-side shuffle, whose job this is). OR is
    associative and commutative, so the merged bitmap is bit-identical
    under any tree shape."""
    import math

    nb = int(num_bits)
    pos = _bloom_positions(F.col(key_col), nb, num_hashes, seed)
    slim = df.filter(F.col(key_col).isNotNull()).select(*pos)

    def _part(it):
        import numpy as np
        import pandas as pd

        bm = np.zeros(nb // 8, dtype=np.uint8)
        seen = False
        for pdf in it:
            seen = True
            for c in pdf.columns:
                p = pdf[c].to_numpy(dtype=np.int64)
                np.bitwise_or.at(
                    bm, p >> 3,
                    np.left_shift(np.uint8(1), (p & 7).astype(np.uint8)))
        if seen:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    def _or_rows(it):
        import numpy as np
        import pandas as pd

        bm = None
        for pdf in it:
            for b in pdf["bm"]:
                arr = np.frombuffer(b, dtype=np.uint8)
                bm = arr.copy() if bm is None else bm | arr
        if bm is not None:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    merged = slim.mapInPandas(_part, schema="bm binary")
    nparts = slim.rdd.getNumPartitions()
    while nparts > 1:
        nparts = max(1, math.ceil(nparts / _BLOOM_MERGE_FANIN))
        merged = merged.repartition(nparts).mapInPandas(
            _or_rows, schema="bm binary")
    return merged


def build_key_bloom(df: DataFrame, key_col: str, num_bits: int,
                    num_hashes: int, seed: int = 1105) -> bytes:
    """Distributed Bloom-filter build over a key column: each partition
    reduces to ONE ``num_bits/8``-byte bitmap row inside a single
    ``mapInPandas`` pass (positions are computed JVM-side by
    ``xxhash64``; the Python side is pure numpy bit-OR — no per-row
    Python), per-partition rows are OR-merged executor-side in a fan-in
    tree (:func:`_bloom_bitmap_rows`), and the driver receives exactly
    one bitmap. This is the same shape as Spark's own injected runtime
    bloom filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``,
    BloomFilterAggregate): insertion is bitwise OR, hence
    order-independent and DETERMINISTIC for fixed (num_bits,
    num_hashes, seed) regardless of partitioning. Driver traffic is one
    ``num_bits/8``-byte row however many partitions the parent scan
    has — a 10⁹-bit filter for 10⁸ dim keys is 125 MB once,
    broadcastable where the key SET is not."""
    nb = int(num_bits)
    if nb % 8:
        raise ValueError(f"num_bits must be a multiple of 8, got {nb}")
    import numpy as np

    rows = _bloom_bitmap_rows(df, key_col, nb, num_hashes, seed).collect()
    out = np.zeros(nb // 8, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(r.bm, dtype=np.uint8)
    return out.tobytes()


def bloom_absent_rows(
    df: DataFrame,
    key_col: str,
    bitmap: bytes,
    num_bits: int,
    num_hashes: int,
    seed: int = 1105,
) -> DataFrame:
    """Rows of ``df`` whose ``key_col`` the Bloom ``bitmap`` PROVES
    absent (all original columns preserved; NULL keys included — a
    non-null-keyed filter can never contain them). Stateless — a
    broadcast read plus a numpy gather per Arrow batch — so it runs
    identically over a batch frame or a STREAMING frame (no state
    store, no watermark): the shared probe under
    :func:`bloom_orphan_keys` and
    :func:`valar_spark.streaming.stream_orphan_flags`."""
    bc = df.sparkSession.sparkContext.broadcast(bitmap)
    cols = df.columns
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                    for f in df.schema.fields)
    pos = _bloom_positions(F.col(key_col), int(num_bits), num_hashes,
                           seed)
    probe = df.select(*cols, F.col(key_col).isNull().alias("_knull"),
                      *pos)
    pcols = [f"_bp{i}" for i in range(num_hashes)]

    def _screen(it):
        import numpy as np

        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in it:
            hit = np.ones(len(pdf), dtype=bool)
            for c in pcols:
                p = pdf[c].to_numpy(dtype=np.int64)
                hit &= ((bm[p >> 3] >> (p & 7).astype(np.uint8)) & 1) \
                    .astype(bool)
            hit &= ~pdf["_knull"].to_numpy(dtype=bool)
            out = pdf.loc[~hit, cols]
            if len(out):
                yield out

    return probe.mapInPandas(_screen, schema=ddl)


def bloom_orphan_keys(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str | None = None,
    num_bits: int = 1 << 23,
    num_hashes: int = 7,
    seed: int = 1105,
) -> DataFrame:
    """Referential-integrity PRE-SCREEN via a Bloom filter of the parent
    keys: distinct child keys the filter PROVES absent from the parent —
    ``(child_key, orphan_rows)``, a guaranteed SUBSET of
    :func:`orphan_keys` (Bloom filters have no false negatives on
    membership, so a "definitely not present" verdict is exact; a false
    positive only ever HIDES an orphan, never invents one). NULL child
    keys are force-flagged (the non-null parent side can never contain
    them), matching the exact path's anti-join semantics.

    This is the 100-TB RI shape when the parent key set is too large to
    broadcast as a set and a full shuffled anti-join of the fact table
    is the cost you are trying to avoid: the bitmap (125 MB per 10⁸
    keys at ~9.6 bits/key) broadcasts where the key set cannot, the
    fact side reduces map-side to distinct keys, and the probe is a
    narrow projection — NO shuffle of the fact table against the
    parent. Run it continuously; escalate to :func:`orphan_keys` only
    when the screen fires or for periodic exactness audits. Miss
    probability per orphan ≈ (1−e^{−kn/m})^k — size with
    :func:`bloom_parameters`. Deterministic for fixed parameters (seeded
    xxhash64, order-independent build). Mirrors the design of Spark's
    injected runtime bloom-filter join pre-filter, surfaced as a data-
    quality verdict instead of a physical-plan rewrite."""
    pk = child_key if parent_key is None else parent_key
    bitmap = build_key_bloom(parent, pk, num_bits, num_hashes, seed)
    child_keys = (child.groupBy(child_key)
                  .agg(F.count(F.lit(1)).alias("orphan_rows")))
    return bloom_absent_rows(child_keys, child_key, bitmap,
                             num_bits, num_hashes, seed)


# ---------------------------------------------------------------------------
# Domain membership at dataset grain (role/tool checks as a report)
# ---------------------------------------------------------------------------


def disjoint_keys(
    df: DataFrame,
    col: str,
    other: DataFrame,
    other_col: str | None = None,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` value APPEARS in ``other`` — the
    INVERSE of referential integrity: membership is the violation. The
    train/holdout ID-leakage check (eval user_ids must not occur in the
    training events; cf. the content-level contamination screen in
    textops). One left-semi join on the key — broadcast when the holdout
    set is small, shuffled hash otherwise (AQE decides); only the key
    column of ``other`` is ever read."""
    oc = other_col or col
    ref = other.select(F.col(oc).alias(col)).distinct()
    return df.join(ref, col, "left_semi")


def disjointness_violations(
    df: DataFrame,
    col: str,
    other: DataFrame,
    other_col: str | None = None,
    keys: Sequence[str] = (),
    rule_id: str = "dataset.disjointness",
) -> DataFrame:
    bad = disjoint_keys(df, col, other, other_col)
    return _as_violations(
        bad,
        rule_id,
        E.CODE_DISJOINTNESS,
        F.concat(F.lit(f"{col} value "), F.col(col).cast("string"),
                 F.lit(" present in the excluded set")),
        keys=list(keys) or [col],
        field_path=[col],
        expected="absent from excluded set",
        actual=F.col(col).cast("string"),
    )


def domain_breakdown(df: DataFrame, col: str, allowed: Sequence[str]) -> DataFrame:
    """Per-value counts of out-of-domain values: ``(value, n)``."""
    return (
        df.filter(F.col(col).isNull() | ~F.col(col).isin(*allowed))
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def iqr_outliers(df: DataFrame, col: str, k: float = 1.5,
                 approx: bool = False) -> DataFrame:
    """Rows whose ``col`` falls outside the Tukey fences
    ``[q1 − k·IQR, q3 + k·IQR]`` — the classic numeric-outlier dataset
    rule. One quantile aggregate (exact ``percentile`` for
    oracle-checkable runs; ``approx=True`` switches to the mergeable
    ``percentile_approx`` sketch for 10^12-row tables) broadcast against
    the scan — no shuffle of the data rows themselves. Nulls are never
    outliers (they're the null-rate rule's business)."""
    qfn = F.percentile_approx if approx else F.percentile
    bounds = df.agg(
        qfn(col, F.lit(0.25)).alias("_q1"),
        qfn(col, F.lit(0.75)).alias("_q3"),
    ).select(
        (F.col("_q1") - k * (F.col("_q3") - F.col("_q1"))).alias("_lo"),
        (F.col("_q3") + k * (F.col("_q3") - F.col("_q1"))).alias("_hi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .filter(F.col(col).isNotNull()
                & ((F.col(col) < F.col("_lo")) | (F.col(col) > F.col("_hi"))))
        .drop("_lo", "_hi")
    )


def mad_outliers(df: DataFrame, col: str, k: float = 3.5,
                 approx: bool = False) -> DataFrame:
    """Rows where ``|x − median| > k·MAD`` (median absolute deviation) —
    the ROBUST companion to :func:`iqr_outliers`: both fences survive up
    to 50% contamination, but MAD's k·σ-equivalent threshold (k≈3.5 on
    the raw MAD ≈ the classic 2.36·σ rule on normal data) is the standard
    Hampel-filter form. Inherently two sequential quantile passes (MAD is
    the median OF deviations from the median) plus the filter scan — each
    aggregate reduces to one broadcastable row, so no data-row shuffle
    ever happens; ``approx=True`` swaps exact ``percentile`` for the
    mergeable ``percentile_approx`` sketch for 10^12-row tables. Nulls
    are never outliers. Degenerate note: if >50% of values are identical
    MAD = 0 and every deviating row flags — the correct strict reading of
    the rule (use IQR for a laxer fence there)."""
    qfn = F.percentile_approx if approx else F.percentile
    med = df.agg(qfn(col, F.lit(0.5)).alias("_med"))
    mad = (
        df.crossJoin(F.broadcast(med))
        .filter(F.col(col).isNotNull())
        .select(F.abs(F.col(col) - F.col("_med")).alias("_dev"),
                F.col("_med"))
        .groupBy("_med")
        .agg(qfn("_dev", F.lit(0.5)).alias("_mad"))
    )
    return (
        df.crossJoin(F.broadcast(mad))
        .filter(F.col(col).isNotNull()
                & (F.abs(F.col(col) - F.col("_med")) > k * F.col("_mad")))
        .drop("_med", "_mad")
    )


def group_zscore_outliers(df: DataFrame, col: str, group_col: str,
                          z: float = 3.5,
                          min_group_n: int = 10) -> DataFrame:
    """Per-ENTITY anomaly rule: rows whose ``col`` deviates more than
    ``z`` sample standard deviations from THEIR OWN group's mean — a
    $2000 purchase is normal for one account and fraud-shaped for
    another, which corpus-global fences (:func:`iqr_outliers` /
    :func:`mad_outliers`) cannot see. Groups with fewer than
    ``min_group_n`` non-null values are exempt (a 2-row group flags
    nothing meaningful), as are zero-variance groups.

    The moments use the explicit sum/sum-of-squares algebra (one
    mergeable aggregate pass — the same algebra an external oracle can
    state, unlike builtin Welford whose merge order is engine-internal),
    and the comparison is rounded at 1e-6 so an ulp of parallel-sum
    reordering cannot flip a fence decision. Shape at scale: one
    group-keyed aggregate producing a #groups-sized table that joins
    back broadcast-or-shuffled by Catalyst; the data rows shuffle at
    most once. Returns the flagged rows + ``z_score`` (rounded 4)."""
    v = F.col(col).cast("double")
    m = (df.filter(v.isNotNull())
         .groupBy(group_col)
         .agg(F.count(F.lit(1)).alias("_n"),
              F.sum(v).alias("_s"),
              F.sum(v * v).alias("_ss")))
    m = m.select(
        group_col, "_n",
        (F.col("_s") / F.col("_n")).alias("_mean"),
        F.sqrt(F.greatest(
            (F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_n"))
            / (F.col("_n") - 1), F.lit(0.0))).alias("_std"),
    ).filter(F.col("_n") >= min_group_n)
    return (
        df.join(m, group_col)
        .filter(v.isNotNull() & (F.col("_std") > 0)
                & (F.round(F.abs(v - F.col("_mean")) - z * F.col("_std"), 6)
                   > 0))
        .withColumn("z_score",
                    F.round((v - F.col("_mean")) / F.col("_std"), 4))
        .drop("_n", "_s", "_ss", "_mean", "_std")
    )


def reconciliation_mismatches(
    fact: DataFrame,
    fact_key: str,
    measure: Column,
    summary: DataFrame,
    summary_key: str,
    expected_col: str,
    tolerance: float = 0.01,
) -> DataFrame:
    """Cross-table AGGREGATE reconciliation: every summary/header row's
    stored total must equal the recomputed aggregate of its fact rows
    within ``tolerance`` (order headers vs their line items, a metrics
    rollup vs its events). Returns the mismatched summary keys with
    ``n_fact_rows`` (0 ⇒ a header with no detail rows at all — a failure
    mode plain referential integrity misses, because RI only checks the
    child→parent direction). Summary rows whose stored total is NULL
    flag whenever fact rows exist.

    Shape at scale: ONE fact-side aggregate keyed by the fact key
    (mergeable sum — map-side partials do the heavy lifting), left-joined
    from the summary side; the fact rows themselves shuffle once at most.
    ``tolerance`` absorbs float summation-order differences across
    partitionings/engines — a reconciled total differs by ulps, a broken
    one by units."""
    agg = (fact.groupBy(F.col(fact_key).alias(summary_key))
           .agg(F.sum(measure).alias("_recomputed"),
                F.count(F.lit(1)).alias("_n_fact")))
    j = summary.select(summary_key, F.col(expected_col).alias("_expected")) \
        .join(agg, summary_key, "left")
    bad = ((F.col("_recomputed").isNull() & F.col("_expected").isNotNull())
           | (F.col("_expected").isNull() & F.col("_recomputed").isNotNull())
           | (F.abs(F.col("_expected") - F.col("_recomputed")) > tolerance))
    return (j.filter(bad)
            .select(summary_key,
                    F.coalesce(F.col("_n_fact"), F.lit(0)).cast("long")
                    .alias("n_fact_rows")))


def group_zscore_violations(
    df: DataFrame, col: str, group_col: str, key_col: str,
    z: float = 3.5, min_group_n: int = 10,
    rule_id: str | None = None,
) -> DataFrame:
    """:func:`group_zscore_outliers` in the engine's standard violation
    schema (same rows as the runner's other dataset rules, union-able
    into one violations frame)."""
    out = group_zscore_outliers(df, col, group_col, z=z,
                                min_group_n=min_group_n)
    return _as_violations(
        out,
        rule_id or f"dataset.group_zscore.{col}",
        E.CODE_GROUP_OUTLIER,
        F.concat(F.lit(f"{col} deviates z="), F.col("z_score").cast("string"),
                 F.lit(f" from its {group_col} group mean")),
        keys=(group_col, key_col),
        field_path=(col,),
        expected=f"|z| <= {z}",
        actual=F.col("z_score"),
    )


def reconciliation_rule_violations(
    fact: DataFrame,
    fact_key: str,
    measure: Column,
    summary: DataFrame,
    summary_key: str,
    expected_col: str,
    tolerance: float = 0.01,
    rule_id: str | None = None,
) -> DataFrame:
    """:func:`reconciliation_mismatches` in the standard violation
    schema."""
    out = reconciliation_mismatches(fact, fact_key, measure, summary,
                                    summary_key, expected_col,
                                    tolerance=tolerance)
    return _as_violations(
        out,
        rule_id or f"dataset.reconciliation.{expected_col}",
        E.CODE_RECONCILIATION,
        F.concat(F.lit(f"{expected_col} disagrees with the recomputed "
                       f"fact aggregate over "),
                 F.col("n_fact_rows").cast("string"),
                 F.lit(" fact rows")),
        keys=(summary_key,),
        field_path=(expected_col,),
        expected=f"recomputed total within {tolerance}",
        actual=F.col("n_fact_rows"),
    )


def frequent_values(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """Top-k most frequent values of ``col`` with counts and corpus ratio
    — the histogram/frequency profile analyzer (Deequ ``Histogram``
    analogue) that feeds domain-rule suggestion and categorical-drift
    review. One hash aggregate over the data (mergeable, map-side
    combined); the top-k selection is a distributed TakeOrdered, so only
    k rows ever pass through a single task regardless of the column's
    cardinality. Nulls are excluded (the null-rate stat owns them); ties
    break on the value itself for determinism."""
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-k FIRST via orderBy().limit(k) — Spark plans a distributed
    # TakeOrdered (per-partition heaps + driver merge of k rows), so a
    # high-cardinality column never sorts its whole domain through one
    # window task (ADVICE r4; same shape as key_skew_profile). The rank
    # window then runs on ≤k rows and the ratio denominator comes from a
    # broadcast 1-row aggregate over the FULL counts table.
    total = counts.agg(F.sum("cnt").alias("_total"))
    topk = counts.orderBy(F.col("cnt").desc(), F.col("value")).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("value"))
    return (
        topk.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("ratio", F.round(F.col("cnt") / F.col("_total"), 6))
        .select("rank", "value", "cnt", "ratio")
    )


def group_distinct_tolerance(df: DataFrame, col: str, group_col: str,
                             lgk: int = 14,
                             tol: float = 0.05) -> DataFrame:
    """Per-GROUP cardinality with a sketch-accuracy gate:
    ``(group, exact_distinct, within_tol)`` where ``within_tol`` asserts
    the mergeable Datasketches HLL estimate lands within ``tol`` of the
    exact count for that group. The per-slice companion of the global
    HLL rule: at 10^12 rows the exact count is replaced by the sketch and
    this check (run on samples / small slices) is the calibration
    evidence that the sketch's error bound holds on this data. ONE
    group-keyed aggregate computing both; the sketch side is mergeable
    across partitions by construction."""
    agg = df.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lgk)))
        .cast("double").alias("_est"),
        F.count_distinct(col).cast("long").alias("exact_distinct"),
    )
    within = F.when(
        F.col("exact_distinct") == 0, F.col("_est") == 0.0
    ).otherwise(
        F.abs(F.col("_est") - F.col("exact_distinct"))
        / F.col("exact_distinct") <= tol)
    return agg.select(group_col, "exact_distinct",
                      within.alias("within_tol"))


def heavy_hitters_sketch(df: DataFrame, col: str,
                         capacity: int = 64) -> DataFrame:
    """Mergeable Misra–Gries frequency summary of ``col`` — the
    heavy-hitter companion to the HLL cardinality sketch (reference
    semantics: the frequency-profile analyzer family of
    ValidationHelpers.scala:358-390, re-expressed as a sketch so it
    stays bounded at 10^12 rows). Each partition keeps ≤ ``capacity``
    counters, merging per-Arrow-batch exact counts with the summary
    merge of Agarwal et al., *Mergeable Summaries* (PODS'12): add
    counters pointwise, keep the top-``capacity``, subtract the
    (capacity+1)-th largest from the survivors and accumulate it into
    the partition's decrement total. Output: one row per surviving
    counter ``(value, est)`` plus ONE sentinel row per partition
    ``(NULL, dec)`` carrying that partition's decrement total; summing
    ``est`` by value across partitions yields the global estimate with
    the classic guarantee

        exact(v) − N/(capacity+1)  ≤  est(v)  ≤  exact(v)

    (undercount only; the N/(c+1) bound is the sum of the sentinel
    rows' upper bound). Scale shape: one narrow ``mapInPandas`` pass —
    per-partition output is ≤ capacity+1 rows, so the downstream
    group-by-value merge aggregates partitions × (capacity+1) rows, not
    data. Unlike :func:`frequent_values` (exact, needs the full
    (value, count) table to exist somewhere), this never materializes
    more than ``capacity`` counters per task, which is the operator you
    run FIRST on an unknown 100-TB key column. Nulls in ``col`` are
    excluded (the null-rate stat owns them; NULL is the sentinel tag)."""
    if capacity < 1:
        raise ValueError(f"heavy_hitters_sketch: capacity must be >= 1, "
                         f"got {capacity}")
    src = (df.filter(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("value")))

    def _mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        dec = 0
        for pdf in batches:
            # exact per-batch counts, then one mergeable-summaries merge
            for v, c in pdf["value"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                ranked = sorted(counters.values(), reverse=True)
                cut = ranked[capacity]  # (capacity+1)-th largest
                dec += cut
                counters = {v: c - cut for v, c in counters.items()
                            if c > cut}
        rows = [(v, c) for v, c in counters.items()]
        rows.append((None, dec))
        yield pd.DataFrame(rows, columns=["value", "est"])

    per_part = src.mapInPandas(_mg, schema="value string, est long")
    return (per_part.groupBy("value")
            .agg(F.sum("est").cast("long").alias("est")))


def heavy_hitters_guarantee(df: DataFrame, col: str,
                            capacity: int = 64) -> DataFrame:
    """Hash-checkable companion of :func:`heavy_hitters_sketch` (the
    pattern the HLL tolerance gate established): for every value whose
    EXACT frequency exceeds the sketch's a-priori error bound
    ``N/(capacity+1)`` — exactly the values Misra–Gries provably cannot
    drop — emit ``(value, exact_n, within_bound)`` where
    ``within_bound`` asserts the merged estimate exists and sits inside
    ``[exact − N/(capacity+1), exact]``. A DuckDB oracle states the
    same rows with ``TRUE`` (the threshold is integer arithmetic both
    engines share: ``exact·(capacity+1) > N``), so a buggy sketch
    hash-mismatches without the oracle reproducing the estimator. The
    exact per-value counts here are gate-time verification only — the
    production path at 10^12 rows is the sketch alone."""
    sk = heavy_hitters_sketch(df, col, capacity=capacity)
    exact = (df.filter(F.col(col).isNotNull())
             .groupBy(F.col(col).cast("string").alias("value"))
             .agg(F.count(F.lit(1)).alias("exact_n")))
    tot = exact.agg(F.sum("exact_n").alias("_n"))
    cand = (exact.crossJoin(F.broadcast(tot))
            .filter(F.col("exact_n") * (capacity + 1) > F.col("_n")))
    est = sk.filter(F.col("value").isNotNull())
    within = (
        F.col("est").isNotNull()
        & (F.col("est") <= F.col("exact_n"))
        & ((F.col("exact_n") - F.col("est")) * (capacity + 1) <= F.col("_n"))
    )
    return (cand.join(est, "value", "left")
            .select("value", F.col("exact_n").cast("long").alias("exact_n"),
                    within.alias("within_bound"))
            .orderBy("value"))


def schema_violations(
    df: DataFrame,
    expected_ddl: str,
    *,
    allow_extra: bool = False,
    nullability: bool = False,
    rule_id: str = "dataset.schema",
) -> DataFrame:
    """Schema contract check: compare ``df.schema`` to an expected DDL
    string (``"conv_id string, turn_idx int, ..."``) and emit one
    violation row per missing column, unexpected extra column (unless
    ``allow_extra``), or type mismatch. Nullability differences are
    ignored unless ``nullability=True`` — parquet/Iceberg round-trips
    routinely flip it.

    Pure metadata: no scan, no job — the returned (possibly empty)
    violations frame is built from the catalyst schema alone, so the
    check belongs at the FRONT of a pipeline run, failing fast before
    10^12 rows are touched. The row-level complement is ``castable``
    (try_cast), which catches value-level type drift inside a string
    column; this catches declared-schema drift between snapshots."""
    from pyspark.sql.types import StructType

    spark = df.sparkSession
    expected = StructType.fromDDL(expected_ddl)
    actual = {f.name: f for f in df.schema.fields}
    exp = {f.name: f for f in expected.fields}
    rows: list[tuple] = []

    def emit(col: str, message: str, want: str | None, got: str | None):
        # table-level finding: the key columns stay NULL, the offending
        # column travels in field_path
        rows.append((rule_id, None, None, None, [col], message,
                     E.CODE_SCHEMA, None, want, got))

    for name, f in exp.items():
        if name not in actual:
            emit(name, f"Missing column: {name}",
                 f.dataType.simpleString(), None)
        else:
            a = actual[name]
            if a.dataType != f.dataType:
                emit(name, f"Type mismatch for {name}",
                     f.dataType.simpleString(), a.dataType.simpleString())
            elif nullability and a.nullable and not f.nullable:
                emit(name, f"Nullability mismatch for {name}",
                     "NOT NULL", "nullable")
    if not allow_extra:
        for name, a in actual.items():
            if name not in exp:
                emit(name, f"Unexpected column: {name}", None,
                     a.dataType.simpleString())

    schema = ("rule_id string, conv_id string, turn_idx string, "
              "partition_id int, field_path array<string>, message string, "
              "code string, severity string, expected string, actual string")
    return spark.createDataFrame(rows, schema)


def snapshot_count_drift(
    current: DataFrame,
    baseline: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Per-key row-count reconciliation between two snapshots of the same
    table — the completeness check of an incremental ingest ("did every
    conversation keep all its turns after the backfill?"). Returns one row
    per key whose count changed: ``(*keys, n_current, n_baseline, delta)``
    (missing on either side counts as 0).

    Cost: two map-side-combined count aggregates + one full-outer join on
    the (already aggregated, one-row-per-key) counts — the data rows
    shuffle once each, the join moves only |keys| rows. Equal counts are
    filtered before the result leaves the reducers."""
    kc = [F.col(k) for k in keys]
    cur = current.groupBy(*kc).agg(F.count(F.lit(1)).alias("n_current"))
    base = baseline.groupBy(*kc).agg(F.count(F.lit(1)).alias("n_baseline"))
    j = cur.join(base, list(keys), "full_outer")
    n_c = F.coalesce("n_current", F.lit(0))
    n_b = F.coalesce("n_baseline", F.lit(0))
    return (
        j.select(*keys,
                 n_c.alias("n_current"),
                 n_b.alias("n_baseline"),
                 (n_c - n_b).alias("delta"))
        .filter(F.col("delta") != 0)
    )


def bucket_stats_outliers(
    df: DataFrame,
    value_col: str,
    bucket: Column | str,
    k: float = 3.0,
) -> DataFrame:
    """Per-partition distribution outliers: buckets whose MEAN of
    ``value_col`` deviates more than ``k``·σ from the cross-bucket mean —
    the per-partition companion to :func:`stats_violations` (a corrupted
    ingest shard / bad producer shows up as one bucket's statistics
    drifting while the global profile still passes). Deequ analogue:
    per-partition metric anomaly.

    Returns ``(bucket, n, bucket_mean)`` for flagged buckets. Cost: one
    groupBy over ``(bucket)`` carrying count+sum (map-side combined), a
    ≤|buckets|-row second aggregate, one broadcast — the data rows
    themselves never shuffle twice, and at 10^12 rows the reduced state
    is |buckets| rows. ``bucket`` is any Column (production:
    ``pmod(xxhash64(conv_id), B)``; engine-portable oracles can pass a
    plain modulus). σ is the POPULATION std of the bucket means (buckets
    are the full population, not a sample); with < 2 buckets nothing can
    be an outlier. Masking bound: a single bad bucket inflates σ itself,
    capping its own z-score at ``sqrt(num_buckets − 1)`` — so ``k=3``
    needs ≥ 11 buckets to be able to flag anything (production bucket
    counts are thousands; at toy bucket counts lower ``k``)."""
    b = F.col(bucket) if isinstance(bucket, str) else bucket
    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(value_col).alias("bucket_mean"))
    )
    glob = per.agg(
        F.avg("bucket_mean").alias("_mu"),
        F.stddev_pop("bucket_mean").alias("_sigma"),
        F.count(F.lit(1)).alias("_nb"),
    )
    return (
        per.crossJoin(F.broadcast(glob))
        .filter((F.col("_nb") >= 2)
                & (F.abs(F.col("bucket_mean") - F.col("_mu"))
                   > k * F.col("_sigma")))
        .select("bucket", "n", "bucket_mean")
    )


# ---------------------------------------------------------------------------
# Column-relationship analyzers (Deequ analogues: Entropy, Correlation,
# hasUniqueValueRatio/FD-style consistency, Freshness)
# ---------------------------------------------------------------------------


def entropy(df: DataFrame, col: str) -> DataFrame:
    """Shannon entropy (natural log) of ``col``'s value distribution over
    non-null rows — one row ``(entropy, n)``. Deequ's ``Entropy`` analyzer;
    low entropy on a supposedly-diverse column (or a sudden drop vs the
    previous snapshot) is the classic stuck-producer signal.

    Cost at 10^12 rows: one map-side-combined count per distinct value,
    then a ≤|distinct|-row second aggregate — the formulation
    ``H = ln(n) − Σ c·ln(c) / n`` needs no per-row division, so the big
    groupBy carries only counts. Not mergeable across snapshots (entropy
    isn't a sketch) — persist the count table if incremental update
    matters."""
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return counts.agg(
        F.coalesce(
            F.log(F.sum("_c"))
            - F.sum(F.col("_c") * F.log("_c")) / F.sum("_c"),
            F.lit(0.0),
        ).alias("entropy"),
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n"),
    )


def correlation(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson sample correlation between two numeric columns over
    pairwise-complete rows — one row ``(corr, n)``. Deequ's
    ``Correlation``; a collapsing correlation between, say, turn index and
    timestamp is a join/ingest-corruption smell no single-column profile
    catches. Single aggregate pass (Spark's ``corr`` is a streaming
    co-moment accumulator — map-side partials, constant state)."""
    both = F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    return df.filter(both).agg(
        F.corr(col_a, col_b).alias("corr"),
        F.count(F.lit(1)).alias("n"),
    )


def fd_violations(
    df: DataFrame, determinant: Sequence[str], dependent: str
) -> DataFrame:
    """Functional-dependency check ``determinant → dependent``: groups of
    the determinant columns that map to MORE than one distinct non-null
    dependent value — ``(*determinant, n_rows, n_dependent)`` per
    violating group. The relational form of "a conversation has exactly
    one model tag" / "an order ships from one warehouse"; uniqueness is
    the special case where the determinant is a candidate key.

    Cost: one shuffle on the determinant (exact ``count_distinct`` inside
    each group — state is per-group distinct values, fine when the
    dependent's per-group cardinality is small, which is what the rule
    asserts anyway); violating groups only leave the reducers."""
    kc = [F.col(k) for k in determinant]
    return (
        df.groupBy(*kc)
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.count_distinct(F.col(dependent)).alias("n_dependent"))
        .filter(F.col("n_dependent") > 1)
    )


def freshness_violation(
    df: DataFrame, ts_col: str, as_of: str, max_lag_seconds: float
) -> DataFrame:
    """Data-freshness rule: is the newest ``ts_col`` within
    ``max_lag_seconds`` of ``as_of``? One row
    ``(max_ts, lag_seconds, fresh)``. ``as_of`` is an explicit wall-clock
    string, never ``now()`` — validation runs must be reproducible and
    resumable (the checkpointed runner may re-execute a bucket hours
    later). The literal is cast to the COLUMN's own timestamp type and
    the lag computed with ``timestamp_diff``, so the rule works
    identically for TIMESTAMP and TIMESTAMP_NTZ columns (NTZ — what
    Spark infers for ``isAdjustedToUTC=false`` parquet — supports no
    epoch cast at all, and wall-clock-frame arithmetic keeps the result
    independent of ``spark.sql.session.timeZone``). One ``max``
    aggregate: map-side combined, constant state."""
    as_of_col = F.lit(as_of).cast(df.schema[ts_col].dataType.simpleString())
    return df.agg(F.max(ts_col).alias("max_ts")).select(
        "max_ts",
        (F.timestamp_diff("MICROSECOND", F.col("max_ts"), as_of_col)
         / F.lit(1e6)).alias("lag_seconds"),
    ).select(
        "max_ts", "lag_seconds",
        (F.col("lag_seconds") <= F.lit(float(max_lag_seconds)))
        .alias("fresh"),
    )


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns over
    pairwise-complete rows — one row ``(mi, n)``. Deequ's
    ``MutualInformation``; MI collapsing toward 0 between, e.g., role and
    tool says one no longer predicts the other (a tagging pipeline broke),
    while MI ≈ H(col) says a supposedly independent column is derived.

    Cost model at 10^12 rows: ONE shuffle — the map-side-combined joint
    count groupBy(a, b) — after which everything (marginals via two window
    passes, the MI sum) runs over the |A|×|B| joint-count table. That
    table must be small (categorical inputs); feeding two high-cardinality
    keys makes the joint table the data and this the wrong tool."""
    both = F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    joint = (
        df.filter(both).groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    # the grand total deliberately uses an unpartitioned window rather
    # than agg + cross join: a second aggregate branch would duplicate
    # the joint subtree and re-scan + re-shuffle the BASE table; the
    # single-partition window only moves the (small) joint-count table
    wn = Window.partitionBy()
    terms = joint.select(
        "_c",
        F.sum("_c").over(wa).alias("_ca"),
        F.sum("_c").over(wb).alias("_cb"),
        F.sum("_c").over(wn).alias("_n"),
    )
    return terms.agg(
        F.coalesce(
            F.sum((F.col("_c") / F.col("_n"))
                  * F.log(F.col("_c") * F.col("_n")
                          / (F.col("_ca") * F.col("_cb")))),
            F.lit(0.0),
        ).alias("mi"),
        F.coalesce(F.max("_n"), F.lit(0.0)).cast("long").alias("n"),
    )


def distinctness(df: DataFrame, col: str) -> DataFrame:
    """Deequ's ``Distinctness`` / ``UniqueValueRatio`` / ``Uniqueness``
    for one column in a single pass over non-null rows — one row
    ``(n_rows, n_distinct, n_unique, distinctness, unique_value_ratio,
    uniqueness)`` where ``n_unique`` counts values occurring exactly once.
    Distinctness sliding toward 0 on an id-ish column is the classic
    duplicated-ingest smell *before* a uniqueness rule starts firing.

    Cost: one map-side-combined count per distinct value, then an
    aggregate over the counts table (≤ |distinct| rows). Exact — for
    approximate monitoring at extreme cardinality use
    :func:`stats_profile`'s HLL instead."""
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    agg = counts.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)),
                   F.lit(0)).alias("n_unique"),
    )
    nz = F.col("n_rows") > 0
    return agg.select(
        "n_rows", "n_distinct", "n_unique",
        F.when(nz, F.col("n_distinct") / F.col("n_rows"))
        .otherwise(F.lit(0.0)).alias("distinctness"),
        F.when(F.col("n_distinct") > 0,
               F.col("n_unique") / F.col("n_distinct"))
        .otherwise(F.lit(0.0)).alias("unique_value_ratio"),
        F.when(nz, F.col("n_unique") / F.col("n_rows"))
        .otherwise(F.lit(0.0)).alias("uniqueness"),
    )


# semantic-type battery for string-column profiling. Patterns live in the
# Java-regex ∩ RE2 common subset (the PII_PATTERNS contract,
# textops.py:1879) and are anchored with \A…\z, NOT ^…$: Java's default $
# matches BEFORE a trailing newline while RE2's matches only at absolute
# end, so '123\n' would profile as integer on Spark but not on the DuckDB
# oracle — \z closes that. json_object deliberately uses [^\n], not `.`:
# Java's dot excludes ALL line terminators (\r,  …) while RE2's
# excludes only \n, so `.` would diverge on a value containing \r — the
# explicit class is identical in both. Single-line JSON only (multi-line
# is json_parseable's job, rules.py). \d and [A-Za-z] are ASCII in both.
SEMANTIC_TYPE_PATTERNS: dict[str, str] = {
    "email": r"\A[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\z",
    "url": r"\Ahttps?://[^ \t\n\x0B\f\r]+\z",
    "uuid": (r"\A[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
             r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\z"),
    "iso_date": r"\A\d{4}-\d{2}-\d{2}\z",
    "iso_timestamp": (r"\A\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
                      r"(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})?\z"),
    "integer": r"\A[+-]?\d{1,18}\z",
    "decimal": r"\A[+-]?(\d{1,18}\.\d{0,9}|\.\d{1,9})\z",
    "ipv4": r"\A\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\z",
    "json_object": r"\A\{[^\n]*\}\z",
}


def semantic_type_profile(df: DataFrame, col: str,
                          min_ratio: float = 0.5,
                          patterns: dict[str, str] | None = None
                          ) -> DataFrame:
    """Semantic-type inference profile for a string column — one row per
    battery type ``(type, n_nonnull, n_match, ratio, dominant)``, ordered
    by type name. The profiling gap between a physical schema check
    (:func:`schema_violations` sees ``string``) and a domain rule the
    operator hasn't written yet: a column that is 99.8% ISO dates stored
    as strings, or an id column drifting from uuid to integer mid-ingest,
    surfaces here before anyone has declared a rule — the
    ``semantic type`` detector of the GE/profiling literature, run as
    ONE compiled aggregate. ``dominant`` marks the argmax type iff it
    matches >0 rows and covers ≥ ``min_ratio`` of non-null values (ties
    all marked — deterministic); feed it to rule suggestion the same way
    :mod:`valar_spark.suggest` consumes domain breakdowns.

    NULL values are excluded from the denominator (they are
    completeness'/:func:`null_pattern_profile`'s jurisdiction); a
    non-null value matching several battery entries counts toward each
    (ratios need not sum to 1). Patterns are the Java∩RE2 anchored
    contract of :data:`SEMANTIC_TYPE_PATTERNS` — see the note there on
    ``\\A…\\z`` vs ``^…$``.

    Shape at scale: one map-side-combined aggregate evaluating the whole
    battery per row JVM-side (rlike, no UDF), producing a single row the
    battery-sized stack explodes on the driver-sized frame — the
    10^12-row cost is one scan regardless of battery size."""
    pats = dict(patterns or SEMANTIC_TYPE_PATTERNS)
    s = F.col(col)
    aggs = [
        F.coalesce(F.sum(F.when(s.isNotNull(), 1).otherwise(0)),
                   F.lit(0)).cast("long").alias("_nn"),
    ]
    for name, pat in pats.items():
        aggs.append(
            F.coalesce(F.sum(F.when(s.rlike(pat), 1).otherwise(0)),
                       F.lit(0)).cast("long").alias(f"_m_{name}"))
    one = df.agg(*aggs).withColumn(
        "_mx", F.greatest(*[F.col(f"_m_{n}") for n in pats]))
    stack = ", ".join(f"'{n}', _m_{n}" for n in pats)
    rows = one.select(
        "_nn", "_mx",
        F.expr(f"stack({len(pats)}, {stack}) as (type, n_match)"))
    nz = F.col("_nn") > 0
    return (
        rows.select(
            "type",
            F.col("_nn").alias("n_nonnull"),
            F.col("n_match").cast("long").alias("n_match"),
            F.when(nz, F.round(F.col("n_match") / F.col("_nn"), 6))
            .otherwise(F.lit(0.0)).alias("ratio"),
            ((F.col("n_match") == F.col("_mx"))
             & (F.col("n_match") > 0)
             & (F.col("n_match") >= F.lit(float(min_ratio)) * F.col("_nn"))
             ).alias("dominant"))
        .orderBy("type")
    )


def k_anonymity_profile(df: DataFrame, quasi_cols: list[str], k: int = 5,
                        sensitive_col: str | None = None) -> DataFrame:
    """Re-identification risk profile (Sweeney 2002 k-anonymity, plus the
    l-diversity floor of Machanavajjhala et al. 2007 when
    ``sensitive_col`` is given) over the quasi-identifier tuple
    ``quasi_cols`` — ONE summary row ``(k, n_rows, n_classes,
    min_class_size, risky_classes, risky_rows, risk_rate, l_min)``.
    An equivalence class is the set of rows sharing the full
    quasi-identifier tuple; a class smaller than ``k`` means its members
    are re-identifiable by joining public attributes, and ``risk_rate``
    is the fraction of ALL rows sitting in such classes — the privacy
    gate a training-data release runs before shipping transcripts that
    carry (role, day, tool)-style side channels. ``l_min`` is the
    smallest per-class count of DISTINCT sensitive values: k-anonymous
    but l=1 means every member of the class shares the secret, so the
    attacker needs no row-level match at all. NULL quasi values form
    their own class (GROUP BY groups nulls on every ANSI engine — the
    contract this shares with the oracle); NULL sensitive values are
    ignored by the distinct count, so an all-null class has l = 0.

    Shape at scale: one map-side-combined (quasi-tuple) aggregate
    computing size and distinct-sensitive together, then one global
    aggregate over the cardinality-sized class frame. Mergeable, no
    window, no driver state — the 10^12-row cost is the single hash
    aggregate a groupBy already pays."""
    aggs = [F.count(F.lit(1)).alias("_sz")]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(F.col(sensitive_col)).alias("_l"))
    cls = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    risky = F.col("_sz") < int(k)
    out = [
        F.lit(int(k)).alias("k"),
        F.coalesce(F.sum("_sz"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("_sz").cast("long").alias("min_class_size"),
        F.coalesce(F.sum(F.when(risky, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("risky_classes"),
        F.coalesce(F.sum(F.when(risky, F.col("_sz")).otherwise(0)),
                   F.lit(0)).cast("long").alias("risky_rows"),
    ]
    summary = cls.agg(*out)
    rate = F.when(
        F.col("n_rows") > 0,
        F.round(F.col("risky_rows") / F.col("n_rows"), 6)
    ).otherwise(F.lit(0.0))
    summary = summary.withColumn("risk_rate", rate)
    if sensitive_col is not None:
        lmin = cls.agg(F.min("_l").cast("long").alias("l_min"))
        summary = summary.crossJoin(F.broadcast(lmin))
    else:
        summary = summary.withColumn(
            "l_min", F.lit(None).cast("long"))
    return summary


def null_pattern_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Missingness-pattern profile over ``cols`` — one row per observed
    null-mask ``(pattern, n_null_cols, cnt, ratio)``, ordered by count
    desc then pattern. ``pattern`` is a '0'/'1' string, one character per
    column in the given order, '1' marking NULL — the md.pattern of the
    R missing-data literature (Little & Rubin). Per-column null *rates*
    (:func:`stats_profile`) can't distinguish "5% of rows lost the whole
    enrichment join" from "independent 5% noise per column" — the
    co-occurrence pattern can: a dominant '0111…' row is one dead
    upstream producer, and patterns that violate the schema's
    requires-together contracts (tool set but text null) surface as
    their own rows here before any per-column rule fires.

    Shape at scale: the mask is a compiled projection (no UDF), then ONE
    map-side-combined aggregate whose output cardinality is bounded by
    2^|cols| regardless of row count; the ratio denominator is a
    broadcast 1-row aggregate. The final order-by runs on that bounded
    frame."""
    mask = F.concat(*[
        F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
        for c in cols
    ])
    pat = df.select(mask.alias("pattern")) \
        .groupBy("pattern").agg(F.count(F.lit(1)).alias("cnt"))
    total = pat.agg(F.sum("cnt").alias("_total"))
    return (
        pat.crossJoin(F.broadcast(total))
        .select(
            "pattern",
            (F.length("pattern")
             - F.length(F.replace(F.col("pattern"), F.lit("1"),
                                  F.lit("")))).cast("int")
            .alias("n_null_cols"),
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("_total"), 6).alias("ratio"))
        .orderBy(F.col("cnt").desc(), "pattern")
    )


def compliance(df: DataFrame, predicate: Column,
               name: str = "compliance") -> DataFrame:
    """Deequ's ``Compliance`` analyzer: the fraction of rows satisfying an
    arbitrary boolean ``predicate`` Column — one row ``(rule, n_rows,
    n_satisfied, ratio)``. NULL predicate results count as NOT satisfied
    (same stance as :func:`~valar_spark.rules.row_rule`); ``ratio`` is 0.0
    on an empty frame. The assertion form of a soft rule: "≥ 99.9% of
    turns have non-empty text" as a monitored ratio instead of a hard
    violation list.

    Cost: one map-side-combined aggregate — constant state, no shuffle of
    the data itself."""
    sat = F.coalesce(predicate, F.lit(False)).cast("long")
    agg = df.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.coalesce(F.sum(sat), F.lit(0)).alias("n_satisfied"))
    return agg.select(
        F.lit(name).alias("rule"),
        "n_rows", "n_satisfied",
        F.when(F.col("n_rows") > 0,
               F.col("n_satisfied") / F.col("n_rows"))
        .otherwise(F.lit(0.0)).alias("ratio"),
    )


# ---------------------------------------------------------------------------
# Sequence-shape rules (transcript model: turn_idx dense per conversation,
# role transitions follow the conversation grammar)
# ---------------------------------------------------------------------------


def sequence_gaps(
    df: DataFrame,
    group_cols: Sequence[str],
    idx_col: str,
    start: int = 0,
) -> DataFrame:
    """Groups whose ``idx_col`` is NOT the dense sequence ``start, start+1,
    …`` — one row per violating group: ``(*group_cols, n_rows, n_distinct,
    min_idx, max_idx, n_missing)``. The transcript-completeness invariant
    (turn_idx must be 0..n−1 within a conversation — a gap means turns
    were dropped by ingest); duplicates are uniqueness's job and do NOT
    flag here.

    ``n_missing`` counts absent indices in ``[start, max_idx]`` (head gaps
    + internal gaps); a group also violates when ``min_idx < start``
    (indices below the declared origin). Null indices are ignored —
    point a ``required`` rule at the column to forbid them.

    Cost at 10^12 rows: one map-side-combined groupBy carrying four
    counters per group — no window sort, no per-index state. Compare
    :func:`transcript_integrity_violations`, which pays a window sort to
    localize row-level findings; this rule answers the cheaper per-group
    question."""
    kc = [F.col(k) for k in group_cols]
    agg = (
        df.filter(F.col(idx_col).isNotNull())
        .groupBy(*kc)
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.count_distinct(F.col(idx_col)).alias("n_distinct"),
             F.min(idx_col).alias("min_idx"),
             F.max(idx_col).alias("max_idx"))
    )
    # clamp at 0: a group whose indices sit entirely below ``start``
    # (e.g. {-2,-1} with start=0) violates via min_idx < start, and the
    # span formula would otherwise go NEGATIVE and render a nonsense
    # "-2 missing index(es)" message downstream (ADVICE r4)
    n_missing = F.greatest(
        F.col("max_idx").cast("long") - F.lit(int(start)) + 1
        - F.col("n_distinct"),
        F.lit(0).cast("long"))
    return (
        agg.withColumn("n_missing", n_missing)
        .filter((F.col("min_idx") < F.lit(int(start)))
                | (F.col("n_missing") > 0))
    )


def sequence_gap_violations(
    df: DataFrame,
    group_cols: Sequence[str],
    idx_col: str,
    start: int = 0,
    rule_id: str = "dataset.sequence_gap",
) -> DataFrame:
    bad = sequence_gaps(df, group_cols, idx_col, start)
    return _as_violations(
        bad,
        rule_id,
        E.CODE_SEQUENCE_GAP,
        F.concat(F.lit(f"{idx_col} not dense from {start}: "),
                 F.col("n_missing").cast("string"),
                 F.lit(" missing index(es)"),
                 # the below-origin violation gets its own reason rather
                 # than leaking into the (now clamped) missing count
                 F.when(F.col("min_idx") < F.lit(int(start)),
                        F.concat(F.lit("; min index "),
                                 F.col("min_idx").cast("string"),
                                 F.lit(f" below origin {start}")))
                 .otherwise(F.lit(""))),
        keys=list(group_cols),
        field_path=[idx_col],
        expected=f"dense {idx_col} from {start}",
        actual=F.concat(F.lit("span ["), F.col("min_idx").cast("string"),
                        F.lit(", "), F.col("max_idx").cast("string"),
                        F.lit("] holds "), F.col("n_distinct").cast("string")),
    )


#: Benford expected first-digit probabilities log10(1 + 1/d), d = 1..9
_BENFORD_P = [0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
              0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
              0.05799194697768673, 0.05115252244738129, 0.04575749056067514]


def benford_deviation(df: DataFrame, col: str) -> DataFrame:
    """Mean absolute deviation of ``col``'s first-significant-digit
    distribution from Benford's law — the classic fabricated-numbers /
    ingest-anomaly screen for naturally-occurring magnitudes (amounts,
    counts, populations). Returns one row ``(n, mad_benford)``; flag when
    ``mad_benford`` exceeds the Nigrini conformity thresholds (~0.006
    close / 0.012 marginal / 0.015 nonconformity for 9-digit MAD).

    Only strictly-positive values participate (zero/negative/null have no
    Benford digit). The digit is extracted from the LONG cast's decimal
    rendering — exact and engine-portable, deliberately avoiding
    ``log10``/``pow`` whose 1-ulp libm differences flip ``floor`` at
    power-of-ten boundaries; values in (0, 1) therefore round down to 0
    and are excluded (document the unit scale accordingly).

    Cost at 10^12 rows: one 9-group hash aggregate (map-side combined to
    ≤9 rows per partition); the Benford constants fold into the plan."""
    digit = F.substring(F.col(col).cast("long").cast("string"), 1, 1)
    counts = (
        df.filter(F.col(col).isNotNull() & (F.col(col).cast("long") > 0))
        .groupBy(digit.alias("_d"))
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    expect = F.element_at(F.array(*[F.lit(p) for p in _BENFORD_P]),
                          F.col("_d").cast("int"))
    tot = Window.partitionBy()
    dev = counts.select(
        F.col("_c"),
        expect.alias("_exp"),
        F.abs(F.col("_c") / F.sum("_c").over(tot) - expect).alias("_ad"))
    return dev.agg(
        F.coalesce(F.sum("_c"), F.lit(0.0)).cast("long").alias("n"),
        # missing digits contribute their full expected probability: MAD
        # is over all 9 digits, so add sum(P) of absent ones. Empty input
        # → n = 0, mad_benford NULL (undefined, not zero).
        F.round((F.sum("_ad")
                 + F.lit(sum(_BENFORD_P))
                 - F.sum("_exp")) / 9.0, 6).alias("mad_benford"),
    )


def sessionize(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    gap_seconds: int = 1800,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Gap-based session assignment (the batch companion to
    ``streaming.stream_session_stats``): within each group, a new session
    starts whenever the time since the previous event exceeds
    ``gap_seconds``. Adds ``session_id`` (0-based per group, in time
    order) to every non-null-ts row.

    One window shuffle on the group key. The session COUNT is invariant
    to timestamp-tie order (ties are never boundaries), and within one
    engine — which evaluates the lag and the cumulative sum over a
    SINGLE sort — the tie group's first row carries the boundary, so the
    whole group lands in the new session whatever order the sort chose.
    But an external replay that sorts the two passes INDEPENDENTLY (an
    oracle's two CTEs, a re-partitioned rerun) can split a tie group
    across sessions. Pass ``tie_cols`` (a unique key, e.g. the event id)
    to pin a TOTAL order whenever duplicate ``(group, ts)`` rows are
    possible and results must be reproducible across engines — the
    differential fuzzer caught a one-off count flicker on exactly this
    (duplicate-heavy fuzz events, DuckDB two-CTE replay)."""
    order_cols = [F.col(ts_col).asc()] + [
        F.col(c).asc_nulls_first() for c in tie_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    prev = F.lag(F.col(ts_col)).over(w)
    # timestamp_diff works identically for TIMESTAMP and TIMESTAMP_NTZ
    # (NTZ supports no epoch cast at all — same trick as freshness); the
    # comparison is exact integer MICROSECONDS so sub-second gaps behave
    # identically to any epoch-based oracle
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col(ts_col))
    boundary = F.when(
        prev.isNull() | (gap_us > int(gap_seconds) * 1_000_000),
        1).otherwise(0)
    wc = (Window.partitionBy(*group_cols).orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("session_id",
                    (F.sum(boundary).over(wc) - 1).cast("long"))
    )


def session_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    gap_seconds: int = 1800,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`:
    ``(*group_cols, session_id, n_events, t_start, t_end)`` — the
    conversation-segmentation profile (sessions/user, events/session,
    span) a transcript pipeline reports before re-chunking long
    histories."""
    return (
        sessionize(df, group_cols, ts_col, gap_seconds, tie_cols=tie_cols)
        .groupBy(*group_cols, "session_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.min(ts_col).alias("t_start"),
             F.max(ts_col).alias("t_end"))
    )


def group_composition(
    df: DataFrame,
    group_cols: Sequence[str],
    requirements: dict[str, tuple[Column, int, int | None]],
) -> DataFrame:
    """Per-group composition bounds: each requirement is ``name →
    (predicate, lo, hi)`` and a group violates when its count of rows
    satisfying the predicate falls outside ``[lo, hi]`` (``hi=None`` =
    unbounded). The transcript-composition invariant family — "every
    conversation has exactly one system turn", "at least one assistant
    reply", "no more than N tool calls" — which neither the dense-index
    rule (:func:`sequence_gaps`) nor the transition grammar
    (:func:`illegal_transitions`) expresses.

    Output: one row per violating (group, requirement):
    ``(*group_cols, n_rows, requirement, observed, lo, hi)``.

    Cost at 10^12 rows: ONE map-side-combined hash aggregate carrying one
    long counter per requirement per group — no window sort, no second
    scan; the per-requirement explode runs on the aggregated (one row per
    group) table. NULL predicate results count as not-satisfied (SQL
    ``COUNT(*) FILTER`` semantics)."""
    names = list(requirements)
    agg = df.groupBy(*[F.col(k) for k in group_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.when(requirements[n][0], 1).otherwise(0)).cast("long")
          .alias(f"_c_{i}") for i, n in enumerate(names)],
    )
    entries = F.array(*[
        F.struct(
            F.lit(n).alias("requirement"),
            F.col(f"_c_{i}").alias("observed"),
            F.lit(int(requirements[n][1])).cast("long").alias("lo"),
            (F.lit(int(requirements[n][2])) if requirements[n][2] is not None
             else F.lit(None)).cast("long").alias("hi"),
        ) for i, n in enumerate(names)
    ])
    return (
        agg.select(*group_cols, "n_rows", F.explode(entries).alias("_e"))
        .select(*group_cols, "n_rows", "_e.requirement", "_e.observed",
                "_e.lo", "_e.hi")
        .filter((F.col("observed") < F.col("lo"))
                | (F.col("hi").isNotNull()
                   & (F.col("observed") > F.col("hi"))))
    )


def group_composition_violations(
    df: DataFrame,
    group_cols: Sequence[str],
    requirements: dict[str, tuple[Column, int, int | None]],
    rule_id: str = "dataset.group_composition",
) -> DataFrame:
    bad = group_composition(df, group_cols, requirements)
    return _as_violations(
        bad,
        rule_id,
        E.CODE_GROUP_COMPOSITION,
        F.concat(F.col("requirement"), F.lit(" count "),
                 F.col("observed").cast("string"),
                 F.lit(" outside ["), F.col("lo").cast("string"),
                 F.lit(", "),
                 F.coalesce(F.col("hi").cast("string"), F.lit("∞")),
                 F.lit("]")),
        keys=list(group_cols),
        field_path=[],
        expected=F.concat(F.lit("["), F.col("lo").cast("string"),
                          F.lit(", "),
                          F.coalesce(F.col("hi").cast("string"),
                                     F.lit("∞")),
                          F.lit("]")),
        actual=F.col("observed").cast("string"),
    )


#: encoding separators for (prev, cur) state pairs — control chars that
#: cannot appear in the validated state values themselves
_PAIR_SEP = "\x01"
_PAIR_NULL = "\x00"


def illegal_transitions(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    state_col: str,
    allowed: Sequence[tuple[str, str]],
    initial: Sequence[str] | None = None,
    terminal: Sequence[str] | None = None,
) -> DataFrame:
    """Rows that break the state-transition grammar: within each
    ``part_col`` group ordered by ``order_cols``, the pair
    ``(previous state, state)`` must be in ``allowed``; if ``initial`` is
    given, each group's FIRST state must be in it (otherwise first rows
    pass); if ``terminal`` is given, each group's LAST state must be in
    it — the dangling-tool-call detector: a conversation that ends on a
    tool invocation with no result (truncated/crashed session) satisfies
    every ADJACENT pair yet is structurally incomplete, and only a
    boundary check sees it. Returns the offending rows plus
    ``prev_state`` and ``kind`` (``initial`` | ``terminal`` |
    ``transition``, first applicable in that order for rows failing more
    than one check — each offending row is returned exactly once). The
    conversation-grammar invariant — e.g. assistant never follows
    assistant, tool output only follows an assistant tool call.

    NULL states never match ``allowed`` (a null-state row, and the row
    after it, are both illegal transitions unless explicitly allowed via a
    null-encoded pair). ``order_cols`` must be a total order within a
    group (include a unique tie-breaker) or the lag pairing — and thus the
    result — would be partition-layout-dependent.

    Cost at 10^12 rows: ONE window shuffle on the group key; the grammar
    check compiles to an ``IN`` over encoded pair literals — whole-stage
    codegen, per-row state is one lag value (the ``terminal`` check adds
    an unordered count window over the SAME partitioning, planned after
    the same single Exchange — no second shuffle). Skew is bounded by the
    longest single group."""
    def enc_val(c: Column) -> Column:
        return F.coalesce(c.cast("string"), F.lit(_PAIR_NULL))

    def enc_set(vals: Sequence[str | None]) -> list[str]:
        return [_PAIR_NULL if v is None else str(v) for v in vals]

    enc_pairs = [
        _enc_pair_literal(p, c) for (p, c) in allowed
    ]
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c).asc_nulls_first() for c in order_cols])
    # window expressions must be materialized as columns before the
    # filter can reference them (Spark forbids windows in WHERE)
    lagged = (
        df.withColumn("prev_state", F.lag(state_col).over(w))
        .withColumn("_first", F.row_number().over(w) == 1)
    )
    if terminal is not None:
        lagged = lagged.withColumn(
            "_last",
            F.row_number().over(w)
            == F.count(F.lit(1)).over(Window.partitionBy(part_col)))
    pair = F.concat(enc_val(F.col("prev_state")), F.lit(_PAIR_SEP),
                    enc_val(F.col(state_col)))
    bad_transition = ~F.col("_first") & ~pair.isin(enc_pairs)
    if initial is None:
        bad_initial = F.lit(False)
    else:
        bad_initial = F.col("_first") & ~enc_val(F.col(state_col)).isin(
            enc_set(initial))
    if terminal is None:
        bad_terminal = F.lit(False)
    else:
        bad_terminal = F.col("_last") & ~enc_val(F.col(state_col)).isin(
            enc_set(terminal))
    kind = (
        F.when(bad_initial, F.lit("initial"))
        .when(bad_terminal, F.lit("terminal"))
        .otherwise(F.lit("transition"))
    )
    return (
        lagged.filter(bad_transition | bad_initial | bad_terminal)
        .withColumn("kind", kind)
        .drop("_first", "_last")
    )


def _enc_pair_literal(prev: str | None, cur: str | None) -> str:
    p = _PAIR_NULL if prev is None else str(prev)
    c = _PAIR_NULL if cur is None else str(cur)
    if _PAIR_SEP in p or _PAIR_SEP in c:
        raise ValueError(
            "state values must not contain the \\x01 pair separator")
    return f"{p}{_PAIR_SEP}{c}"


def transition_violations(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    state_col: str,
    allowed: Sequence[tuple[str, str]],
    initial: Sequence[str] | None = None,
    terminal: Sequence[str] | None = None,
    rule_id: str = "dataset.illegal_transition",
) -> DataFrame:
    bad = illegal_transitions(df, part_col, order_cols, state_col,
                              allowed, initial, terminal)
    return _as_violations(
        bad,
        rule_id,
        E.CODE_TRANSITION,
        F.when(F.col("kind") == "initial",
               F.concat(F.lit(f"Illegal initial {state_col}: "),
                        F.coalesce(F.col(state_col).cast("string"),
                                   F.lit("null"))))
        .when(F.col("kind") == "terminal",
              F.concat(F.lit(f"Illegal terminal {state_col}: "),
                       F.coalesce(F.col(state_col).cast("string"),
                                  F.lit("null"))))
        .otherwise(F.concat(F.lit(f"Illegal {state_col} transition: "),
                            F.coalesce(F.col("prev_state").cast("string"),
                                       F.lit("null")),
                            F.lit(" -> "),
                            F.coalesce(F.col(state_col).cast("string"),
                                       F.lit("null")))),
        keys=[part_col, *order_cols[:1]],
        field_path=[state_col],
        expected="transition in allowed grammar",
        actual=F.col(state_col),
    )


def response_latency(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    responder: str = "assistant",
    requester: str = "user",
) -> DataFrame:
    """Per-turn response latency via an AS-OF self-join expressed as ONE
    window: for every ``responder`` turn, the seconds elapsed since the
    latest ``requester`` turn at-or-before it in the conversation
    (``MAX(CASE WHEN role=requester THEN ts END)`` over the default
    RANGE frame — tie-insensitive, so duplicated (conv, turn_idx) plants
    can't make the result order-dependent). Output:
    ``(conv, turn_idx, latency_s nullable)`` for every responder turn.

    This is the timestamp-causality profile of the transcript shape: a
    NULL latency means the responder spoke before any request (protocol
    violation), a negative one means its timestamp precedes the request
    it answers (the out-of-order ingest plant), and a large one is a
    stale/hung response. Scale shape: one Exchange on ``conv_col``, one
    window pass, no join — the as-of lookup a naive implementation
    would do as a range join collapses into the running MAX because the
    frame is cumulative."""
    w = Window.partitionBy(conv_col).orderBy(F.col(order_col))
    prior_req = F.max(
        F.when(F.col(role_col) == requester, F.col(ts_col))).over(w)
    return (
        df.withColumn("_req_ts", prior_req)
        .filter(F.col(role_col) == responder)
        .select(
            F.col(conv_col).alias("conv"),
            F.col(order_col).cast("long").alias(order_col),
            (F.col(ts_col).cast("long") - F.col("_req_ts").cast("long"))
            .cast("long").alias("latency_s"),
        )
    )


def response_latency_violations(
    df: DataFrame,
    max_latency_s: int = 60,
    **kwargs,
) -> DataFrame:
    """Flagged rows from :func:`response_latency`:
    ``no_prior_request`` (responder with no requester at-or-before it),
    ``negative_latency`` (causality violation — the out-of-order plant),
    ``too_slow`` (> ``max_latency_s``). One window pass, then a filter."""
    lat = response_latency(df, **kwargs)
    reason = (
        F.when(F.col("latency_s").isNull(), F.lit("no_prior_request"))
        .when(F.col("latency_s") < 0, F.lit("negative_latency"))
        .when(F.col("latency_s") > max_latency_s, F.lit("too_slow"))
    )
    return (lat.withColumn("reason", reason)
            .filter(F.col("reason").isNotNull()))


def tool_roundtrip_profile(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    tool_col: str = "tool",
    caller: str = "assistant",
    tool_role: str = "tool",
) -> DataFrame:
    """Per-tool round-trip health profile over agent transcripts: for
    every ``tool_role`` turn, the seconds since the latest ``caller``
    turn at-or-before it in the conversation (the as-of call→result
    round trip, same cumulative-MAX window trick as
    :func:`response_latency`), rolled up per tool name into
    ``(tool, n_calls, n_convs, n_no_caller, n_negative, mean_latency_s,
    max_latency_s)``.

    This is the "which tool is slow / flaky / mis-wired" dashboard an
    agent-fleet operator reads before blaming the model: ``n_no_caller``
    counts results that precede any caller turn (protocol violation),
    ``n_negative`` counts timestamp-causality breaks (out-of-order
    ingest), and the latency moments expose hung tools. Scale shape:
    ONE Exchange on ``conv_col`` for the window pass, then a partial
    (map-side) aggregate onto the tiny per-tool key space — the rollup
    re-shuffles only one row per (task, tool). Tool-role rows with a
    NULL tool name are profiled under the sentinel ``(unnamed)`` rather
    than dropped: a result turn that lost its tool label is itself a
    defect worth counting."""
    w = Window.partitionBy(conv_col).orderBy(F.col(order_col))
    prior_call = F.max(
        F.when(F.col(role_col) == caller, F.col(ts_col))).over(w)
    lat = (F.col(ts_col).cast("long") - prior_call.cast("long"))
    per_turn = (
        df.withColumn("_lat", lat)
        .filter(F.col(role_col) == tool_role)
        .select(
            F.coalesce(F.col(tool_col), F.lit("(unnamed)")).alias("tool"),
            F.col(conv_col).alias("_conv"),
            F.col("_lat"),
        )
    )
    return (
        per_turn.groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.countDistinct("_conv").alias("n_convs"),
            F.count(F.when(F.col("_lat").isNull(), 1)).alias("n_no_caller"),
            F.count(F.when(F.col("_lat") < 0, 1)).alias("n_negative"),
            F.round(F.avg("_lat"), 3).alias("mean_latency_s"),
            F.max("_lat").alias("max_latency_s"),
        )
    )


def file_balance_profile(df: DataFrame) -> DataFrame:
    """Physical-layout audit: rows per input file for a parquet-backed
    DataFrame — ``(file, n_rows, share_pct)`` where ``file`` is the
    part-file basename and ``share_pct`` its share of the table's rows.

    At 100 TB the layout IS the performance model: one hot part file
    (a skewed writer, a failed compaction) caps scan parallelism no
    matter how many executors exist, and a million tiny files drown the
    scheduler — both show up here before any query pays for them. The
    profile is metadata-cheap: ``input_file_name()`` is evaluated
    per-row inside the scan (no extra column read), the per-file count
    collapses map-side (each task sees a handful of files), and only
    one row per file crosses the shuffle. The share denominator is a
    broadcast single-row aggregate, never a second scan."""
    per_file = (
        df.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = per_file.agg(F.sum("n_rows").alias("_total"))
    return (
        per_file.crossJoin(F.broadcast(total))
        .select(
            "file", "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("_total"), 3)
            .alias("share_pct"),
        )
    )


def context_overflow(
    df: DataFrame,
    max_tokens: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    tokens: Column | None = None,
) -> DataFrame:
    """Context-window budget validation: conversations whose RUNNING
    token total (cumulative over turn order) exceeds ``max_tokens``,
    with the first offending turn —
    ``(conv, n_turns, total_tokens, overflow_turn_idx,
    tokens_at_overflow)``, one row per overflowing conversation. For a
    training corpus this is the turn at which a fixed-context model
    stops seeing the conversation's tail; rows past it silently truncate
    or crash the packer downstream, so it's a data contract, not a
    statistic. ``tokens`` overrides the per-turn cost expression
    (default: whitespace token count of ``text_col``, the
    :func:`valar_spark.textops.token_count` contract — null/blank ⇒ 0).

    Both the first overflow turn and its running total come out of plain
    MIN aggregates, no argmin juggling: token costs are ≥ 0, so the
    cumulative sum is nondecreasing, making MIN(turn where cum > B) the
    FIRST overflow and MIN(cum where cum > B) the total AT that turn.
    The window uses the default RANGE frame, so duplicated
    (conv, turn_idx) rows (the uniqueness-violation plant) are peers
    sharing one cumulative value — tie-insensitive on both engines.

    Shape at scale: the token cost is projected BEFORE the shuffle, so
    the single Exchange on ``conv_col`` carries (conv, idx, int) — not
    the text bytes — and the groupBy reuses the window's partitioning
    (no second Exchange). Same one-shuffle profile as the flagship
    integrity pass."""
    from .textops import token_count

    if tokens is None:
        tokens = token_count(F.col(text_col))
    slim = df.select(F.col(conv_col).alias("conv"),
                     F.col(order_col).cast("long").alias("idx"),
                     tokens.cast("long").alias("n_tok"))
    cum = slim.withColumn("cum", F.sum("n_tok").over(
        Window.partitionBy("conv").orderBy(F.col("idx"))))
    over = F.col("cum") > F.lit(int(max_tokens))
    return (
        cum.groupBy("conv")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.sum("n_tok").cast("long").alias("total_tokens"),
             F.min(F.when(over, F.col("idx"))).cast("long")
             .alias("overflow_turn_idx"),
             F.min(F.when(over, F.col("cum"))).cast("long")
             .alias("tokens_at_overflow"))
        .filter(F.col("overflow_turn_idx").isNotNull())
        .orderBy("conv")
    )


# ---------------------------------------------------------------------------
# Velocity / funnel / cohort analyzers — the operational event-stream
# profile (double-fire detection, rate caps, ordered funnels, retention)
# a transcript/event pipeline reports alongside the data-quality rules
# ---------------------------------------------------------------------------


def echo_duplicates(
    df: DataFrame,
    group_cols: Sequence[str] = ("user_id", "event_type"),
    ts_col: str = "ts",
    max_gap_seconds: int = 60,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Double-fire / retry-storm detection: consecutive events in the same
    ``group_cols`` stream closer than ``max_gap_seconds`` apart — the
    ingest pathology (client retries, at-least-once replays, webhook
    echoes) that exact-duplicate checks miss because the payload differs
    while the *event* is the same. One row per offending pair's LATER
    event: ``(*group_cols, *tie_cols, ts, gap_us)``.

    ``tie_cols`` pin a TOTAL order under duplicate timestamps (same
    contract as :func:`sessionize` — without it an external replay can
    disagree on which element of a tie group is "previous"). Gap math is
    exact integer microseconds via ``timestamp_diff`` (NTZ-safe, see
    :func:`sessionize`); null-``ts`` rows drop (a validate()-layer catch).

    Shape at scale: ONE window Exchange on ``group_cols`` — the lag and
    the filter ride the same sort; no join, no second shuffle. Output is
    bounded by the input and in practice is the retry tail."""
    order_cols = [F.col(ts_col).asc()] + [
        F.col(c).asc_nulls_first() for c in tie_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    prev = F.lag(F.col(ts_col)).over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col(ts_col))
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("_gap_us", gap_us)
        .filter(F.col("_gap_us").isNotNull()
                & (F.col("_gap_us") <= int(max_gap_seconds) * 1_000_000))
        .select(*group_cols, *tie_cols, ts_col,
                F.col("_gap_us").cast("long").alias("gap_us"))
    )


def rate_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    granularity: str = "day",
) -> DataFrame:
    """Event counts per (``group_cols``, time bucket) —
    ``(*group_cols, bucket_ts, n_events)``. One map-side-combined
    aggregate; the building block of :func:`rate_violations` and the
    batch twin of ``streaming.stream_rate_anomaly``'s windowed counts."""
    return (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*group_cols,
                 F.date_trunc(granularity, F.col(ts_col)).alias("bucket_ts"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def rate_violations(
    df: DataFrame,
    group_cols: Sequence[str],
    max_events: int,
    ts_col: str = "ts",
    granularity: str = "day",
) -> DataFrame:
    """Rate-cap screen: (group, bucket) pairs whose event count exceeds
    ``max_events`` — the abuse/runaway-agent alert (one conversation or
    user emitting far above the contract rate). Adds ``limit_`` so the
    violation row carries its threshold. Same single-aggregate shape as
    :func:`rate_counts`; HAVING prunes before anything else runs."""
    return (
        rate_counts(df, group_cols, ts_col, granularity)
        .filter(F.col("n_events") > int(max_events))
        .withColumn("limit_", F.lit(int(max_events)).cast("long"))
    )


def funnel_first_touch(
    df: DataFrame,
    stages: Sequence[str],
    group_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> DataFrame:
    """First-touch funnel per group: for each entity, the FIRST timestamp
    of every stage event and the funnel ``depth`` — the largest k such
    that stages 1..k all occurred with non-decreasing first-touch times
    (stage k+1 either never happened or its first touch precedes stage
    k's, i.e. out of order ⇒ not a conversion). Output:
    ``(group, t_<stage>..., depth)``.

    ONE aggregate pass — the per-stage first touches are conditional
    MINs, so no self-join per stage and no window; depth is a pure
    projection over the aggregate row. The when-chain is ordered, so the
    ``t_i < t_{i-1}`` comparison only evaluates where the prefix is
    already non-null."""
    aggs = [
        F.min(F.when(F.col(event_col) == s, F.col(ts_col))).alias(f"t_{s}")
        for s in stages
    ]
    out = (df.filter(F.col(group_col).isNotNull())
           .groupBy(F.col(group_col).alias("grp")).agg(*aggs))
    depth = F.when(F.col(f"t_{stages[0]}").isNull(), F.lit(0))
    for i in range(1, len(stages)):
        cur, prev = f"t_{stages[i]}", f"t_{stages[i - 1]}"
        depth = depth.when(
            F.col(cur).isNull() | (F.col(cur) < F.col(prev)), F.lit(i))
    depth = depth.otherwise(F.lit(len(stages)))
    return out.select(
        F.col("grp").alias(group_col),
        *[F.col(f"t_{s}") for s in stages],
        depth.cast("int").alias("depth"),
    )


def funnel_counts(
    df: DataFrame,
    stages: Sequence[str],
    group_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> DataFrame:
    """Funnel conversion rollup over :func:`funnel_first_touch`:
    ``(stage_idx, stage, n_reached, conversion)`` — one row per stage,
    where ``n_reached`` counts groups whose depth ≥ that stage and
    ``conversion`` is the step ratio vs the previous stage (rounded 6;
    null at stage 1). The per-group aggregate is the only data-sized
    pass; the rollup is a single row of conditional sums, exploded to
    #stages rows and lagged over that tiny frame."""
    ft = funnel_first_touch(df, stages, group_col, ts_col, event_col)
    row = ft.agg(*[
        F.sum(F.when(F.col("depth") >= i + 1, 1).otherwise(0))
        .cast("long").alias(f"n_{i}")
        for i in range(len(stages))
    ])
    pairs = F.array(*[
        F.struct(F.lit(i + 1).cast("int").alias("stage_idx"),
                 F.lit(s).alias("stage"),
                 F.col(f"n_{i}").alias("n_reached"))
        for i, s in enumerate(stages)
    ])
    w = Window.orderBy("stage_idx")  # #stages rows — cardinality-sized
    return (
        row.select(F.explode(pairs).alias("e")).select("e.*")
        .withColumn(
            "conversion",
            F.round(F.col("n_reached").cast("double")
                    / F.lag("n_reached").over(w), 6))
        .orderBy("stage_idx")
    )


def retention_cohorts(
    df: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-granularity cohort retention: entities bucketed by their FIRST
    active day; for each (cohort day, day offset ≥ 0) the number of
    cohort members active that day —
    ``(cohort_day, day_offset, n_active)``. ``day_offset = 0`` is the
    cohort size. The classic activity-retention matrix, as validation:
    a sudden column of zeros is an ingest gap, a cohort whose offset-0
    count disagrees with signup counts is an id-space leak.

    Shape at scale: TWO data Exchanges total — one per-entity
    ``collect_set(day)`` aggregate (map-side partial sets dedupe within
    partitions before the shuffle; per-entity state is bounded by the
    calendar, ≤365 entries/year, NOT by the entity's row count), from
    which the cohort is ``array_min`` — no join back, no separate
    distinct pass — then the cardinality-sized (#days² / 2 cells)
    rollup. A naive distinct + groupBy + join-back costs 5 Exchanges
    because a groupBy on a PREFIX of the distinct key cannot reuse
    hash(entity, day) partitioning."""
    per_user = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.collect_set(
            F.date_trunc("day", F.col(ts_col))).alias("days"))
    )
    return (
        per_user
        .select(F.array_min("days").alias("cohort_day"),
                F.explode("days").alias("day"))
        .groupBy("cohort_day",
                 F.datediff(F.col("day"), F.col("cohort_day"))
                 .cast("int").alias("day_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# Per-column stats profile (BASELINE.json:6: null rate, min/max, HLL
# cardinality, quantile sketches)
# ---------------------------------------------------------------------------


def quantiles_by_group(df: DataFrame, col: str, group_col: str,
                       probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
                       approx: bool = False) -> DataFrame:
    """Per-slice quantile profile — ``(group, n_rows, q_<p>…)`` rounded 6.
    The sliced companion of the global quantile rule: a latency/price/
    length distribution that is healthy in aggregate routinely hides one
    slice whose p95 doubled. Exact ``percentile`` for oracle-checkable
    runs; ``approx=True`` switches to the mergeable ``percentile_approx``
    sketch (one pass, bounded memory per group) for 10^12-row tables.
    One group-keyed aggregate either way."""
    qfn = F.percentile_approx if approx else F.percentile
    arr = qfn(col, F.array(*[F.lit(float(p)) for p in probs]))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows"),
            arr.alias("_q")]
    out = (df.filter(F.col(col).isNotNull()
                     & F.col(group_col).isNotNull())
           .groupBy(group_col).agg(*aggs))
    cols = [group_col, "n_rows"] + [
        F.round(F.col("_q").getItem(i), 6)
        .alias(f"q{str(p).replace('0.', '')}")
        for i, p in enumerate(probs)]
    return out.select(*cols).orderBy(group_col)


def key_skew_profile(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """Shuffle-key SKEW diagnosis for a prospective join/aggregation key:
    the top-``k`` heaviest key values with ``(key_rank, key_value,
    n_rows, row_share, skew_ratio)`` where ``skew_ratio`` = that key's
    rows ÷ the mean rows-per-key. This is the measurement behind every
    skew mitigation in the engine (salting, AQE skew-join thresholds,
    broadcast decisions): a key with skew_ratio 500 at 10^12 rows IS the
    straggler task, and profiling it costs one map-side-combined
    aggregate over (key, count) — cardinality-sized, not data-sized.
    Nulls count as a key (they hash to one partition like any other
    value — the classic silent skew). Ties rank by key string ascending
    (deterministic across engines)."""
    per = (df.groupBy(F.col(col).cast("string").alias("key_value"))
           .agg(F.count(F.lit(1)).alias("n_rows")))
    tot = per.agg(
        F.sum("n_rows").alias("_rows"),
        F.count(F.lit(1)).alias("_keys"))
    # orderBy+limit plans as distributed TakeOrdered (per-partition
    # partial top-k, k rows to the driver stage) — a global row_number
    # window here would instead sort the whole key table on ONE
    # partition; the rank window below runs over only k rows
    order = [F.desc("n_rows"), F.asc_nulls_first("key_value")]
    top = per.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return (
        top.withColumn("key_rank", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(F.col("key_rank").cast("int"),
                "key_value",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.round(F.col("n_rows") / F.col("_rows"), 9)
                .alias("row_share"),
                F.round(F.col("n_rows")
                        / (F.col("_rows") / F.col("_keys")), 6)
                .alias("skew_ratio"))
        .orderBy("key_rank")
    )


def conversation_stats(df: DataFrame, conv_col: str = "conv_id",
                       turn_col: str = "turn_idx",
                       role_col: str = "role", text_col: str = "text",
                       tool_col: str = "tool") -> DataFrame:
    """Per-CONVERSATION shape profile over a transcript table — the
    payload-level view the per-turn rules can't see: turn count vs dense
    ``turn_idx`` coverage, role mix (a conversation that is 95% assistant
    turns is synthetic-loop-shaped), empty-text and tool-call rates, and
    text-volume stats. ONE conv-keyed aggregate (map-side combined;
    at 10^12 turns this is THE natural partition key, so the shuffle is
    the already-clustered one the flagship pipeline shares).

    Columns: ``(conv, n_turns, max_turn_idx, dense, n_user, n_assistant,
    n_system, n_tool_role, n_empty_text, n_tool_calls, total_chars,
    avg_chars)``; ``dense`` ⇔ turn_idx is exactly 0..n_turns−1 with no
    gaps or dups (min=0 ∧ max=n−1 ∧ distinct=n)."""
    t = F.col(text_col)
    stripped = F.regexp_replace(t, r"(^\s+)|(\s+$)", "")
    empty = t.isNull() | (stripped == "")
    return (
        df.groupBy(F.col(conv_col).alias("conv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.max(turn_col).cast("long").alias("max_turn_idx"),
             ((F.min(turn_col) == 0)
              & (F.max(turn_col) == F.count(F.lit(1)) - 1)
              & (F.count_distinct(F.col(turn_col))
                 == F.count(F.lit(1)))).alias("dense"),
             # eqNullSafe: a NULL role is "not this role" and must count
             # 0 — plain == makes the sum NULL for a conversation whose
             # every role is NULL (found by the differential fuzzer;
             # DuckDB's COUNT(*) FILTER correctly gives 0 there)
             F.sum(F.col(role_col).eqNullSafe("user").cast("long"))
             .cast("long").alias("n_user"),
             F.sum(F.col(role_col).eqNullSafe("assistant").cast("long"))
             .cast("long").alias("n_assistant"),
             F.sum(F.col(role_col).eqNullSafe("system").cast("long"))
             .cast("long").alias("n_system"),
             F.sum(F.col(role_col).eqNullSafe("tool").cast("long"))
             .cast("long").alias("n_tool_role"),
             F.sum(empty.cast("long")).cast("long").alias("n_empty_text"),
             F.sum((F.col(tool_col).isNotNull()
                    & (F.col(tool_col) != "none")).cast("long"))
             .cast("long").alias("n_tool_calls"),
             F.sum(F.coalesce(F.length(t), F.lit(0))).cast("long")
             .alias("total_chars"),
             F.round(F.avg(F.coalesce(F.length(t), F.lit(0))), 6)
             .alias("avg_chars"))
    )


def canned_response_profile(df: DataFrame, conv_col: str = "conv_id",
                            role_col: str = "role",
                            text_col: str = "text",
                            role: str = "assistant",
                            min_convs: int = 2,
                            k: int = 100) -> DataFrame:
    """Canned / templated response census over a transcript table: the
    top-``k`` exact ``text`` values of ``role`` turns that recur across
    at least ``min_convs`` DISTINCT conversations, with their turn count,
    conversation fan-out, and share of all such turns. This is the
    turn-grain twin of document-level exact dedup: a response repeated
    verbatim across thousands of conversations (a refusal template, a
    greeting, an empty/whitespace degenerate) is over-weighted in
    training data and usually wants downweighting or dropping — the
    same signal Valar's accumulated violations surface per-field
    (valar-core Validator.scala error accumulation), lifted to the
    corpus grain. NULL texts are excluded (they carry no content to
    de-duplicate; the null-rate stats own them); empty/whitespace texts
    are deliberately INCLUDED — a degenerate response repeated across
    conversations is exactly what this census exists to catch.

    Scale shape: ONE groupBy on the text key (map-side combined;
    count_distinct(conv) re-shuffles only per-key partials), the
    ``min_convs`` filter prunes the singleton long tail BEFORE the
    top-k, and top-k is ``orderBy().limit(k)`` — a distributed
    TakeOrdered, never a single-partition rank window. The share
    denominator is a broadcast single-row aggregate, not a second scan.

    Columns: ``(text, n_turns, n_convs, turns_share_pct)`` ordered by
    (n_convs desc, n_turns desc, text asc) — a total order, since text
    is the group key."""
    turns = (df.filter(F.col(role_col).eqNullSafe(role)
                       & F.col(text_col).isNotNull())
             .select(F.col(text_col).alias("text"),
                     F.col(conv_col).alias("_conv")))
    tot = turns.select(F.count(F.lit(1)).alias("_tot"))
    per_text = (turns.groupBy("text")
                .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                     F.countDistinct("_conv").cast("long").alias("n_convs"))
                .filter(F.col("n_convs") >= int(min_convs)))
    return (per_text.crossJoin(F.broadcast(tot))
            .select("text", "n_turns", "n_convs",
                    F.round(F.col("n_turns") * 100.0 / F.col("_tot"), 4)
                    .alias("turns_share_pct"))
            .orderBy(F.col("n_convs").desc(), F.col("n_turns").desc(),
                     F.col("text").asc())
            .limit(int(k)))


def conversation_violations(df: DataFrame, min_turns: int = 2,
                            max_turns: int = 10_000,
                            require_dense: bool = True,
                            max_empty_frac: float = 0.5,
                            conv_col: str = "conv_id",
                            stats: DataFrame | None = None,
                            **stat_cols: str) -> DataFrame:
    """Conversation-SHAPE rule in the standard violation schema: flags
    conversations that are too short/long, have gapped or duplicated
    turn indices, or are mostly empty turns — the conversation-level
    gate a transcript curation run applies before per-turn validation
    cost is spent. Pass a precomputed ``stats`` frame (from
    :func:`conversation_stats`) to share ONE aggregate between the
    profile and the gate instead of re-aggregating."""
    s = stats if stats is not None else \
        conversation_stats(df, conv_col=conv_col, **stat_cols)
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_turns") < min_turns, F.lit("too_few_turns")),
        F.when(F.col("n_turns") > max_turns, F.lit("too_many_turns")),
        F.when(F.lit(require_dense) & ~F.col("dense"),
               F.lit("non_dense_turn_idx")),
        F.when(F.col("n_empty_text")
               > max_empty_frac * F.col("n_turns"),
               F.lit("mostly_empty")),
    )
    bad = s.withColumn("_r", reasons).filter(F.col("_r") != "")
    return _as_violations(
        bad,
        "dataset.conversation_shape",
        E.CODE_CONVERSATION_SHAPE,
        F.concat(F.lit("Conversation shape: "), F.col("_r")),
        keys=("conv",),
        field_path=(conv_col,),
        expected=f"{min_turns} <= turns <= {max_turns}, dense turn_idx",
        actual=F.col("_r"),
    )


def _turn_content_hash(content_cols: Sequence[str]) -> Column:
    """md5 over the \\x01-joined, \\x00-null-coalesced content columns —
    the per-turn content key shared by :func:`conversation_prefix_dedup`
    and :func:`degenerate_runs`. Exactly mirrorable in ANSI SQL
    (``md5(coalesce(a, chr(0)) || chr(1) || coalesce(b, chr(0)))``), so
    both rules carry full DuckDB hash oracles."""
    return F.md5(F.concat_ws(
        "\x01",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
          for c in content_cols]))


def conversation_prefix_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
    k: int = 3,
) -> DataFrame:
    """Branched-conversation detection: conversations whose first ``k``
    turns are content-identical (same ``content_cols`` at the same
    ``turn_idx``) form one prefix cluster — the transcript analogue of
    document near-dup. Agent logs produce these constantly (retries,
    best-of-n sampling, A/B branches share a common prefix), and keeping
    every branch overweights the shared prefix in training data.

    Returns one row per conversation in a non-trivial cluster:
    ``(conv, prefix_hash, n_prefix_turns, cluster_size, keeper, is_dup)``
    with ``keeper`` = min conv id of the cluster (deterministic survivor,
    same convention as ``textops.dedup_exact``). Conversations with fewer
    than ``k`` prefix turns (short convs, or rows lost to a negative
    planted ``turn_idx``) are skipped — a 2-turn prefix matching another
    2-turn prefix is not evidence at k=3.

    Cost at 10^12 turns: the prefix filter prunes to ≤k rows/conv BEFORE
    the one conv-keyed aggregate (map-side combined); the cluster window
    then runs over the 1-row-per-conv prefix table — 10^2–10^4× smaller
    than the turn table — partitioned by ``prefix_hash``, whose group
    sizes are cluster sizes (bounded, no skew amplification). No
    all-pairs comparison anywhere: identical prefixes MEET in the hash
    partition, the same meet-in-a-bucket shape as MinHash banding."""
    h = _turn_content_hash(content_cols)
    elem = F.struct(F.col(idx_col).cast("long").alias("_i"), h.alias("_h"))
    pref = (
        df.filter((F.col(idx_col) >= 0) & (F.col(idx_col) < k))
        .groupBy(F.col(conv_col).alias("conv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_prefix_turns"),
             # sort by (turn_idx, content-hash): ties are content-equal
             # rows (planted duplicates), so the concatenation — and the
             # hash — is tie-order invariant
             F.md5(F.concat_ws("\x02", F.transform(
                 F.array_sort(F.collect_list(elem)),
                 lambda s: F.concat(s["_i"].cast("string"),
                                    F.lit(":"), s["_h"]))))
             .alias("prefix_hash"))
    )
    wc = Window.partitionBy("prefix_hash")
    return (
        pref.filter(F.col("n_prefix_turns") >= k)
        .withColumn("cluster_size",
                    F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("keeper", F.min("conv").over(wc))
        .filter(F.col("cluster_size") > 1)
        .select("conv", "prefix_hash", "n_prefix_turns", "cluster_size",
                "keeper", (F.col("conv") != F.col("keeper")).alias("is_dup"))
    )


def degenerate_runs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
    min_run: int = 3,
) -> DataFrame:
    """Stuck-agent detection: maximal runs of ≥ ``min_run`` consecutive
    turns (in ``idx_col`` order within a conversation) whose
    ``content_cols`` are identical — the signature of an agent loop
    (retrying the same tool call, emitting the same apology) and of
    degenerate sampling. Per-turn rules can't see this; it is a
    sequence-shape invariant like the transition grammar.

    Classic gaps-and-islands: one lag to mark run starts, one running
    ``ROWS UNBOUNDED PRECEDING`` sum to number the runs, one (conv, run)
    aggregate. Returns ``(conv, start_idx, end_idx, run_len,
    content_hash)``. The sort key closes with the content hash, so rows
    tied on ``idx_col`` are content-interchangeable and the run
    assignment is partition-layout-independent (same discipline as
    :func:`illegal_transitions`).

    Cost at 10^12 turns: ONE window shuffle on the conversation key (the
    table's natural clustering), per-row state = one lag value + one
    running sum; skew bounded by the longest conversation."""
    h = _turn_content_hash(content_cols)
    w = Window.partitionBy("conv").orderBy(
        F.col("_i").asc_nulls_first(), F.col("_h").asc_nulls_first())
    prev = F.lag("_h").over(w)
    runs = (
        df.select(F.col(conv_col).alias("conv"),
                  F.col(idx_col).cast("long").alias("_i"),
                  h.alias("_h"))
        .withColumn("_new", F.when(prev.isNull() | (prev != F.col("_h")),
                                   F.lit(1)).otherwise(F.lit(0)))
        .withColumn("_run", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        runs.groupBy("conv", "_run", F.col("_h").alias("content_hash"))
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"),
             F.min("_i").alias("start_idx"),
             F.max("_i").alias("end_idx"))
        .filter(F.col("run_len") >= min_run)
        .select("conv", "start_idx", "end_idx", "run_len", "content_hash")
    )


def template_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    min_convs: int = 20,
) -> DataFrame:
    """Boilerplate-turn detection: texts that recur verbatim across many
    DISTINCT conversations — canned refusals, system-prompt echoes,
    scaffold headers. Unlike :func:`degenerate_runs` (within-conversation
    loops) this is a cross-conversation frequency invariant; training on
    a corpus where one canned reply appears in 10⁵ conversations
    overweights it exactly like document-level duplication does.

    Returns one row per templated text:
    ``(content_hash, n_convs, n_turns, sample_text)`` for every text whose
    hash occurs in ≥ ``min_convs`` distinct conversations (``sample_text``
    = the text itself, ``min`` for determinism; null text hashes to the
    \\x00 sentinel and IS reported — an all-null template is a signal).

    Cost at 10^12 turns: ONE aggregate on the text hash. Spark plans the
    ``count(distinct conv)`` as two-phase partial aggregation on
    (hash, conv) then (hash) — map-side combine collapses each
    partition's repeats before the shuffle, so bytes shuffled are bounded
    by distinct (hash, conv) pairs per partition, not rows. No window, no
    join, no skew amplification (a hot template is exactly ONE reduce-side
    group key with pre-combined partial counts)."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("\x00")))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(F.countDistinct(conv_col).cast("long").alias("n_convs"),
             F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.min(text_col).alias("sample_text"))
        .filter(F.col("n_convs") >= min_convs)
    )


def _conversation_fingerprints(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """``(conv, n_turns, fingerprint)`` — one row per conversation, the
    whole-sequence content fingerprint shared by
    :func:`conversation_fingerprint_dedup` and
    :func:`conversation_split_leakage`: md5 over the (idx, content-hash)
    pairs sorted by (idx, hash), \\x02-joined. The sort makes the
    fingerprint invariant to partition layout AND to planted duplicate
    rows (ties are content-equal, hence interchangeable); one conv-keyed
    aggregate, map-side combined."""
    h = _turn_content_hash(content_cols)
    elem = F.struct(F.col(idx_col).cast("long").alias("_i"), h.alias("_h"))
    return (
        df.groupBy(F.col(conv_col).alias("conv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.md5(F.concat_ws("\x02", F.transform(
                 F.array_sort(F.collect_list(elem)),
                 lambda s: F.concat(s["_i"].cast("string"),
                                    F.lit(":"), s["_h"]))))
             .alias("fingerprint"))
    )


def conversation_split_leakage(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
    weights: dict[str, float] | None = None,
    salt: str = "valar:convsplit",
) -> DataFrame:
    """Train/eval leakage audit at CONVERSATION grain — the transcripts
    face of the split-contamination family (`split_overlap` for events,
    `cross_split_contamination` for documents): assign every
    conversation its deterministic content-stable split
    (:func:`valar_spark.textops.hash_split` semantics over ``conv_col``),
    then surface whole-conversation exact-content clusters that SPAN ≥2
    splits — a conversation whose verbatim copy sits in both train and
    test inflates eval scores by exactly the amount the model memorized.
    Splitting at conversation grain is itself the point: a turn-grain or
    doc-grain split would put halves of one dialogue on both sides by
    construction; this audit catches the failure that remains — distinct
    conv_ids carrying identical content (re-ingested logs, mirrored
    exports) that land on different sides of the hash cut.

    Shape at 10^12 turns: the conv-keyed fingerprint aggregate the
    dedup pass already pays, a pure-projection split assignment, one
    fingerprint-keyed aggregate (map-side combined, output = distinct
    fingerprints), and a key-equality join back. Never any pairwise
    compare; identical conversations MEET in the fingerprint partition.

    Columns: ``(conv, split, fingerprint, cluster_size, n_splits)`` —
    one row per conversation in a split-spanning cluster."""
    from valar_spark.textops import md5_order_key, split_assign_expr

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    fp = _conversation_fingerprints(df, conv_col, idx_col, content_cols)
    bucket = md5_order_key(F.col("conv"), salt) % 10_000
    sp = fp.withColumn("split", split_assign_expr(bucket, weights))
    cl = (sp.groupBy("fingerprint")
          .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"),
               F.countDistinct("split").cast("long").alias("n_splits")))
    return (sp.join(cl, "fingerprint")
            .filter(F.col("n_splits") >= 2)
            .select("conv", "split", "fingerprint", "cluster_size",
                    "n_splits"))


def conversation_fingerprint_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """Whole-conversation exact dedup: conversations whose ENTIRE turn
    sequence is content-identical (same ``content_cols`` at the same
    ``turn_idx``, all turns) collapse to one fingerprint — re-ingested
    logs, replayed sessions, mirrored exports. The full-length companion
    of :func:`conversation_prefix_dedup` (k-prefix branches) and the
    conversation-level analogue of ``textops.dedup_exact``.

    Returns one row per conversation in a non-trivial cluster:
    ``(conv, n_turns, fingerprint, cluster_size, keeper, is_dup)`` with
    ``keeper`` = min conv id (deterministic survivor election).

    Cost at 10^12 turns: one conv-keyed aggregate (map-side combined;
    per-conv state bounded by the longest conversation — same bound every
    conversation-reconstruction pass in this engine carries), then the
    cluster window over the 1-row-per-conv fingerprint table, partitioned
    by ``fingerprint`` whose group sizes are cluster sizes. Identical
    conversations MEET in the hash partition — never an all-pairs
    compare. The (idx, content-hash) sort inside ``array_sort`` makes the
    fingerprint invariant to partition layout AND to planted duplicate
    rows (ties are content-equal, hence interchangeable)."""
    fp = _conversation_fingerprints(df, conv_col, idx_col, content_cols)
    wc = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("cluster_size",
                      F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("keeper", F.min("conv").over(wc))
        .filter(F.col("cluster_size") > 1)
        .select("conv", "n_turns", "fingerprint", "cluster_size",
                "keeper", (F.col("conv") != F.col("keeper")).alias("is_dup"))
    )


def conversation_turn_token_sets(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """``(_id, _sh: array<bigint>, n_sh)`` — per-conversation distinct
    turn-token sets, where a token is ``xxhash64(turn_idx ':'
    content-hash)``: the positional turn identity. The conversation-level
    analogue of ``textops.shingle_hash_sets`` (a conversation's "shingles"
    are its turns), so every document-side set operator — MinHash
    signatures, LSH banding, exact array-intersect Jaccard — works on
    conversations unchanged.

    One conv-keyed aggregate (map-side combined ``collect_set``; per-conv
    state bounded by conversation length). Planted duplicate rows collapse
    in the set exactly as ``DISTINCT`` does in the SQL oracle."""
    h = _turn_content_hash(content_cols)
    token = F.xxhash64(
        F.concat(F.col(idx_col).cast("string"), F.lit(":"), h))
    return (
        df.groupBy(F.col(conv_col).alias("_id"))
        .agg(F.collect_set(token).alias("_sh"))
        .withColumn("n_sh", F.size("_sh"))
    )


def conversation_near_dup_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    use_lsh: bool = True,
    allow_all_pairs: bool = False,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Conversation-level NEAR-dup pairs ``(id_a, id_b, jaccard)`` —
    Jaccard over positional turn-token sets. Catches what the exact tools
    miss by construction: :func:`conversation_fingerprint_dedup` needs
    every turn identical, :func:`conversation_prefix_dedup` needs a shared
    exact k-prefix; a re-ingested session with ONE edited/regenerated turn
    (the common retry shape in agent logs) defeats both but scores
    Jaccard (n−1)/(n+1) here.

    Pure composition of the document near-dup machinery over
    :func:`conversation_turn_token_sets`:

    - ``use_lsh=True`` (scale path): MinHash signature per conversation →
      ``bands``-band LSH candidate join (key-equality on band hash, never
      all-pairs) → exact ``array_intersect`` Jaccard on candidates only.
      At 32 bands × 2 rows, P(missing a pair at j ≥ 0.8) ≈ (1−j²)³² ≈
      6e-15 — the same banding argument ``minhash_near_dup_pairs``
      hash-proves against brute force on documents.
    - ``use_lsh=False``: the exact token-equality self-join — inherits
      ``textops.jaccard_pairs``'s ALL_PAIRS_MAX_DOCS size guard (here:
      conversations), oracle/recall use only. A hot token (a template
      turn shared by 10⁵ conversations — see :func:`template_turns`)
      makes this path O(Σ convs_per_token²); the LSH path is immune
      because banding requires agreement on a full signature band, not
      one shared turn.

    Cost at 10^12 turns (LSH path): one conv-keyed aggregate, one narrow
    MinHash projection, one band-hash equi-join whose group sizes are
    near-dup cluster sizes, then O(|candidates|) verification joins."""
    from . import textops as X

    if sets is None:
        sets = conversation_turn_token_sets(df, conv_col, idx_col,
                                            content_cols)
    if use_lsh:
        cand = X.minhash_candidates(sets, num_hashes=num_hashes,
                                    bands=bands, sets=sets)
        return X.jaccard_pairs(sets, threshold=threshold, candidates=cand,
                               sets=sets)
    return X.jaccard_pairs(sets, threshold=threshold, sets=sets,
                           allow_all_pairs=allow_all_pairs)


def conversation_curation_ledger(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_cols: Sequence[str] = ("text",),
    min_turns: int | None = None,
    max_blank_frac: float | None = None,
    blank_col: str = "text",
    min_degenerate_run: int | None = 4,
    near_dup_threshold: float | None = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    use_lsh: bool = True,
    allow_all_pairs: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """One-pass curation ledger over a TRANSCRIPT corpus — the
    conversation-level analogue of ``textops.curation_ledger``: quality
    gate → degenerate filter → exact fingerprint dedup → near-dup
    clustering, with per-conversation provenance. Returns one row per
    conversation: ``(conv, n_turns, blank_frac, max_run, exact_keeper,
    near_keeper, keep, drop_reason)`` where ``drop_reason`` ∈ {quality,
    degenerate, exact_dup, near_dup, NULL} reports the FIRST stage that
    dropped it.

    Stage semantics follow the document ledger's survivor invariant
    (later stages only consider prior survivors — the r4-ADVICE contract:
    a keeper is always itself kept):

    0. **quality** — fewer than ``min_turns`` turns, or more than
       ``max_blank_frac`` of turns blank in ``blank_col`` (Java-trim
       blank: null or only ``[\\x00-\\x20]`` — the ``non_empty`` leaf's
       class). Rides the base aggregate: zero extra passes.
    1. **degenerate** — any ≥ ``min_degenerate_run`` consecutive
       content-identical turns (:func:`degenerate_runs`); ``max_run``
       records the longest run for flagged conversations.
    2. **exact_dup** — identical full fingerprint
       (:func:`conversation_fingerprint_dedup` semantics) among quality
       survivors; keeper = min conv id.
    3. **near_dup** — turn-token Jaccard ≥ ``near_dup_threshold``
       (:func:`conversation_near_dup_pairs`) among survivors, closed
       TRANSITIVELY via large-star/small-star connected components
       (``textops.connected_components``); keeper = the cluster's min
       conv id, which by min-label transitivity is itself a survivor.

    Pass ``None`` for a stage's threshold(s) to disable it.

    Cost at 10^12 turns: ONE conv-keyed aggregate builds fingerprint +
    token set together (per-conv state bounded by conversation length;
    token sets for soon-dropped convs are computed and discarded — the
    price of sharing the pass), one turn-level window pass for the
    degenerate stage, then everything downstream operates on the
    1-row-per-conversation table: fingerprint cluster window, LSH band
    join over survivors (never all-pairs with ``use_lsh=True``), and
    O(log n) component rounds over the candidate EDGE list only."""
    from . import textops as X

    h = _turn_content_hash(content_cols)
    token = F.xxhash64(
        F.concat(F.col(idx_col).cast("string"), F.lit(":"), h))
    elem = F.struct(F.col(idx_col).cast("long").alias("_i"), h.alias("_h"))
    blank = (F.col(blank_col).isNull()
             | (F.regexp_replace(F.col(blank_col).cast("string"),
                                 r"[\x00-\x20]", "") == ""))
    base = (
        df.groupBy(F.col(conv_col).alias("conv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.round(F.avg(blank.cast("double")), 6).alias("blank_frac"),
             F.md5(F.concat_ws("\x02", F.transform(
                 F.array_sort(F.collect_list(elem)),
                 lambda s: F.concat(s["_i"].cast("string"),
                                    F.lit(":"), s["_h"]))))
             .alias("_fp"),
             F.collect_set(token).alias("_sh"))
    )
    quality = F.lit(False)
    if min_turns is not None:
        quality = quality | (F.col("n_turns") < min_turns)
    if max_blank_frac is not None:
        quality = quality | (F.col("blank_frac") > max_blank_frac)

    if min_degenerate_run is not None:
        deg = (degenerate_runs(df, conv_col, idx_col, content_cols,
                               min_run=min_degenerate_run)
               .groupBy("conv")
               .agg(F.max("run_len").cast("long").alias("max_run")))
        base = base.join(deg, "conv", "left")
    else:
        base = base.withColumn("max_run", F.lit(None).cast("long"))
    degenerate = F.col("max_run").isNotNull()

    w_fp = Window.partitionBy("_fp_key")
    led = (
        base
        # quality-dropped and degenerate convs get a unique fp key so
        # they can't elect or block a keeper (survivor invariant)
        .withColumn("_dropped_early", quality | degenerate)
        .withColumn("_fp_key", F.when(F.col("_dropped_early"),
                                      F.col("conv"))
                    .otherwise(F.col("_fp")))
        .withColumn("_exact_keeper", F.min("conv").over(w_fp))
        .withColumn(
            "exact_keeper",
            F.when(~F.col("_dropped_early")
                   & (F.col("_exact_keeper") != F.col("conv")),
                   F.col("_exact_keeper")))
    )

    if near_dup_threshold is not None:
        # the exact-stage frame is referenced by BOTH sides of the pair
        # join, the component rounds, and the final output — persist it
        # so the turn-level aggregate runs ONCE, not once per reference
        # (connected_components materializes eagerly, which populates the
        # cache inside this call). Stays persisted with the returned
        # frame, same lifecycle contract as textops.jaccard_pairs.
        from pyspark import StorageLevel

        led = led.persist(StorageLevel.MEMORY_AND_DISK)
        surv = led.filter(~F.col("_dropped_early")
                          & F.col("exact_keeper").isNull())
        sets = surv.select(F.col("conv").alias("_id"), "_sh",
                           F.size("_sh").alias("n_sh"))
        pairs = conversation_near_dup_pairs(
            surv, threshold=near_dup_threshold, num_hashes=num_hashes,
            bands=bands, use_lsh=use_lsh, allow_all_pairs=allow_all_pairs,
            sets=sets)
        comp = X.connected_components(pairs.select("id_a", "id_b"),
                                      checkpoint_dir=checkpoint_dir)
        led = led.join(
            comp.select(F.col("id").alias("conv"),
                        F.col("component").alias("_near_label")),
            "conv", "left")
        near_keeper = F.when(
            F.col("exact_keeper").isNull() & ~F.col("_dropped_early")
            & F.col("_near_label").isNotNull()
            & (F.col("_near_label") != F.col("conv")),
            F.col("_near_label"))
    else:
        near_keeper = F.lit(None).cast("string")

    drop_reason = (
        F.when(quality, F.lit("quality"))
        .when(degenerate, F.lit("degenerate"))
        .when(F.col("exact_keeper").isNotNull(), F.lit("exact_dup"))
        .when(near_keeper.isNotNull(), F.lit("near_dup"))
    )
    return led.select(
        "conv", "n_turns", "blank_frac", "max_run", "exact_keeper",
        near_keeper.alias("near_keeper"),
        drop_reason.isNull().alias("keep"),
        drop_reason.alias("drop_reason"),
    )


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Key inventory of a JSON string column — the contract-DISCOVERY
    companion of :func:`json_contract_violations`: before you can assert
    "``$.k`` required, numeric, in range" you need to know which keys the
    corpus actually carries and how consistently. Returns one row per
    top-level key: ``(key, n_present, coverage)`` where ``coverage`` =
    fraction of parseable JSON OBJECT rows carrying the key (a key at
    coverage 0.999 is a `required` candidate; at 0.01 it's schema noise
    or an emerging field). Presence counts the key even when its value is
    JSON null — extract-based checks see those as missing, which is
    exactly the gap a profile-vs-contract comparison surfaces.

    Entirely JVM-side, ONE pass: ``json_object_keys`` (null for invalid
    JSON and non-objects — the object filter) runs once per row; each
    object row explodes to a sentinel NULL plus its keys, so the key
    aggregate yields the per-key counts AND the object-row denominator
    (the NULL group — JSON keys are never null, so the sentinel is
    unambiguous) from the same parse. The denominator fans back out via
    a global window over the key-cardinality-sized aggregate (a handful
    of rows — never data-scaled). The previous shape computed the
    denominator as a separate broadcast aggregate, which re-parsed every
    payload a second time. Cost at 10^12 rows: one narrow map + one
    aggregate whose key space is the corpus's distinct key set
    (map-side combine collapses repeats before the shuffle)."""
    from pyspark.sql import Window

    c = F.col(json_col).cast("string")
    objs = (df.select(F.json_object_keys(c).alias("_ks"))
            .filter(F.col("_ks").isNotNull()))
    counts = (
        objs.select(F.explode(
            F.concat(F.array(F.lit(None).cast("string")), F.col("_ks")))
            .alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
    )
    w = Window.partitionBy()
    return (
        counts
        .withColumn("_n_objects",
                    F.sum(F.when(F.col("key").isNull(),
                                 F.col("n_present"))).over(w))
        .filter(F.col("key").isNotNull())
        .select("key", "n_present",
                F.round(F.col("n_present") / F.col("_n_objects"), 6)
                .alias("coverage"))
    )


class JsonField:
    """One field of a :func:`json_contract_violations` contract —
    ``path`` is a ``$.name`` JSONPath; checks are layered (presence →
    numeric → range) so each row emits the FIRST applicable failure per
    field, never a cascade."""

    def __init__(self, path: str, required: bool = True,
                 numeric: bool = False,
                 lo: float | None = None, hi: float | None = None):
        self.path = path
        self.required = required
        self.numeric = numeric
        self.lo = lo
        self.hi = hi


def json_contract_violations(
    df: DataFrame,
    json_col: str,
    fields: Sequence[JsonField],
    keys: Sequence[str],
    rule_id: str = "dataset.json_contract",
) -> DataFrame:
    """Schema contract INSIDE a JSON string column — the tool-call
    argument validator agent transcripts need: ``props``/args payloads
    must parse, carry their required keys, and hold typed in-range
    values. Extends the ``json_parseable`` leaf (rules.py) from "is it
    JSON" to "is it the RIGHT JSON", still entirely JVM-side
    (``try_parse_json`` + ``get_json_object`` + ``try_cast`` — codegen'd
    path expressions, no Python, no UDF).

    Checks per row, one violation struct per failed check, assembled in
    ONE projection (array → filter-nulls → explode; the same single-scan
    shape ``validate()`` compiles rulesets to):

    - ``invalid_json`` — non-null value fails ``try_parse_json`` (same
      dialect contract as the ``json_parseable`` leaf; see its docstring
      for the Spark∩DuckDB subset).
    - ``missing`` — parseable JSON but ``get_json_object`` finds nothing
      at ``path`` (a JSON ``null`` is reported as missing too — extract
      semantics, mirrored by DuckDB ``json_extract_string``).
    - ``not_numeric`` — present but ``try_cast(double)`` fails.
    - ``out_of_range`` — numeric but outside ``[lo, hi]``.

    Codes are ``validation.dataset.json_contract.<reason>``. Output is
    the standard violation schema with ``keys`` aliased into the
    (conv_id, turn_idx) slots and ``field_path = [json_col, path]``.

    Cost at 10^12 turns: a pure narrow map over the scan — no shuffle,
    no state; violations stream out at scan speed exactly like row
    rules. Each JSON parse runs ONCE per row: ``try_parse_json`` and the
    per-field ``get_json_object`` are bound into a single struct that is
    exploded through a one-element array — the Generate is an optimizer
    barrier (CollapseProject cannot merge across it), so every check
    reads a BOUND column instead of re-deriving the parse, and unlike
    the earlier ``transform``-lambda binding the whole pipeline stays on
    codegen'd non-HOF expressions (higher-order functions evaluate
    interpreted; the lambda form measured 8.8s vs 3.4s for this shape at
    10⁶ rows — and the original unbound form, where CASE WHEN branches
    defeat codegen's common-subexpression elimination and each check
    re-parsed the payload, 36.7s). Null violation slots are exploded and
    filtered AFTER the Generate — a width-of-contract row fan-out at
    scan speed — rather than compacted by an interpreted array
    ``filter``."""
    c = F.col(json_col).cast("string")
    code = "validation." + rule_id

    def v(cond: Column, reason: str, path: str, message: str,
          expected: str, actual: Column) -> Column:
        return F.when(cond, F.struct(
            F.lit(reason).alias("reason"),
            F.lit(path).alias("path"),
            F.lit(message).alias("message"),
            F.lit(expected).alias("expected"),
            actual.cast("string").alias("actual")))

    bound = F.struct(
        c.alias("_c"),
        F.try_parse_json(c).isNotNull().alias("_ok"),
        *[F.get_json_object(c, fs.path).alias(f"_ex{i}")
          for i, fs in enumerate(fields)])

    def items(s: Column) -> list[Column]:
        cc = s["_c"]
        parse_ok = s["_ok"]
        out = [v(cc.isNotNull() & ~parse_ok, "invalid_json", "$",
                 f"{json_col} is not parseable JSON", "parseable JSON", cc)]
        for i, fs in enumerate(fields):
            ex = s[f"_ex{i}"]
            num = ex.try_cast("double")
            base = cc.isNotNull() & parse_ok
            if fs.required:
                out.append(v(
                    base & ex.isNull(), "missing", fs.path,
                    f"required JSON field {fs.path} is missing",
                    "field present", F.lit(None).cast("string")))
            if fs.numeric:
                out.append(v(
                    base & ex.isNotNull() & num.isNull(), "not_numeric",
                    fs.path, f"JSON field {fs.path} must be numeric",
                    "numeric value", ex))
            if fs.lo is not None or fs.hi is not None:
                lo = float("-inf") if fs.lo is None else float(fs.lo)
                hi = float("inf") if fs.hi is None else float(fs.hi)
                if fs.lo is None:
                    want = f"value <= {fs.hi}"
                elif fs.hi is None:
                    want = f"value >= {fs.lo}"
                else:
                    want = f"value in [{fs.lo}, {fs.hi}]"
                out.append(v(
                    base & num.isNotNull() & ((num < lo) | (num > hi)),
                    "out_of_range", fs.path,
                    f"JSON field {fs.path} out of range ({want})", want,
                    ex))
        return out

    s1 = df.select(*[F.col(k) for k in keys],
                   F.explode(F.array(bound)).alias("_s"))
    exploded = (
        s1.select(*keys, F.explode(F.array(*items(F.col("_s"))))
                  .alias("_e"))
        .filter(F.col("_e").isNotNull())
    )
    key_cols = []
    aliases = ("conv_id", "turn_idx")
    for i, alias in enumerate(aliases):
        src = (F.col(keys[i]).cast("string") if i < len(keys)
               else F.lit(None).cast("string"))
        key_cols.append(src.alias(alias))
    return exploded.select(
        F.lit(rule_id).alias("rule_id"),
        *key_cols,
        F.lit(None).cast("int").alias("partition_id"),
        F.array(F.lit(json_col), F.col("_e.path")).alias("field_path"),
        F.col("_e.message").alias("message"),
        F.concat(F.lit(code + "."), F.col("_e.reason")).alias("code"),
        F.lit(None).cast("string").alias("severity"),
        F.col("_e.expected").alias("expected"),
        F.col("_e.actual").alias("actual"),
    )


def stats_profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    hll_lg_k: int = 12,
    exact_distinct: bool = False,
) -> DataFrame:
    """One row per column: ``(column, rows, null_count, null_rate, min, max,
    distinct_estimate, q_<p>...)`` — computed in a SINGLE aggregation pass
    (one job, no per-column scans).

    Cardinality uses the Datasketches HLL aggregate (``hll_sketch_agg``,
    built into Spark ≥3.5) — per-partition sketches merge associatively,
    which is what makes per-partition lineage mergeable at 10^12 rows
    (``hll_union_agg`` for cross-run unions). ``exact_distinct`` swaps in
    ``count_distinct`` for oracle comparisons at small scale.

    Quantiles via ``approx_percentile`` (KLL-class mergeable sketch) on
    numeric columns; non-numeric get nulls.
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in
        ("integer", "long", "short", "byte", "float", "double", "decimal")
    }
    aggs: list[Column] = [F.count(F.lit(1)).alias("rows")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        if exact_distinct:
            aggs.append(F.count_distinct(col).alias(f"{c}__distinct"))
        else:
            # hll_sketch_agg accepts only integral/string/binary input —
            # double/timestamp/boolean/decimal columns sketch their string
            # form (distinct values map 1:1), keeping the single mergeable
            # pass for every column type
            t = df.schema[c].dataType.typeName()
            hll_in = col if t in ("byte", "short", "integer", "long",
                                  "string", "binary") else col.cast("string")
            aggs.append(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg(hll_in, F.lit(hll_lg_k)))
                .alias(f"{c}__distinct"))
        if c in numeric:
            aggs.append(
                F.percentile_approx(col, F.array(*[F.lit(q) for q in quantiles]),
                                    F.lit(10_000))
                .alias(f"{c}__quantiles"))
    wide = df.agg(*aggs)

    q_names = [f"q_{str(q).replace('0.', '')}" for q in quantiles]
    parts = []
    for c in columns:
        fields = [
            F.lit(c).alias("column"),
            F.col("rows").alias("rows"),
            F.col(f"{c}__nulls").alias("null_count"),
            (F.col(f"{c}__nulls") / F.col("rows")).alias("null_rate"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__distinct").cast("long").alias("distinct_estimate"),
        ]
        for i, qn in enumerate(q_names):
            if c in numeric:
                fields.append(F.col(f"{c}__quantiles").getItem(i).cast("double").alias(qn))
            else:
                fields.append(F.lit(None).cast("double").alias(qn))
        parts.append(F.struct(*fields))
    return (
        wide.select(F.explode(F.array(*parts)).alias("s"))
        .select("s.*")
    )


def stats_violations(
    profile: DataFrame,
    *,
    max_null_rate: dict[str, float] | None = None,
    rule_id: str = "dataset.stats",
) -> DataFrame:
    """Threshold checks over a stats profile (e.g. null-rate ceilings)."""
    max_null_rate = max_null_rate or {}
    conds = None
    if not max_null_rate:
        return _as_violations(
            profile.limit(0), rule_id, E.CODE_DRIFT_PSI, F.lit(""))
    thresholds = F.create_map(
        *[x for c, t in max_null_rate.items() for x in (F.lit(c), F.lit(t))])
    flagged = (
        profile.withColumn("_max", thresholds.getItem(F.col("column")))
        .filter(F.col("_max").isNotNull() & (F.col("null_rate") > F.col("_max")))
    )
    return _as_violations(
        flagged,
        rule_id,
        "validation.dataset.null_rate",
        F.concat(F.lit("null rate "), F.round("null_rate", 6).cast("string"),
                 F.lit(" exceeds threshold "), F.col("_max").cast("string"),
                 F.lit(" for column "), F.col("column")),
        keys=["column"],
        field_path=(),
        expected=F.col("_max"),
        actual=F.col("null_rate"),
    )


def transcript_integrity_violations(
    df: DataFrame,
    partition_by: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    uniq_rule_id: str = "dataset.uniqueness",
    order_rule_id: str = "dataset.ordering",
) -> DataFrame:
    """Uniqueness of ``(conv_id, turn_idx)`` AND ts-monotonicity in ONE
    window pass — one shuffle on the conversation key instead of a
    groupBy-shuffle plus a window-shuffle over the full table. At 10^12
    rows the saved full-table shuffle is the dominant cost, and the two
    checks are defined over the same ordering anyway.

    Duplicate detection flags the same KEYS as :func:`duplicate_keys`, but
    at row granularity: a key seen k times yields k−1 violation rows (one
    per extra row), whereas :func:`uniqueness_violations` emits one row
    per duplicated key (with its dup_count) — don't compare raw counts
    across the two, compare flagged keys. Ordering semantics
    match :func:`ordering_regressions`: a row whose ts precedes its
    predecessor under the stable (conv_id, turn_idx, ts) sort.

    Both violation kinds are emitted by ONE conditional projection over the
    flagged rows — a union of two branches would re-evaluate the window
    sort per branch (the exchange is reused by Spark, the sort is not).

    SHUFFLE COMPRESSION (the dominant cost at 10^12 rows): the first pass
    windows over ``xxhash64(conv_id)`` carrying only ``(key:long,
    order:int, ts)`` — no string enters the shuffle (~40% fewer bytes,
    long-vs-string sort comparisons). Hash collisions can only interleave
    extra rows into a key group, and a merged per-key sequence that
    contains any true duplicate order value or any ts descent necessarily
    has an ADJACENT flagged pair (same-order rows are contiguous under the
    (order, ts) sort; a later-smaller ts forces at least one adjacent
    descent), so the candidate key set is a superset — never a miss. The
    second pass broadcast-semi-joins the (tiny) flagged key set back to
    the scan and re-runs the EXACT window with the real conv_id, which
    discriminates collisions."""
    def _flag(frame, part_col):
        w = Window.partitionBy(part_col).orderBy(F.col(order_col), F.col(ts_col))
        return (
            frame
            .withColumn("_prev_order", F.lag(order_col).over(w))
            .withColumn("_prev_ts", F.lag(ts_col).over(w))
            .withColumn("_dup", F.col("_prev_order").eqNullSafe(F.col(order_col)))
            .withColumn("_regress",
                        F.col("_prev_ts").isNotNull()
                        & (F.col(ts_col) < F.col("_prev_ts")))
            .filter(F.col("_dup") | F.col("_regress"))
        )

    key = F.xxhash64(F.col(partition_by))
    candidate_keys = (
        _flag(df.select(key.alias("_k"), order_col, ts_col), "_k")
        .select("_k").distinct()
    )
    cand_rows = df.select(partition_by, order_col, ts_col).join(
        F.broadcast(candidate_keys), key == F.col("_k"), "left_semi")
    flagged = _flag(cand_rows, partition_by)
    is_dup = F.col("_dup")
    return flagged.select(
        F.when(is_dup, F.lit(uniq_rule_id)).otherwise(F.lit(order_rule_id))
        .alias("rule_id"),
        F.col(partition_by).cast("string").alias("conv_id"),
        F.col(order_col).cast("string").alias("turn_idx"),
        F.lit(None).cast("int").alias("partition_id"),
        F.when(is_dup,
               F.array(F.lit(partition_by), F.lit(order_col)))
        .otherwise(F.array(F.lit(ts_col)))
        .cast("array<string>").alias("field_path"),
        F.when(is_dup, F.lit(f"Duplicate key ({partition_by}, {order_col})"))
        .otherwise(F.concat(F.lit(f"{ts_col} not monotone within "),
                            F.col(partition_by),
                            F.lit(f" under ORDER BY {order_col}")))
        .cast("string").alias("message"),
        F.when(is_dup, F.lit(E.CODE_DUPLICATE_KEY))
        .otherwise(F.lit(E.CODE_ORDERING)).alias("code"),
        F.lit(None).cast("string").alias("severity"),
        F.when(is_dup, F.lit("unique key")).otherwise(F.lit("non-decreasing ts"))
        .alias("expected"),
        F.when(is_dup, F.col(order_col).cast("string"))
        .otherwise(F.col(ts_col).cast("string")).alias("actual"),
    )


# ---------------------------------------------------------------------------
# Ordering invariant + per-turn text equality (BASELINE.json:6,15)
# ---------------------------------------------------------------------------


def ordering_regressions(
    df: DataFrame,
    partition_by: str = "conv_id",
    order_by: Sequence[str] = ("turn_idx",),
    ts_col: str = "ts",
) -> DataFrame:
    """Rows whose ``ts`` moves backwards under the stable
    ``(conv_id, turn_idx)`` window ordering — the monotonicity invariant of
    the transcript model. One window shuffle on the partition key; skewed
    conversations are bounded by conv length, not table size. ``ts_col``
    joins the sort as the final tie-breaker so duplicated ``order_by``
    values cannot make the lag pairing (and thus the result)
    partition-layout-dependent; NULLS FIRST is explicit because engines
    disagree on the default (Spark first, DuckDB/ANSI last — caught by
    BENCH/fuzz_oracles.py on a nullable order column)."""
    w = Window.partitionBy(partition_by).orderBy(
        *[F.col(c).asc_nulls_first() for c in order_by],
        F.col(ts_col).asc_nulls_first())
    return (
        df.withColumn("_prev_ts", F.lag(ts_col).over(w))
        .filter(F.col("_prev_ts").isNotNull() & (F.col(ts_col) < F.col("_prev_ts")))
        .drop("_prev_ts")
    )


def ordering_violations(
    df: DataFrame,
    rule_id: str = "dataset.ordering",
    partition_by: str = "conv_id",
    order_by: Sequence[str] = ("turn_idx",),
    ts_col: str = "ts",
) -> DataFrame:
    bad = ordering_regressions(df, partition_by, order_by, ts_col)
    return _as_violations(
        bad,
        rule_id,
        E.CODE_ORDERING,
        F.concat(F.lit(f"{ts_col} not monotone within "), F.col(partition_by),
                 F.lit(f" under ORDER BY {', '.join(order_by)}")),
        keys=[partition_by, *order_by],
        field_path=[ts_col],
        expected="non-decreasing ts",
        actual=F.col(ts_col),
    )


def text_equality_mismatches(
    df: DataFrame,
    expected: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-turn text equality vs a reference run under the stable
    window-ordered sort (BASELINE.json:15 per-row invariant). Dedupes both
    sides on the key via ``row_number`` over ``(keys, ts, text)`` — the
    text tie-breaker keeps the pick deterministic even when duplicate keys
    share a timestamp — then joins on the key (co-partitioned sort-merge,
    both sides shuffle once on the same key) and keeps rows whose text
    differs (null-safe)."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(text_col))

    def stable(d: DataFrame) -> DataFrame:
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*keys, text_col)
        )

    left = stable(df)
    right = stable(expected).withColumnRenamed(text_col, "_expected_text")
    return (
        left.join(right, list(keys), "full_outer")
        .filter(~F.col(text_col).eqNullSafe(F.col("_expected_text")))
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation — keyed diff between two table versions
# ---------------------------------------------------------------------------


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed row diff between two snapshots of the same table —
    ``(keys…, status, changed_cols)`` with status ∈ added / removed /
    changed / unchanged. The data-diff primitive a validation engine
    needs between a baseline snapshot and the current run (the same
    pairing the drift checks use, but exact and row-attributed):
    ``changed`` rows carry the list of differing column names
    (null-safe comparison, deterministic ``compare_cols`` order).

    Shape at scale: ONE full-outer sort-merge join on the key (both
    snapshots shuffle once on the same key — with both sides bucketed
    by the key on landing, zero Exchanges) and a null-safe comparison
    projection. Never a row-hash recompute pass per side, never a
    driver collect."""
    keys = list(keys)
    compare_cols = list(compare_cols)
    o = old.select(
        *keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_o"))
    n = new.select(
        *keys, *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_n"))
    j = o.join(n, keys, "full_outer")
    diffs = [
        (~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).alias(f"_d_{c}")
        for c in compare_cols
    ]
    j = j.select("*", *diffs)
    any_diff = None
    for c in compare_cols:
        d = F.col(f"_d_{c}")
        any_diff = d if any_diff is None else (any_diff | d)
    status = (
        F.when(F.col("_in_o").isNotNull() & F.col("_in_n").isNull(),
               F.lit("removed"))
        .when(F.col("_in_o").isNull() & F.col("_in_n").isNotNull(),
              F.lit("added"))
        .when(any_diff, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    changed = F.when(
        F.col("_in_o").isNotNull() & F.col("_in_n").isNotNull(),
        F.filter(
            F.array(*[
                F.when(F.col(f"_d_{c}"), F.lit(c)) for c in compare_cols
            ]),
            lambda x: x.isNotNull(),
        ),
    )
    return j.select(*keys, status.alias("status"),
                    changed.alias("changed_cols"))


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """One-pass reconciliation verdict between two snapshots —
    ``(kind, name, n)`` rows: four fixed ``status`` counts (added /
    removed / changed / unchanged — always present, 0 when empty) plus
    one ``column`` row per compare column counting keys present on BOTH
    sides where that column differs (null-safe). The table-level
    pass/fail a baseline-vs-current validation run reports; feed
    :func:`snapshot_diff` the same pair for the row-attributed view.

    Shape at scale: the :func:`snapshot_diff` join plus ONE singleton
    aggregate of conditional sums, unpivoted to the fixed
    ``4 + n_cols`` verdict rows. Nothing cardinality-dependent leaves
    the executors."""
    keys = list(keys)
    compare_cols = list(compare_cols)
    o = old.select(
        *keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_o"))
    n = new.select(
        *keys, *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_n"))
    j = o.join(n, keys, "full_outer")
    in_o = F.col("_in_o").isNotNull()
    in_n = F.col("_in_n").isNotNull()
    any_diff = None
    for c in compare_cols:
        d = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        any_diff = d if any_diff is None else (any_diff | d)

    def cnt(cond: Column) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = j.agg(
        cnt(in_n & ~in_o).alias("_added"),
        cnt(in_o & ~in_n).alias("_removed"),
        cnt(in_o & in_n & any_diff).alias("_changed"),
        cnt(in_o & in_n & ~any_diff).alias("_unchanged"),
        *[cnt(in_o & in_n
              & ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")))
          .alias(f"_col_{c}") for c in compare_cols],
    )
    parts: list[Column] = []
    for s in ("added", "removed", "changed", "unchanged"):
        parts.append(F.struct(
            F.lit("status").alias("kind"), F.lit(s).alias("name"),
            F.col(f"_{s}").alias("n")))
    for c in compare_cols:
        parts.append(F.struct(
            F.lit("column").alias("kind"), F.lit(c).alias("name"),
            F.col(f"_col_{c}").alias("n")))
    return (
        agg.select(F.explode(F.array(*parts)).alias("s"))
        .select("s.*")
    )


def schema_evolution(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema diff between two versions of a table —
    ``(column, status, old_type, new_type)`` with status ∈ added /
    removed / type_changed / unchanged. The metadata companion of
    :func:`snapshot_diff` (which diffs VALUES under a fixed schema):
    run both between a baseline snapshot and the current ingest, and a
    silently widened column (int→bigint), a dropped field, or a new
    unvalidated column surfaces BEFORE any rule compiles against the
    wrong shape. Output order follows the old schema, then new-only
    columns in new-schema order (deterministic).

    Pure metadata: built from the two catalyst schemas alone — no scan,
    no job, identical cost at 10^3 and 10^12 rows. Nullability is
    deliberately ignored (parquet/Iceberg round-trips flip it);
    :func:`schema_violations` owns nullability under its opt-in flag."""
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows: list[tuple] = []
    for name, ot in o.items():
        if name not in n:
            rows.append((name, "removed", ot, None))
        elif n[name] != ot:
            rows.append((name, "type_changed", ot, n[name]))
        else:
            rows.append((name, "unchanged", ot, ot))
    for name, nt in n.items():
        if name not in o:
            rows.append((name, "added", None, nt))
    return spark.createDataFrame(
        rows, "column string, status string, old_type string, "
              "new_type string")


def key_overlap_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    key_col_b: str | None = None,
    lgk: int = 14,
    tol: float = 0.05,
    include_exact: bool = False,
) -> DataFrame:
    """Sketch-based split-overlap estimate: how many distinct keys do two
    datasets share? ``|A∩B| ≈ est(A) + est(B) − est(A ⊎ B)`` by
    inclusion–exclusion over mergeable Datasketches HLL sketches
    (``hll_sketch_agg`` / ``hll_union``). The production use is
    train/test contamination triage at 100 TB: :func:`disjointness_
    violations`' exact anti-join answers "WHICH keys leak" at the cost
    of shuffling both key sets; this answers "HOW MUCH leaks" with two
    independent single-pass scans whose outputs are two ≤2^lgk-byte
    sketches merged on the driver side of the plan — no join, no
    co-shuffle, and the per-split sketches can be computed incrementally
    per ingest batch and unioned later (mergeability is the point).

    Returns ONE row: ``est_a``, ``est_b``, ``est_overlap`` (rounded
    doubles). With ``include_exact=True`` (tests / the oracle gate) it
    additionally computes exact distinct counts and the exact
    intersection and emits ``exact_a``, ``exact_b``, ``exact_overlap``,
    ``overlap_within_tol`` — TRUE when the sketch estimate lands within
    ``tol`` × the exact UNION cardinality (inclusion–exclusion error
    scales with the union, not the intersection). The gate asserts the
    boolean, so an out-of-tolerance sketch hash-mismatches without the
    SQL oracle reproducing the estimator (the hll_tolerance_events
    pattern)."""
    kb = key_col_b or key_col
    a = df_a.select(F.col(key_col).alias("_k")).filter(F.col("_k").isNotNull())
    b = df_b.select(F.col(kb).alias("_k")).filter(F.col("_k").isNotNull())
    sa = a.agg(F.hll_sketch_agg("_k", F.lit(int(lgk))).alias("_ska"),
               F.count_distinct("_k").cast("long").alias("exact_a"))
    sb = b.agg(F.hll_sketch_agg("_k", F.lit(int(lgk))).alias("_skb"),
               F.count_distinct("_k").cast("long").alias("exact_b"))
    j = sa.crossJoin(sb)
    est_a = F.hll_sketch_estimate("_ska").cast("double")
    est_b = F.hll_sketch_estimate("_skb").cast("double")
    est_u = F.hll_sketch_estimate(
        F.hll_union("_ska", "_skb", True)).cast("double")
    est_int = est_a + est_b - est_u
    if not include_exact:
        return j.select(F.round(est_a, 3).alias("est_a"),
                        F.round(est_b, 3).alias("est_b"),
                        F.round(est_int, 3).alias("est_overlap"))
    exact = (a.distinct().join(b.distinct(), "_k")
             .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap")))
    j = j.crossJoin(exact)
    exact_union = (F.col("exact_a") + F.col("exact_b")
                   - F.col("exact_overlap"))
    within = (F.abs(est_int - F.col("exact_overlap"))
              <= float(tol) * F.greatest(exact_union.cast("double"),
                                         F.lit(1.0)))
    return j.select("exact_a", "exact_b", "exact_overlap",
                    within.alias("overlap_within_tol"))


def conversation_cadence_profile(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    min_gaps: int = 3,
) -> DataFrame:
    """Automation / replay cadence detector: per-conversation inter-turn
    gap statistics in exact integer MICROseconds, flagging conversations
    whose every gap is identical (``constant_cadence``) — the signature
    of scripted traffic, a replayed log, or a synthesizer that stamped
    timestamps on a fixed timer. Human conversations have irregular
    think-time; a 10-turn conversation with ten exactly-30.000000s gaps
    was not typed by a person, and a corpus quietly polluted with such
    replays skews every latency/freshness statistic downstream. Distinct
    from :func:`response_latency_violations` (absolute slowness) and
    :func:`echo_duplicates` (same-content double-fires): this is a
    WHOLE-conversation timing-shape invariant over arbitrary content.

    Null-``ts`` turns are excluded (the null-rate stats own them); turns
    are ordered by ``(idx_col ASC NULLS FIRST, ts)`` — the sort closes
    with the timestamp so index-tied rows pair deterministically (the
    :func:`degenerate_runs` discipline). ``constant_cadence`` requires
    ``min_gaps`` gaps so 2-turn conversations can't trivially flag.

    Execution shape at 10^12 turns: ONE window shuffle on the
    conversation key (the table's natural clustering) for the lag, then
    a conversation-keyed aggregate over the SAME partitioning (no second
    exchange); per-row state is one lag value. All outputs are exact
    BIGINTs — no float drift between engines.

    Columns: ``(conv, n_timed_turns, n_gaps, n_distinct_gaps,
    min_gap_us, max_gap_us, constant_cadence)``."""
    base = (df.filter(F.col(ts_col).isNotNull())
            .select(F.col(conv_col).alias("conv"),
                    F.col(idx_col).cast("long").alias("_i"),
                    F.unix_micros(F.col(ts_col)).alias("_us")))
    w = Window.partitionBy("conv").orderBy(
        F.col("_i").asc_nulls_first(), F.col("_us").asc())
    gap = F.col("_us") - F.lag("_us").over(w)
    return (base.withColumn("_gap", gap)
            .groupBy("conv")
            .agg(F.count(F.lit(1)).cast("long").alias("n_timed_turns"),
                 F.count("_gap").cast("long").alias("n_gaps"),
                 F.countDistinct("_gap").cast("long")
                 .alias("n_distinct_gaps"),
                 F.min("_gap").alias("min_gap_us"),
                 F.max("_gap").alias("max_gap_us"))
            .withColumn(
                "constant_cadence",
                (F.col("n_gaps") >= int(min_gaps))
                & (F.col("n_distinct_gaps") == 1)))


def _turn_pairs(df: DataFrame, conv_col: str, idx_col: str, role_col: str,
                text_col: str, *extra: Column) -> tuple[DataFrame, WindowSpec]:
    """Pairing layer of the "previous turn → this turn" analyzers, the
    batch twin of :func:`valar_spark.streaming._turn_pairs`: projects
    ``(conv, _i, _role, _text, *extra)`` and returns it with THE
    content-closed window over it, ``PARTITION BY conv ORDER BY _i NULLS
    FIRST, _role NULLS FIRST, md5(coalesce(_text, ''))``. Closing the sort
    with content makes index-tied duplicates interchangeable, so every
    lag/lead/running frame over it is partition-layout-independent and
    replayable by the DuckDB oracles. Cost: one conv-keyed shuffle, and
    one sort per projection of window columns (each projection derives
    its own md5 key, which Spark cannot match to another's), so callers
    take all of theirs in one ``withColumns``."""
    base = df.select(
        F.col(conv_col).alias("conv"),
        F.col(idx_col).cast("long").alias("_i"),
        F.col(role_col).alias("_role"),
        F.col(text_col).alias("_text"),
        *extra)
    return base, Window.partitionBy("conv").orderBy(
        F.col("_i").asc_nulls_first(),
        F.col("_role").asc_nulls_first(),
        F.md5(F.coalesce(F.col("_text"), F.lit(""))).asc())


def _lagged_pairs(df: DataFrame, conv_col: str, idx_col: str,
                  role_col: str, text_col: str, prev: str) -> DataFrame:
    """:func:`_turn_pairs` plus the previous turn's role and ``prev``
    column (``"_text"`` or ``"_i"``) as ``_prev_role`` / ``_prev<prev>``:
    the pair frame whose rows :func:`valar_spark.streaming._turn_pairs`
    emits too, so each analyzer's post-lag function serves both."""
    base, w = _turn_pairs(df, conv_col, idx_col, role_col, text_col)
    return base.withColumns(
        {f"_prev{c}": F.lag(c).over(w) for c in ("_role", prev)})


# digit-run numeric token: shared verbatim with the DuckDB oracle; inside
# the Java-regex ∩ RE2 intersection (non-capturing group only)
NUMBER_TOKEN_PATTERN = r"\d+(?:\.\d+)?"


# Pair classifications over a :func:`_turn_pairs` frame and the previous
# turn's role/text: the echo, grounding and parrot analyzers filter on
# them and the quarantine rollup sums them, so they never disagree.
def _reply_to(role: str, prev_role: Column, prev_text: Column) -> Column:
    """A non-null assistant turn right after a non-null ``role`` turn."""
    return ((F.col("_role") == "assistant") & (prev_role == role)
            & prev_text.isNotNull() & F.col("_text").isNotNull())


def _tool_echo(prev_role: Column, prev_text: Column,
               min_chars: int) -> Column:
    """A reply pasting a tool output of >= ``min_chars`` verbatim."""
    return (_reply_to("tool", prev_role, prev_text)
            & (F.length(prev_text) >= int(min_chars))
            & F.col("_text").contains(prev_text))


def _numbers(text: Column | str) -> Column:
    """Distinct :data:`NUMBER_TOKEN_PATTERN` tokens of ``text``."""
    return F.array_distinct(
        F.regexp_extract_all(text, F.lit(NUMBER_TOKEN_PATTERN), 0))


def _ungrounded(prev_role: Column, prev_text: Column) -> Column:
    """A reply to a tool turn stating numbers the tool output lacks."""
    nums = _numbers("_text")
    return (_reply_to("tool", prev_role, prev_text) & (F.size(nums) > 0)
            & (F.size(F.array_except(nums, _numbers(prev_text))) > 0))


def tool_output_echo(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_chars: int = 20,
) -> DataFrame:
    """Regurgitation detector: assistant turns that contain the
    IMMEDIATELY PRECEDING tool turn's output verbatim. An assistant that
    pastes the tool result back instead of synthesizing it contributes
    near-zero training signal at full token cost — across a corpus this
    is one of the larger silent token sinks, and no per-turn rule can see
    it because each turn is individually well-formed. ``min_chars``
    (>= 1) guards against trivial echoes ("ok", a number) that are
    legitimate.

    ONE lag over :func:`_turn_pairs`, then a pure filter — ``contains``
    is a JVM substring scan bounded by the two turns' lengths, no
    explode, no Python.

    Columns: ``(conv, turn_idx, echo_chars, turn_chars,
    echo_share_pct)`` — one row per echoing assistant turn."""
    return _echo_rows(_lagged_pairs(df, conv_col, idx_col, role_col,
                                    text_col, "_text"), min_chars)


def _echo_rows(pairs: DataFrame, min_chars: int) -> DataFrame:
    """:func:`tool_output_echo` over a :func:`_lagged_pairs` frame."""
    if min_chars < 1:
        raise ValueError(f"min_chars must be >= 1, got {min_chars}")
    out = pairs.filter(_tool_echo(F.col("_prev_role"), F.col("_prev_text"),
                                  min_chars))
    return out.select(
        "conv", F.col("_i").alias("turn_idx"),
        F.length("_prev_text").cast("long").alias("echo_chars"),
        F.length("_text").cast("long").alias("turn_chars"),
        F.round(F.length("_prev_text") * 100.0 / F.length("_text"), 4)
        .alias("echo_share_pct"))


def conversation_language_profile(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation language-consistency census over the turn-level
    marker heuristic (:func:`valar_spark.textops.language_id`): how many
    turns classified to each language, the dominant language, and a
    ``mixed`` flag when a conversation contains confidently-classified
    turns in ≥2 languages — the signature of a corrupted merge (two
    conversations interleaved under one id) or of code-switching a
    monolingual downstream filter would mis-gate. Unclassified turns
    (``und`` — no marker hits) are counted but never vote.

    Execution shape: the marker battery is the same shuffle-free
    projection the document gate uses, then a (conv, lang) aggregate
    (bounded by conversations × |languages|) and a conv rollup. Dominant
    language is an exact struct-min argmax ``min(struct(-count, lang))``
    — ties break to the lexicographically FIRST language, no window.

    Columns: ``(conv, n_turns, n_classified, n_und, n_langs,
    dominant_lang, dominant_n, mixed)``; ``dominant_lang`` is null for
    conversations with no classified turn."""
    from valar_spark.textops import language_id

    turns = language_id(
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(conv_col).alias("conv"), F.col(text_col).alias("text")))
    per = (turns.groupBy("conv", "lang_pred")
           .agg(F.count(F.lit(1)).alias("_c")))
    classified = F.col("lang_pred") != "und"
    dom = F.min(F.when(classified,
                       F.struct((-F.col("_c")).alias("neg"),
                                F.col("lang_pred").alias("lang"))))
    prof = (per.groupBy("conv")
            .agg(F.sum("_c").cast("long").alias("n_turns"),
                 F.sum(F.when(~classified, F.col("_c")).otherwise(0))
                 .cast("long").alias("n_und"),
                 F.sum(F.when(classified, 1).otherwise(0))
                 .cast("long").alias("n_langs"),
                 dom.alias("_dom")))
    return prof.select(
        "conv", "n_turns",
        (F.col("n_turns") - F.col("n_und")).cast("long")
        .alias("n_classified"),
        "n_und", "n_langs",
        F.col("_dom")["lang"].alias("dominant_lang"),
        (-F.col("_dom")["neg"]).cast("long").alias("dominant_n"),
        (F.col("n_langs") >= 2).alias("mixed"))


#: prefix-anchored refusal/template battery (lowercased; the typographic
#: apostrophe is normalized to ASCII first). Classification is
#: FIRST-MATCH in list order — shared verbatim with the SQL oracle.
#: The pattern class is the standard refusal-overrepresentation screen
#: of LLM data-curation pipelines; prefix anchoring keeps precision high
#: (mid-text "I can't" in quoted dialogue does not fire).
REFUSAL_PATTERNS: list[tuple[str, str]] = [
    ("apology", r"^(i'm sorry|i am sorry|i apologize|my apologies|sorry,)"),
    ("cannot", r"^(i can't|i cannot|i can not|i won't|i will not)"),
    ("unable", r"^(i'm unable|i am unable|i'm not able|i am not able)"),
    ("ai_disclaimer",
     r"^(as an ai|as a language model|as an artificial intelligence"
     r"|i'm just an ai|i am just an ai)"),
]


def refusal_pattern_census(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
) -> DataFrame:
    """Refusal / boilerplate-template census over assistant turns: how
    many turns (and distinct conversations) OPEN with each refusal
    pattern of :data:`REFUSAL_PATTERNS`, plus each pattern's share of all
    assistant turns. The paraphrase-tolerant companion of
    :func:`canned_response_profile`: the exact-text census catches one
    template at a time, this battery catches the whole class ("I'm
    sorry…", "I cannot…", "As an AI…") whose over-representation a
    curation run downweights before training.

    Matching is on ``lower(trim(text))`` with the typographic apostrophe
    (U+2019) normalized to ASCII — case folding via ``lower()`` (not
    ``(?i)``, whose Unicode semantics differ between Java regex and RE2);
    a turn counts toward its FIRST matching pattern only. One shuffle-free
    classification projection, one pattern-keyed aggregate (output
    bounded by the battery size), share denominator is a broadcast
    single-row aggregate.

    Columns: ``(pattern, n_turns, n_convs, turns_share_pct)`` ordered by
    pattern."""
    t = F.lower(F.trim(F.translate(F.col(text_col), "’", "'")))
    label: Column = F.lit(None).cast("string")
    for key, pat in reversed(REFUSAL_PATTERNS):
        label = F.when(t.rlike(pat), F.lit(key)).otherwise(label)
    turns = (df.filter(F.col(role_col).eqNullSafe(role)
                       & F.col(text_col).isNotNull())
             .select(label.alias("pattern"),
                     F.col(conv_col).alias("_conv")))
    tot = turns.select(F.count(F.lit(1)).alias("_tot"))
    per = (turns.filter(F.col("pattern").isNotNull())
           .groupBy("pattern")
           .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                F.countDistinct("_conv").cast("long").alias("n_convs")))
    return (per.crossJoin(F.broadcast(tot))
            .select("pattern", "n_turns", "n_convs",
                    F.round(F.col("n_turns") * 100.0 / F.col("_tot"), 4)
                    .alias("turns_share_pct"))
            .orderBy("pattern"))


# Prompt-injection phrase battery — the user/tool-side twin of
# :data:`REFUSAL_PATTERNS`. Patterns are drawn from the publicly
# documented indirect-prompt-injection literature (Greshake et al. 2023,
# "Not what you've signed up for"; OWASP LLM Top-10 LLM01) and kept inside
# the Java-regex ∩ RE2 intersection (alternation, optional groups, \b —
# no lookaround, no backrefs) so Spark's rlike and DuckDB's
# regexp_matches compile them identically. Matching is UNANCHORED —
# injection bait is usually buried mid-document, unlike refusal openers.
INJECTION_PATTERNS: list[tuple[str, str]] = [
    ("ignore_previous",
     r"\bignore (all |any )?(previous|prior|above|earlier) "
     r"(instructions|prompts|rules|directions|messages)"),
    ("override_forget",
     r"\b(disregard (all|any|the) (previous|prior|above)"
     r"|forget (all|everything) (you were told|your instructions))"),
    ("new_instructions",
     r"(\byour new instructions\b|\bnew instructions:"
     r"|\bfrom now on,? you (are|must|will))"),
    ("system_prompt_probe",
     r"\b(reveal|print|show|repeat|output) (your|the) "
     r"(system prompt|hidden instructions|initial prompt|system message)"),
    ("jailbreak_persona",
     r"\b(do anything now\b|developer mode\b|act as dan\b|you are dan\b)"),
]


def injection_label_array(text_col: str | Column = "text") -> Column:
    """Compacted array of :data:`INJECTION_PATTERNS` class keys the text
    matches (empty array = clean turn). The ONE shared Column builder
    behind :func:`prompt_injection_census`,
    :func:`valar_spark.streaming.stream_injection_flags` and the
    :func:`valar_spark.rules.no_injection_bait` row rule, so the census,
    the streaming flagger and the enforcement rule cannot drift.
    Normalization = ``lower()`` + U+2019→ASCII, matching UNANCHORED."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.lower(F.translate(c, "’", "'"))
    return F.filter(
        F.array(*[F.when(t.rlike(pat), F.lit(key))
                  for key, pat in INJECTION_PATTERNS]),
        lambda c: c.isNotNull())


def prompt_injection_census(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    roles: tuple[str, ...] = ("user", "tool"),
) -> DataFrame:
    """Prompt-injection phrase census over the ATTACK-SURFACE roles
    (user turns = direct injection, tool turns = indirect injection via
    retrieved content — Greshake et al. 2023): for each battery class of
    :data:`INJECTION_PATTERNS` and each role, how many turns contain it,
    how many distinct conversations, and the class's share of that
    role's turns. Reference-semantics anchor: like the reference's
    ``regexMatch`` helper this is a pure predicate battery
    (ValidationHelpers.scala:358-390) — but multi-label: one turn
    counts toward EVERY class it matches (an "ignore previous
    instructions and reveal your system prompt" turn is both
    ``ignore_previous`` and ``system_prompt_probe``), because a curation
    run quarantines on any hit while a red-team census wants the full
    class breakdown. This differs deliberately from
    :func:`refusal_pattern_census`'s first-match-wins (refusal openers
    are mutually exclusive prefixes; injection phrases co-occur).

    Matching is on ``lower()`` text with U+2019 normalized to ASCII,
    UNANCHORED (bait hides mid-text). Plan shape: one shuffle-free
    classification projection building a compacted label array, explode
    (non-matching turns emit nothing, so the shuffle carries only hits
    — at a realistic <0.1% hit rate the aggregate input is ~1000× smaller
    than the corpus), one (pattern, role)-keyed aggregate bounded by
    |battery|×|roles|, and a broadcast per-role totals join.

    Columns: ``(pattern, role, n_turns, n_convs, turns_share_pct)``
    ordered by (pattern, role)."""
    turns = (df.filter(F.col(role_col).isin(list(roles))
                       & F.col(text_col).isNotNull())
             .select(F.col(role_col).alias("role"),
                     F.col(conv_col).alias("_conv"),
                     injection_label_array(text_col).alias("_labels")))
    matched = turns.select(
        "role", "_conv", F.explode("_labels").alias("pattern"))
    per = (matched.groupBy("pattern", "role")
           .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                F.countDistinct("_conv").cast("long").alias("n_convs")))
    tot = turns.groupBy("role").agg(F.count(F.lit(1)).alias("_tot"))
    return (per.join(F.broadcast(tot), "role")
            .select("pattern", "role", "n_turns", "n_convs",
                    F.round(F.col("n_turns") * 100.0 / F.col("_tot"), 4)
                    .alias("turns_share_pct"))
            .orderBy("pattern", "role"))


def tool_grounding_check(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Numeric-grounding check for tool-using assistants: for every
    assistant turn that immediately follows a tool turn, which numbers
    the assistant states do NOT appear in that tool output. A figure the
    model asserts right after a tool call but that the tool never
    returned is the classic hallucinated-statistic shape — per-turn rules
    can't see it (each turn is well-formed alone), and the echo detector
    can't either (the turn is NOT a verbatim paste). The complement of
    :func:`tool_output_echo`: echo flags too-faithful turns, this flags
    too-creative ones.

    Matching contract: numeric tokens are digit runs with an optional
    decimal part (:data:`NUMBER_TOKEN_PATTERN`), compared STRING-EXACT —
    ``42`` does not ground ``42.0``, and ``2.5`` inside ``v2.5-turbo``
    counts as a token. Deliberately strict and deterministic: a grounding
    heuristic that normalizes ("1,000" ≈ "1000" ≈ "1e3") trades
    auditability for recall, and a validation engine reports what is
    checkable; route hits to review, don't auto-drop.

    Cost: the echo's lag over :func:`_turn_pairs`, then regexp
    extraction + array set ops all JVM-side (``regexp_extract_all`` /
    ``array_except`` — no explode, no Python); only replies to a tool
    turn that contain at least one number reach the output.

    Columns: ``(conv, turn_idx, n_numbers, n_ungrounded, ungrounded_csv,
    grounded_share_pct)`` — one row per checked assistant turn;
    ``ungrounded_csv`` is the sorted comma-joined offending tokens
    (a string, so hash oracles compare it byte-exact)."""
    return _grounding_rows(_lagged_pairs(df, conv_col, idx_col, role_col,
                                         text_col, "_text"))


def _grounding_rows(pairs: DataFrame) -> DataFrame:
    """:func:`tool_grounding_check` over a :func:`_lagged_pairs` frame."""
    checked = (pairs
               .filter(_reply_to("tool", F.col("_prev_role"),
                                 F.col("_prev_text")))
               .select("conv", F.col("_i").alias("turn_idx"),
                       _numbers("_text").alias("_nums"),
                       _numbers("_prev_text").alias("_tnums"))
               .filter(F.size("_nums") > 0))
    ung = F.array_sort(F.array_except("_nums", "_tnums"))
    return checked.select(
        "conv", "turn_idx",
        F.size("_nums").cast("long").alias("n_numbers"),
        F.size(ung).cast("long").alias("n_ungrounded"),
        F.array_join(ung, ",").alias("ungrounded_csv"),
        F.round((F.size("_nums") - F.size(ung)) * 100.0
                / F.size("_nums"), 4).alias("grounded_share_pct"))


# Serving/serialization artifact battery — literal special-token and
# wrapper markers that must NEVER appear inside natural assistant text:
# their presence means a broken chat-template render, a stop-sequence
# that failed to stop, or a double-serialized turn. Patterns are
# Java-regex ∩ RE2 (alternation + \b only); classes ordered for the
# census output. Sources: the publicly documented token inventories of
# GPT-2/Llama/ChatML-style templates and the role-prefix double-wrap
# failure every serving stack reinvents.
SPECIAL_TOKEN_PATTERNS: list[tuple[str, str]] = [
    ("stop_token",
     r"(</s>|<\|endoftext\|>|<\|eot_id\|>|\[DONE\])"),
    ("chatml_marker",
     r"<\|(im_start|im_end|assistant|user|system)\|>"),
    ("template_tag",
     r"(\[INST\]|\[/INST\]|<<SYS>>|<</SYS>>)"),
    ("role_prefix",
     r"^(assistant|ai|system|user|human|bot): "),
]


def special_token_label_array(text_col: str | Column = "text") -> Column:
    """Compacted array of :data:`SPECIAL_TOKEN_PATTERNS` class keys the
    text matches (empty array = clean). Shared by
    :func:`special_token_leakage` and the
    :func:`valar_spark.rules.no_special_tokens` row rule so census and
    enforcement cannot drift. Case-sensitive except ``role_prefix``
    (matched on ``lower()``, anchored at turn start)."""
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(raw)
    return F.filter(
        F.array(*[F.when((low if key == "role_prefix" else raw)
                         .rlike(pat), F.lit(key))
                  for key, pat in SPECIAL_TOKEN_PATTERNS]),
        lambda c: c.isNotNull())


def special_token_leakage(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
) -> DataFrame:
    """Serving-artifact census over assistant turns: how many turns (and
    distinct conversations) leak each :data:`SPECIAL_TOKEN_PATTERNS`
    class, plus the class's share of assistant turns. Training on turns
    that embed literal ``<|endoftext|>`` / ``[INST]`` / ``assistant: ``
    wrappers teaches the model to EMIT its own control tokens — one of
    the self-reinforcing corpus defects (the artifact came from a model,
    and feeding it back amplifies it), and invisible to every
    quality/dedup screen because the surrounding text is fine.

    Multi-label like :func:`prompt_injection_census` (one mangled turn
    often carries several artifact classes); matching is case-sensitive
    except ``role_prefix`` (matched on ``lower()``, anchored at turn
    start). Same plan shape as the injection census: shuffle-free
    classify projection, explode emits only hits, pattern-keyed
    aggregate bounded by the battery, broadcast totals join.

    Columns: ``(pattern, n_turns, n_convs, turns_share_pct)`` ordered by
    pattern."""
    turns = (df.filter(F.col(role_col).eqNullSafe(role)
                       & F.col(text_col).isNotNull())
             .select(F.col(conv_col).alias("_conv"),
                     special_token_label_array(text_col)
                     .alias("_labels")))
    matched = turns.select("_conv", F.explode("_labels").alias("pattern"))
    per = (matched.groupBy("pattern")
           .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                F.countDistinct("_conv").cast("long").alias("n_convs")))
    tot = turns.select(F.count(F.lit(1)).alias("_tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select("pattern", "n_turns", "n_convs",
                    F.round(F.col("n_turns") * 100.0 / F.col("_tot"), 4)
                    .alias("turns_share_pct"))
            .orderBy("pattern"))


def intra_conversation_repeats(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
    min_chars: int = 10,
) -> DataFrame:
    """Within-conversation repeated-turn detector: texts the SAME
    conversation's assistant produces more than once. The model-loop
    failure class between the two the engine already covers —
    :func:`degenerate_runs` needs the copies CONSECUTIVE and
    :func:`template_turns` needs them across ≥2 conversations; a model
    that circles back to a canned answer three turns later (the classic
    context-window loop) is caught by neither. ``span > n_turns - 1``
    distinguishes those non-adjacent loops from a consecutive stutter
    (``span`` counts index distance; n consecutive dense-indexed copies
    have span n-1). ``min_chars`` skips legitimately repeated short
    acknowledgements ("ok", "yes").

    ONE aggregate on (conv, md5(text)) — no window, no join; shuffle
    carries (conv, 32-hex hash, idx), map-side combined, output bounded
    by actual repeat groups.

    Columns: ``(conv, text_hash, n_turns, first_idx, last_idx, span)``
    — one row per repeated text per conversation."""
    base = (df.filter(F.col(role_col).eqNullSafe(role)
                      & F.col(text_col).isNotNull()
                      & (F.length(text_col) >= int(min_chars)))
            .select(F.col(conv_col).alias("conv"),
                    F.md5(F.col(text_col)).alias("text_hash"),
                    F.col(idx_col).cast("long").alias("_i")))
    return (base.groupBy("conv", "text_hash")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.min("_i").alias("first_idx"),
                 F.max("_i").alias("last_idx"))
            .filter(F.col("n_turns") > 1)
            .withColumn("span",
                        (F.col("last_idx") - F.col("first_idx"))
                        .cast("long")))


def conversation_depth_profile(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    bucket_size: int = 5,
) -> DataFrame:
    """Turn-depth × role length profile: per depth bucket
    (``turn_idx DIV bucket_size``) and role, how many turns, their mean
    whitespace-token length, and their blank share. The context-rot
    curve operators watch at corpus scale: assistant turns that shrink
    monotonically with depth signal context-exhaustion truncation, a
    length CLIFF at one bucket marks where a serving-side limit bit, and
    a blank-rate ramp localizes the depth at which a broken pipeline
    starts dropping text — all invisible to per-turn rules (every turn
    individually passes) and to whole-conversation stats (the mean hides
    WHERE the decay is). Token cost = the
    :func:`valar_spark.textops.token_count` contract (null/blank ⇒ 0);
    blank = ZERO TOKENS (null or whitespace-only under the same
    contract) — deliberately defined off the token count rather than a
    TRIM comparison, because trim dialects disagree on exotic
    whitespace across engines (the differential fuzzer caught exactly
    this on \\t\\n-padded texts) while the shared tokenizer fragment is
    already proven portable.

    ONE aggregate: the per-turn token count and blank flag are projected
    in the scan, the shuffle carries (bucket, role, two ints), output
    bounded by depth range × |roles|. Negative indices (the synth
    corruption plant) bucket via floor division, so they land in bucket
    -1 instead of polluting bucket 0.

    Columns: ``(depth_bucket, role, n_turns, avg_tokens, blank_pct)``
    ordered by (depth_bucket, role NULLS FIRST)."""
    from valar_spark.textops import token_count

    b = F.floor(F.col(idx_col).cast("long") / int(bucket_size))
    base = (df.select(
        b.alias("depth_bucket"),
        F.col(role_col).alias("role"),
        token_count(F.col(text_col)).cast("long").alias("_tok"))
        .withColumn("_blank", (F.col("_tok") == 0).cast("int")))
    return (base.groupBy("depth_bucket", "role")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.round(F.avg("_tok"), 4).alias("avg_tokens"),
                 F.round(F.sum("_blank") * 100.0 / F.count(F.lit(1)), 4)
                 .alias("blank_pct"))
            .orderBy(F.col("depth_bucket").asc_nulls_first(),
                     F.col("role").asc_nulls_first()))


def conversation_quarantine(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    echo_min_chars: int = 20,
) -> DataFrame:
    """Conversation-grain security/quality quarantine rollup — the unit a
    pipeline actually acts on: turn-level findings are evidence, but
    dropping individual turns breaks dialogue coherence, so ingestion
    gates quarantine whole conversations. Per conversation: counts of
    injection-bait turns (user/tool surfaces,
    :data:`INJECTION_PATTERNS`), special-token-leaking assistant turns
    (:data:`SPECIAL_TOKEN_PATTERNS`), verbatim tool echoes, and
    ungrounded-number turns (the :func:`_tool_echo` /
    :func:`_ungrounded` predicates :func:`tool_output_echo` /
    :func:`tool_grounding_check` filter on), plus ``quarantine`` = any
    SECURITY hit (injection or token leak — the two classes that must
    never train) and a canonical-order ``reasons`` csv covering all
    four. Shares every classification Column with the censuses / rules /
    streams, so this rollup can never disagree with them.

    Cost: ONE shuffle-free per-turn classification projection, ONE
    conv-keyed window (the :func:`_turn_pairs` lag the engine already
    pays for echo/grounding), ONE conv aggregate. Output is one row per
    conversation.

    ``echo_min_chars`` (>= 1) is :func:`tool_output_echo`'s ``min_chars``.

    Columns: ``(conv, n_turns, n_injection_turns, n_special_turns,
    n_echo_turns, n_ungrounded_turns, quarantine, reasons)``."""
    if echo_min_chars < 1:
        raise ValueError(
            f"echo_min_chars must be >= 1, got {echo_min_chars}")
    base, w = _turn_pairs(
        df, conv_col, idx_col, role_col, text_col,
        ((F.size(injection_label_array(text_col)) > 0)
         & F.col(role_col).isin("user", "tool")
         & F.col(text_col).isNotNull()).cast("int").alias("_inj"),
        ((F.size(special_token_label_array(text_col)) > 0)
         & F.col(role_col).eqNullSafe("assistant")
         & F.col(text_col).isNotNull()).cast("int").alias("_tok"))
    prev_role = F.lag("_role").over(w)
    prev_text = F.lag("_text").over(w)
    turns = base.select(
        "conv", "_inj", "_tok",
        _tool_echo(prev_role, prev_text, echo_min_chars)
        .cast("int").alias("_echo"),
        _ungrounded(prev_role, prev_text).cast("int").alias("_ung"))
    agg = turns.groupBy("conv").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("_inj").cast("long").alias("n_injection_turns"),
        F.sum("_tok").cast("long").alias("n_special_turns"),
        F.sum("_echo").cast("long").alias("n_echo_turns"),
        F.sum("_ung").cast("long").alias("n_ungrounded_turns"))
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_injection_turns") > 0, F.lit("injection")),
        F.when(F.col("n_special_turns") > 0, F.lit("special_token")),
        F.when(F.col("n_echo_turns") > 0, F.lit("tool_echo")),
        F.when(F.col("n_ungrounded_turns") > 0, F.lit("ungrounded")))
    return agg.select(
        "conv", "n_turns", "n_injection_turns", "n_special_turns",
        "n_echo_turns", "n_ungrounded_turns",
        ((F.col("n_injection_turns") > 0)
         | (F.col("n_special_turns") > 0)).alias("quarantine"),
        reasons.alias("reasons"))


def conversation_sequence_packing(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    max_tokens: int = 2048,
    supervised_role: str = "assistant",
    salt: str = "valar:seqpack",
    range_buckets: int = 256,
) -> DataFrame:
    """Conversation → training-SEQUENCE packing: assign whole
    conversations to fixed-budget context windows (SFT sequence packing)
    without ever splitting a dialogue. Splitting breaks turn coherence
    (an assistant turn without its user turn trains on nothing), so the
    packing unit is the CONVERSATION; a conversation longer than the
    window is flagged ``overflow`` for downstream truncation rather than
    silently split here.

    Per conversation: total whitespace-token count, SUPERVISED token
    count (turns whose role == ``supervised_role`` — the tokens the loss
    actually trains on; user/tool turns are attention context with the
    loss masked), and a ``seq_id`` from the deterministic hash-shuffled
    running-total assignment of :func:`valar_spark.textops.
    pack_token_shards` — i.e. the SAME two-phase range-bucket cumsum
    (never a single-partition global sort) with ``conv_id`` as the
    packing key. Assignment semantics match shard packing: a
    conversation belongs to the window where its running total STARTS,
    so windows can overrun the budget by less than one conversation —
    the standard greedy-order packing contract, bit-reproducible on any
    engine with md5.

    Cost at 10^12 turns: one conv-keyed aggregate (the shuffle the
    engine already pays for every conversation profile), then the
    range-bucket cumsum whose widest shuffle is an ordinary hash
    partition on the 256 buckets. Output: one row per conversation —
    ``(conv, conv_tokens, supervised_tokens, seq_id, overflow)``."""
    from valar_spark.textops import pack_token_shards, token_count

    tok = token_count(F.col(text_col)).cast("long")
    per_conv = (df.groupBy(F.col(conv_col).alias("conv"))
                .agg(F.sum(tok).alias("conv_tokens"),
                     F.sum(F.when(F.col(role_col) == supervised_role, tok)
                           .otherwise(F.lit(0)))
                     .alias("supervised_tokens")))
    packed = pack_token_shards(
        per_conv, tokens_col="conv_tokens", shard_tokens=int(max_tokens),
        id_col="conv", salt=salt, range_buckets=range_buckets)
    return packed.select(
        "conv",
        F.col("conv_tokens").cast("long").alias("conv_tokens"),
        F.col("supervised_tokens").cast("long").alias("supervised_tokens"),
        F.col("shard_id").alias("seq_id"),
        (F.col("conv_tokens") > int(max_tokens)).alias("overflow"))


def sequence_packing_stats(
    packed: DataFrame,
    max_tokens: int = 2048,
) -> DataFrame:
    """Window-grain rollup of :func:`conversation_sequence_packing` —
    the packing-efficiency report a dataloader owner reads: per
    ``seq_id`` the conversation count, token total, fill percentage
    against the budget, and the SUPERVISED-token share (what fraction
    of the window the loss actually sees — a corpus whose windows are
    20% supervised tokens pays 5× compute per trained token). One
    aggregate over the conv-grain frame; output bounded by window
    count. Columns: ``(seq_id, n_convs, total_tokens,
    supervised_tokens, fill_pct, supervised_pct, n_overflow)``."""
    return (packed.groupBy("seq_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_convs"),
                 F.sum("conv_tokens").cast("long").alias("total_tokens"),
                 F.sum("supervised_tokens").cast("long")
                 .alias("supervised_tokens"),
                 F.sum(F.col("overflow").cast("int")).cast("long")
                 .alias("n_overflow"))
            .select("seq_id", "n_convs", "total_tokens",
                    "supervised_tokens",
                    F.round(F.col("total_tokens") * 100.0
                            / F.lit(int(max_tokens)), 4).alias("fill_pct"),
                    F.round(F.col("supervised_tokens") * 100.0
                            / F.greatest(F.col("total_tokens"), F.lit(1)),
                            4).alias("supervised_pct"),
                    "n_overflow"))


def verbosity_trend(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
    min_turns: int = 3,
    declining_floor: float = -0.5,
) -> DataFrame:
    """Per-conversation REGRESSION slope of reply length vs turn depth —
    the trend-grade companion of :func:`conversation_depth_profile`:
    the corpus-level depth profile shows WHERE the average decays, this
    names WHICH conversations decay. An assistant whose replies shrink
    as the conversation deepens (slope ≪ 0 tokens/turn) is the
    context-exhaustion / lazy-model signature; a steep positive slope
    marks runaway verbosity. Both poison length-balanced sampling if
    unnoticed.

    Numerics are INTEGER-EXACT until the final division: with x =
    turn index and y = whitespace-token count (both exact BIGINTs), the
    slope is ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` — all five sums
    accumulate as integers (order-independent, so engine partial-agg
    order can never flip a bit), and only the LAST operation is one
    IEEE double division, rounded. Conversations need ``min_turns``
    turns of ``role`` and a non-degenerate index spread (denominator
    > 0) to regress.

    Cost: ONE conv-keyed aggregate over a scan projection — the
    per-turn shuffle rows carry (conv, 5 ints). Columns: ``(conv,
    n_turns, slope, declining)`` with ``declining`` = slope below
    ``declining_floor`` tokens/turn."""
    rows = _verbosity_points(df, conv_col, idx_col, role_col, text_col, role)
    agg = rows.groupBy("conv").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"))
    return _verbosity_slope(agg, min_turns, declining_floor)


def _verbosity_points(df: DataFrame, conv_col: str, idx_col: str,
                      role_col: str, text_col: str, role: str) -> DataFrame:
    """``(conv, _x, _y)``: turn index and token count of each ``role``
    turn with a non-null index, the points :func:`verbosity_trend`
    regresses."""
    from valar_spark.textops import token_count

    return (df.filter((F.col(role_col) == role) & F.col(idx_col).isNotNull())
            .select(F.col(conv_col).alias("conv"),
                    F.col(idx_col).cast("long").alias("_x"),
                    token_count(F.col(text_col)).cast("long").alias("_y")))


def _verbosity_slope(agg: DataFrame, min_turns: int,
                     declining_floor: float) -> DataFrame:
    """:func:`verbosity_trend` over per-conversation sums ``(conv, _n,
    _sx, _sy, _sxy, _sxx)``."""
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return (agg.filter((F.col("_n") >= int(min_turns)) & (den > 0))
            .select("conv", F.col("_n").alias("n_turns"),
                    F.round(num.cast("double") / den.cast("double"), 6)
                    .alias("slope"))
            .withColumn("declining",
                        F.col("slope") < float(declining_floor)))


def parrot_census(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_user_tokens: int = 5,
    min_containment: float = 0.8,
) -> DataFrame:
    """Parroting detector — assistant turns that merely restate the
    IMMEDIATELY PRECEDING user turn: the user→assistant twin of
    :func:`tool_output_echo` (which catches tool regurgitation by
    verbatim substring; parroting is sloppier, so the test is TOKEN-SET
    containment: the share of the user's distinct lowercased tokens
    that reappear in the reply). A reply containing ≥
    ``min_containment`` of a ≥ ``min_user_tokens``-token prompt (>= 1)
    adds near-zero training signal at full token cost, and RLHF-style
    length-reward artifacts make this failure mode common enough to
    budget for at corpus scale.

    Cost at 10^12 turns: the :func:`_turn_pairs` window shuffle the
    engine already pays, then a JVM ``array_intersect`` projection
    bounded by the two turns' lengths — no explode, no Python, and the
    output carries HITS only.

    Columns: ``(conv, turn_idx, user_tokens, overlap_tokens,
    containment_pct)`` — one row per parroting assistant turn."""
    return _parrot_rows(_lagged_pairs(df, conv_col, idx_col, role_col,
                                      text_col, "_text"),
                        min_user_tokens, min_containment)


def _parrot_rows(pairs: DataFrame, min_user_tokens: int,
                 min_containment: float) -> DataFrame:
    """:func:`parrot_census` over a :func:`_lagged_pairs` frame."""
    from valar_spark.textops import tokens

    if min_user_tokens < 1:
        raise ValueError(
            f"min_user_tokens must be >= 1, got {min_user_tokens}")
    cand = pairs.filter(_reply_to("user", F.col("_prev_role"),
                                  F.col("_prev_text")))
    u = F.array_distinct(tokens(F.lower(F.col("_prev_text"))))
    a = F.array_distinct(tokens(F.lower(F.col("_text"))))
    cand = (cand.withColumn("_ut", F.size(u).cast("long"))
            .withColumn("_ov", F.size(F.array_intersect(u, a))
                        .cast("long")))
    return (cand.filter(
        (F.col("_ut") >= int(min_user_tokens))
        & (F.col("_ov") * 1.0
           >= float(min_containment) * F.col("_ut")))
        .select("conv", F.col("_i").alias("turn_idx"),
                F.col("_ut").alias("user_tokens"),
                F.col("_ov").alias("overlap_tokens"),
                F.round(F.col("_ov") * 100.0 / F.col("_ut"), 4)
                .alias("containment_pct")))


# User-side correction battery — the failure-signal twin of
# :data:`REFUSAL_PATTERNS`: a user turn that OPENS by rejecting the
# previous reply marks that reply as a model failure. Anchored prefixes
# (corrections open turns, like refusals), kept inside the Java-regex ∩
# RE2 intersection (alternation + optional groups only) so Spark's
# rlike and DuckDB's regexp_matches compile them identically.
CORRECTION_PATTERNS: list[tuple[str, str]] = [
    ("actually", r"^actually[, ]"),
    ("flat_no", r"^(no[.,!] |no,? (that|it|this)\b|nope[.,! ])"),
    ("i_meant", r"^(i meant\b|no, i meant\b"
                r"|that('s| is) not what i (meant|asked|said)\b)"),
    ("thats_wrong", r"^(that('s| is) (wrong|incorrect"
                    r"|not (right|correct))\b)"),
    ("try_again", r"^(try again\b|wrong[.,!]|incorrect[.,!]"
                  r"|still (wrong|incorrect|broken|not working)\b)"),
]


def correction_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Corrected-assistant-turn miner: user turns that OPEN with a
    correction marker (:data:`CORRECTION_PATTERNS`) immediately after an
    assistant turn, ATTRIBUTED to that turn — "no, that's wrong"
    following a reply is the cheapest ground-truth failure label a
    transcript corpus carries. Downstream uses: exclude (or downweight)
    the corrected replies from SFT, and mine (corrected reply, eventual
    accepted reply) pairs as preference data — which is why the output
    keeps BOTH turn indices, not just a count.

    Matching contract is the refusal census's (``lower(trim())`` with
    U+2019 normalized, first matching pattern wins); pairing is one lag
    over :func:`_turn_pairs` — the conv-keyed window the engine already
    pays, then a pure filter projection, hits only. A correction after
    a tool/user turn does NOT pair (no reply to attribute).

    Columns: ``(conv, asst_turn_idx, user_turn_idx, pattern)`` — one row
    per corrected reply."""
    return _correction_rows(_lagged_pairs(df, conv_col, idx_col, role_col,
                                          text_col, "_i"))


def _correction_rows(pairs: DataFrame) -> DataFrame:
    """:func:`correction_pairs` over a :func:`_lagged_pairs` frame."""
    t = F.lower(F.trim(F.translate(F.col("_text"), "’", "'")))
    label: Column = F.lit(None).cast("string")
    for key, pat in reversed(CORRECTION_PATTERNS):
        label = F.when(t.rlike(pat), F.lit(key)).otherwise(label)
    out = (pairs
           .filter((F.col("_role") == "user")
                   & (F.col("_prev_role") == "assistant"))
           .withColumn("pattern", label)
           .filter(F.col("pattern").isNotNull()))
    return out.select(
        "conv", F.col("_prev_i").alias("asst_turn_idx"),
        F.col("_i").alias("user_turn_idx"), "pattern")


def pii_role_census(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """PII census with ROLE attribution — the transcripts face of the
    document scrubber (:data:`valar_spark.textops.PII_PATTERNS`, same
    Java∩RE2 contract), split by the surface that matters: PII in USER
    turns is disclosure to collect-and-scrub, PII in TOOL turns is a
    retrieval pipe leaking records, and PII in ASSISTANT turns is the
    memorization tripwire — a model EMITTING identifiers nobody typed
    this conversation. A corpus-grain count (``pii_scrub``) can't
    distinguish the three; curation treats them completely differently
    (scrub / fix the connector / drop and investigate).

    Shape at 10^12 turns: per-category match counts are computed in the
    scan projection (chained ``regexp_count``, no Python), melted via
    ``stack`` (3 rows per turn, filtered to HITS before the shuffle), so
    the aggregate input is bounded by matching turns × categories;
    per-role turn totals are one (role)-keyed aggregate joined back.
    Null-role turns are excluded (no surface to attribute) — both
    engines filter identically.

    Columns: ``(role, category, n_hits, n_turns, n_convs,
    turns_share_pct)`` — turns_share_pct = matching turns as a share of
    that role's non-null-text turns — ordered by (role, category)."""
    from valar_spark.textops import _PII_ORDER, pii_counts

    base = (df.filter(F.col(role_col).isNotNull()
                      & F.col(text_col).isNotNull())
            .select(F.col(role_col).alias("role"),
                    F.col(conv_col).alias("_conv"),
                    pii_counts(F.col(text_col)).alias("_p")))
    stack_args = ", ".join(f"'{k}', _p.{k}" for k in _PII_ORDER)
    melt = base.select(
        "role", "_conv",
        F.expr(f"stack({len(_PII_ORDER)}, {stack_args}) "
               "AS (category, _n)"))
    hits = (melt.filter(F.col("_n") > 0)
            .groupBy("role", "category")
            .agg(F.sum("_n").cast("long").alias("n_hits"),
                 F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.countDistinct("_conv").cast("long").alias("n_convs")))
    tot = base.groupBy("role").agg(
        F.count(F.lit(1)).cast("long").alias("_role_turns"))
    return (hits.join(tot, "role")
            .select("role", "category", "n_hits", "n_turns", "n_convs",
                    F.round(F.col("n_turns") * 100.0
                            / F.col("_role_turns"), 4)
                    .alias("turns_share_pct"))
            .orderBy("role", "category"))


# Discourse-callback battery: assistant phrases that REFERENCE earlier
# conversation content, split by which role's earlier content they
# reference. Unanchored (callbacks sit mid-sentence), Java∩RE2 only.
CALLBACK_PATTERNS: list[tuple[str, str, str]] = [
    # (key, referenced role, pattern)
    ("self_mentioned", "assistant",
     r"\bas (i|we) (mentioned|said|noted|explained|discussed)"
     r"( earlier| before| previously| above)?\b"),
    ("self_like_said", "assistant",
     r"\blike i said( earlier| before)?\b"),
    ("user_said", "user",
     r"\b(earlier,? you (said|asked|mentioned)"
     r"|(as )?you (said|asked|mentioned) (earlier|before|previously))\b"),
]


def false_callbacks(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Hallucinated-context detector: assistant turns that claim a
    callback to earlier conversation content that DOES NOT EXIST — "as
    I mentioned earlier" in a conversation's FIRST assistant turn, or
    "earlier you said" before the user has said anything. Human dialogue
    almost never does this; synthetic-data generators do it constantly
    (the template says "as discussed" regardless of context), so at
    corpus scale this is one of the sharpest synthetic-artifact /
    broken-merge tripwires — and it is invisible to every per-turn rule
    because the phrase itself is perfectly well-formed.

    Each battery class names the role whose earlier content it
    references; the callback is FALSE exactly when the running count of
    PRIOR turns of that role (over :func:`_turn_pairs`' order) is zero.
    Cost: the one conv-keyed window the engine already pays (two running
    counts over a rows frame), a shuffle-free battery projection,
    hits-only output.

    Columns: ``(conv, turn_idx, pattern, prior_assistant_turns,
    prior_user_turns)`` — one row per false callback."""
    t = F.lower(F.translate(F.col(text_col), "’", "'"))
    base, w = _turn_pairs(df, conv_col, idx_col, role_col, text_col,
                          *[t.rlike(pat).alias(f"_m_{key}")
                            for key, _, pat in CALLBACK_PATTERNS])
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    base = base.withColumns({name: F.coalesce(
        F.sum((F.col("_role") == role).cast("long")).over(w), F.lit(0))
        for name, role in (("_prev_a", "assistant"), ("_prev_u", "user"))})
    label: Column = F.lit(None).cast("string")
    for key, ref_role, _ in reversed(CALLBACK_PATTERNS):
        prior = F.col("_prev_a" if ref_role == "assistant" else "_prev_u")
        label = F.when(F.col(f"_m_{key}") & (prior == 0),
                       F.lit(key)).otherwise(label)
    return (base
            .filter((F.col("_role") == "assistant")
                    & F.col("_text").isNotNull())
            .withColumn("pattern", label)
            .filter(F.col("pattern").isNotNull())
            .select("conv", F.col("_i").alias("turn_idx"), "pattern",
                    F.col("_prev_a").alias("prior_assistant_turns"),
                    F.col("_prev_u").alias("prior_user_turns")))


def response_variants(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_variants: int = 2,
    min_user_tokens: int = 3,
) -> DataFrame:
    """Same-prompt / different-response miner — the raw material of
    preference-pair construction: user turns whose EXACT text recurs
    across the corpus (immediately followed by an assistant reply each
    time) with ≥ ``min_variants`` DISTINCT replies. Each such bucket is
    a ready-made candidate set for response ranking (RLHF/DPO) and,
    read the other way, a fingerprint of templated traffic whose reply
    distribution merits an audit. ``min_user_tokens`` floors out
    degenerate buckets ("ok", "yes") whose variants mean nothing.

    Pairing is one ``lead`` over :func:`_turn_pairs`; bucketing keys on
    ``md5(user text)`` so the shuffle carries a fixed-width key, never
    the text. Cost: one conv-keyed window + one md5-keyed aggregate
    (map-side combined; output bounded by distinct repeated prompts).

    Columns: ``(user_md5, user_preview, n_pairs, n_variants,
    sample_conv)`` — one row per repeated prompt with divergent
    replies."""
    from valar_spark.textops import token_count

    base, w = _turn_pairs(df, conv_col, idx_col, role_col, text_col)
    pairs = (base
             .withColumns({"_next_role": F.lead("_role").over(w),
                           "_next_text": F.lead("_text").over(w)})
             .filter((F.col("_role") == "user")
                     & F.col("_text").isNotNull()
                     & (F.col("_next_role") == "assistant")
                     & F.col("_next_text").isNotNull()
                     & (token_count(F.col("_text"))
                        >= int(min_user_tokens))))
    g = (pairs.groupBy(F.md5("_text").alias("user_md5"))
         .agg(F.substring(F.min("_text"), 1, 80).alias("user_preview"),
              F.count(F.lit(1)).cast("long").alias("n_pairs"),
              F.countDistinct(F.md5("_next_text")).cast("long")
              .alias("n_variants"),
              F.min("conv").alias("sample_conv")))
    return g.filter(F.col("n_variants") >= int(min_variants))


def parrot_violations(
    df: DataFrame,
    rule_id: str = "dataset.parrot",
    **kwargs,
) -> DataFrame:
    """:func:`parrot_census` hits in the engine's violation schema, so
    parroting findings union with row-rule findings in one report."""
    hits = parrot_census(df, **kwargs)
    return _as_violations(
        hits, rule_id, E.CODE_PARROT,
        F.concat(F.lit("assistant restates "),
                 F.col("containment_pct").cast("string"),
                 F.lit("% of the preceding user turn's tokens")),
        keys=("conv", "turn_idx"),
        field_path=("text",),
        expected="reply adds content beyond the prompt",
        actual=F.concat(F.col("overlap_tokens").cast("string"),
                        F.lit("/"),
                        F.col("user_tokens").cast("string"),
                        F.lit(" tokens contained")))


def correction_violations(
    df: DataFrame,
    rule_id: str = "dataset.corrected_reply",
    **kwargs,
) -> DataFrame:
    """:func:`correction_pairs` in the violation schema — the VIOLATING
    row is the CORRECTED ASSISTANT TURN (that's the row a curation pass
    drops or downweights), with the correcting user turn in the
    message."""
    hits = correction_pairs(df, **kwargs)
    return _as_violations(
        hits, rule_id, E.CODE_CORRECTED,
        F.concat(F.lit("reply corrected by the user at turn "),
                 F.col("user_turn_idx").cast("string"),
                 F.lit(" ("), F.col("pattern"), F.lit(")")),
        keys=("conv", "asst_turn_idx"),
        field_path=("text",),
        expected="reply the user accepts",
        actual=F.col("pattern"))


def false_callback_violations(
    df: DataFrame,
    rule_id: str = "dataset.false_callback",
    **kwargs,
) -> DataFrame:
    """:func:`false_callbacks` in the violation schema."""
    hits = false_callbacks(df, **kwargs)
    return _as_violations(
        hits, rule_id, E.CODE_FALSE_CALLBACK,
        F.concat(F.lit("callback ("), F.col("pattern"),
                 F.lit(") with no earlier turn to reference")),
        keys=("conv", "turn_idx"),
        field_path=("text",),
        expected="referenced earlier content exists",
        actual=F.concat(F.lit("prior assistant="),
                        F.col("prior_assistant_turns").cast("string"),
                        F.lit(", prior user="),
                        F.col("prior_user_turns").cast("string")))


def pii_role_violations(
    df: DataFrame,
    rule_id: str = "dataset.assistant_pii",
    roles: Sequence[str] = ("assistant",),
    **kwargs,
) -> DataFrame:
    """:func:`pii_role_census` cells for the given roles (default: the
    memorization-tripwire assistant surface) in the violation schema —
    one violation row per firing (role, category) cell."""
    cells = pii_role_census(df, **kwargs).filter(
        F.col("role").isin(list(roles)))
    return _as_violations(
        cells, rule_id, E.CODE_ASSISTANT_PII,
        F.concat(F.col("n_hits").cast("string"), F.lit(" "),
                 F.col("category"), F.lit(" hit(s) in "),
                 F.col("n_turns").cast("string"), F.lit(" "),
                 F.col("role"), F.lit(" turn(s) across "),
                 F.col("n_convs").cast("string"),
                 F.lit(" conversation(s)")),
        keys=("role",),
        field_path=("text",),
        expected="no PII on this surface",
        actual=F.col("category"))


def split_leakage_violations(
    df: DataFrame,
    rule_id: str = "dataset.split_leakage",
    **kwargs,
) -> DataFrame:
    """:func:`conversation_split_leakage` in the violation schema — one
    violation per conversation sitting in a split-spanning cluster."""
    leaks = conversation_split_leakage(df, **kwargs)
    return _as_violations(
        leaks, rule_id, E.CODE_SPLIT_LEAK,
        F.concat(F.lit("identical-content cluster of "),
                 F.col("cluster_size").cast("string"),
                 F.lit(" conversations spans "),
                 F.col("n_splits").cast("string"), F.lit(" splits")),
        keys=("conv",),
        field_path=(),
        expected="cluster confined to one split",
        actual=F.col("split"))
