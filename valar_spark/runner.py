"""Checkpointed, resumable validation runs (BASELINE.json:6,14).

The unit of work and of lineage is the deterministic BUCKET —
``pmod(xxhash64(partition_cols), num_buckets)`` — stable across runs and
cluster sizes. A run processes pending buckets in batches; per batch it

1. filters the scan to the batch's buckets (the bucket expression is
   recomputed from the data, so no bookkeeping column needs to exist),
2. salted-repartitions on ``(bucket, salt)`` so one hot conv_id spreads
   over ``salt`` tasks (BASELINE.json:14; AQE then coalesces/splits),
3. evaluates the compiled rule projection ONCE (persisted for the batch),
4. writes violations with idempotent per-partition overwrite (a re-run of
   a crashed bucket replaces, never duplicates),
5. appends per-bucket verdict + metrics rows to the state table. The
   state rows are the commit marker: a bucket is done once its rows are
   in. An incremental run's carried buckets (see :func:`run_incremental`)
   go into the same append as its first batch's rows; their violations
   are not copied, because each carried row's ``source_run_id`` names
   the run whose sink partitions hold them.

Violation rows are STAMPED with ``(run_id, rule_set_hash)`` and the sink is
partitioned by ``(run_id, rule_set_hash, partition_id)``: reads filter on
the stamp, so rows from an earlier run or an older rule set in the same
work_dir can never leak into this run's result (they live in other
partition directories). Before a bucket is (re)written its partition
directory is cleared explicitly — dynamic partition overwrite alone would
leave a crashed attempt's rows behind when the re-run produces ZERO
violations for that bucket (nothing written ⇒ nothing overwritten). On an
Iceberg/Delta sink the stamp + ``overwritePartitions`` gives the same
contract transactionally.

Resume = read the state table, anti-select completed buckets for the same
``(run_id, rule_set_hash)``, process only the rest. The rule-set hash
guards against resuming across a rule change; the table snapshot id is
recorded for lineage.

A run's result reads the sink once: its own partitions plus, for each
carried bucket, the ``(source_run_id, bucket)`` partition it refers to,
relabelled to the run's ``run_id`` by projection — the snapshot model of
Iceberg, where a new snapshot refers to the data files it keeps instead of
rewriting them. :func:`expire_runs` deletes a run only when no remaining
run refers to it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .validate import (BUCKET_COL, RuleSet, bucket_expr, verdicts_from,
                       violations_from)

STATE_SCHEMA = (
    "run_id string, rule_set_hash string, partition_id int, status string, "
    "rule_id string, violation_count long, rows_checked long, "
    "snapshot_id string, finished_at double, source_run_id string"
)


def rule_set_hash(ruleset: RuleSet) -> str:
    cfg = ruleset.config
    payload = json.dumps(
        {
            "rules": sorted(ruleset.rule_ids()),
            "max_collection_size": cfg.max_collection_size,
            "num_buckets": cfg.num_buckets,
            # accumulator changes the violations output → must invalidate
            # resume state; callables key on their __name__
            "error_order": getattr(cfg.error_order, "__name__",
                                   cfg.error_order),
            # the cap changes sink content — a resumed run with a different
            # cap must not mix capped and uncapped buckets under one stamp
            "max_violations_per_rule": cfg.max_violations_per_rule,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass(frozen=True)
class RunnerConfig:
    work_dir: str
    run_id: str = "run0"
    buckets_per_job: int = 8
    snapshot_id: str | None = None

    @property
    def state_path(self) -> str:
        return os.path.join(self.work_dir, "state")

    @property
    def violations_path(self) -> str:
        return os.path.join(self.work_dir, "violations")


@dataclass
class RunResult:
    violations: DataFrame
    verdicts: DataFrame
    buckets_processed: list[int]
    buckets_skipped: list[int]
    rows_checked: int


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through Spark's Hadoop FileSystem — works for any
    work_dir scheme (local, HDFS, s3a, abfss), unlike ``os.path``."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem (no-op if absent)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename through the Hadoop FileSystem; raises if it fails."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(p, jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"could not rename {src} to {dst}")


def _read_state(spark: SparkSession, cfg: RunnerConfig) -> DataFrame:
    """The state table, read with its known schema (no inference job)."""
    return spark.read.schema(STATE_SCHEMA).parquet(cfg.state_path)


def _done_rows(spark: SparkSession, cfg: RunnerConfig, rsh: str,
               run_ids: Sequence[str]) -> dict[str, list[Row]]:
    """The done state rows of each of ``run_ids`` for rule set ``rsh``,
    from one state read."""
    done: dict[str, list[Row]] = {r: [] for r in run_ids}
    if not _fs_exists(spark, cfg.state_path):
        return done
    rows = (
        _read_state(spark, cfg).filter(
            F.col("run_id").isin(list(run_ids))
            & (F.col("rule_set_hash") == rsh)
            & (F.col("status") == "done")
        )
        .collect()
    )
    for r in rows:
        done[r["run_id"]].append(r)
    return done


def _owner(row: Row) -> str:
    """The run whose sink partitions hold a state row's violations: its
    ``source_run_id``, or its own run when that is null (rows of validated
    buckets, and every row of a state table written before the column)."""
    return row["source_run_id"] or row["run_id"]


def _carried(row: Row, run_id: str) -> Row:
    """Another run's state row as ``run_id``'s: the same verdict, metrics
    and ``snapshot_id`` (the snapshot it was computed on), pointing at the
    run that owns the violations, so a chain a → b → c points at a."""
    return Row(**{**row.asDict(), "run_id": run_id,
                  "source_run_id": _owner(row)})


def run_checkpointed(
    df: DataFrame,
    ruleset: RuleSet,
    cfg: RunnerConfig,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    partition_cols: Sequence[str] = ("conv_id",),
    observer=None,
) -> RunResult:
    rsh = rule_set_hash(ruleset)
    done = _done_rows(df.sparkSession, cfg, rsh, [cfg.run_id])
    return _run_pending(df, ruleset, cfg, rsh, done[cfg.run_id], [], keys,
                        partition_cols, observer)


def _run_pending(df: DataFrame, ruleset: RuleSet, cfg: RunnerConfig,
                 rsh: str, committed: Sequence[Row], carry: Sequence[Row],
                 keys: Sequence[str], partition_cols: Sequence[str],
                 observer) -> RunResult:
    """Validate every bucket that neither the ``committed`` state rows of
    ``cfg.run_id`` nor the ``carry`` rows cover, batch by batch, and
    return the run's stored result. The ``carry`` rows are committed with
    the first batch's state rows (alone when no bucket is pending)."""
    spark = df.sparkSession
    vcfg = ruleset.config
    # repeated ids (same-named leaves) share one verdict row per bucket
    rule_ids = list(dict.fromkeys(ruleset.rule_ids()))

    held = [*committed, *carry]
    done = {r["partition_id"] for r in held}
    # bucket -> the other run whose sink partition holds its violations
    referred = {r["partition_id"]: _owner(r) for r in held
                if _owner(r) != cfg.run_id}
    pending = [b for b in range(vcfg.num_buckets) if b not in done]

    base = df.withColumn(BUCKET_COL, bucket_expr(list(partition_cols), vcfg.num_buckets))
    errors_col = ruleset.errors_column(df)
    total_rows = 0

    def commit(state_rows):
        (_local_frame(spark, state_rows, STATE_SCHEMA)
         .coalesce(1).write.mode("append").parquet(cfg.state_path))

    uncommitted = list(carry)
    for i in range(0, len(pending), cfg.buckets_per_job):
        batch = pending[i:i + cfg.buckets_per_job]
        sub = base.filter(F.col(BUCKET_COL).isin(batch))
        # salted repartition: hot conv_ids spread over `salt` tasks while the
        # logical bucket stays the verdict/lineage key
        salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(vcfg.salt))
        sub = sub.repartition(len(batch) * vcfg.salt, F.col(BUCKET_COL), salt)

        errs = sub.select(*keys, BUCKET_COL, errors_col.alias("_errors"))
        errs = errs.persist()
        try:
            viol = violations_from(errs, keys).withColumns({
                "run_id": F.lit(cfg.run_id),
                "rule_set_hash": F.lit(rsh),
            })
            if vcfg.max_violations_per_rule is not None:
                from pyspark.sql.window import Window

                w = (Window.partitionBy(BUCKET_COL, "rule_id")
                     .orderBy(*[F.col(k) for k in keys]))
                viol = (viol.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") <= vcfg.max_violations_per_rule)
                        .drop("_rn"))
            # idempotent: re-running a crashed bucket replaces its partition.
            # Clear the batch's partition dirs first — a re-run that now
            # yields ZERO violations for a bucket writes no partition, and
            # dynamic overwrite alone would leave the crashed attempt's rows.
            # The overwrite mode is a write option, so the session's conf
            # (and every other query in it) is left alone.
            _clear_bucket_partitions(spark, cfg, rsh, batch)
            (viol.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("run_id", "rule_set_hash", BUCKET_COL)
             .parquet(cfg.violations_path))

            verd = verdicts_from(errs, rule_ids).collect()
        finally:
            errs.unpersist()

        rows_by_bucket = {r[BUCKET_COL]: r["rows_checked"] for r in verd}
        state_rows = [
            (cfg.run_id, rsh, r[BUCKET_COL], "done", r["rule_id"],
             r["violation_count"], r["rows_checked"],
             cfg.snapshot_id, time.time(), None)
            for r in verd
        ] + [
            # buckets with zero rows in this batch are still complete
            (cfg.run_id, rsh, b, "done", rid, 0, 0, cfg.snapshot_id,
             time.time(), None)
            for b in batch if b not in rows_by_bucket for rid in rule_ids
        ]
        total_rows += sum(rows_by_bucket.values())
        commit(state_rows + uncommitted)
        uncommitted = []
        if observer is not None:
            from .observer import VerdictEvent

            observer([
                VerdictEvent(run_id=cfg.run_id, partition_id=r[2],
                             rule_id=r[4], passed=r[5] == 0,
                             violation_count=r[5], rows_checked=r[6])
                for r in state_rows
            ])
    if uncommitted:
        commit(uncommitted)

    if not _fs_exists(spark, cfg.violations_path):
        # sink never created (zero buckets pending and no prior run)
        violations = _empty_violations(df, keys)
    else:
        # EXPLICIT schema: partition-column type inference would parse a
        # numeric-looking run_id ("0042") as int, and a post-hoc cast back
        # to string does NOT round-trip ("42" != "0042") — the filter
        # would silently return empty, a false PASS. Declaring the schema
        # keeps partition values in their written string form, leaves the
        # filter a plain attribute predicate (partition pruning intact),
        # and removes schema inference entirely — a sink dir holding only
        # _SUCCESS (zero-violation run) reads as an empty frame instead of
        # an UNABLE_TO_INFER_SCHEMA error, so there is deliberately NO
        # except here: any read exception is real infra failure and must
        # propagate rather than become a silent zero-violation PASS.
        # A carried bucket is read from its owner's partition only: rows
        # a crashed attempt may have left under this run_id are not its.
        stamp = F.col("run_id") == cfg.run_id
        if referred:
            stamp &= ~F.col(BUCKET_COL).isin(sorted(referred))
        for owner in sorted(set(referred.values())):
            stamp |= (F.col("run_id") == owner) & F.col(BUCKET_COL).isin(
                sorted(b for b, o in referred.items() if o == owner))
        violations = (
            spark.read.schema(_empty_violations(df, keys).schema)
            .parquet(cfg.violations_path)
            .filter(stamp & (F.col("rule_set_hash") == rsh))
            .withColumn("run_id", F.lit(cfg.run_id))
        )
    verdicts = (
        _read_state(spark, cfg)
        .filter((F.col("run_id") == cfg.run_id) & (F.col("rule_set_hash") == rsh))
        .select(
            F.col("partition_id"), "rule_id",
            (F.col("violation_count") == 0).alias("pass"),
            "violation_count", "rows_checked",
        )
    )
    return RunResult(
        violations=violations,
        verdicts=verdicts,
        buckets_processed=pending,
        buckets_skipped=sorted(done),
        rows_checked=total_rows,
    )


def bucket_fingerprints(
    df: DataFrame,
    partition_cols: Sequence[str] = ("conv_id",),
    num_buckets: int = 32,
) -> DataFrame:
    """Order-insensitive per-bucket content fingerprint:
    ``(partition_id, n_rows, xor_hash, lo_sum)`` where the hash covers
    EVERY column of the row. Two snapshots agree on a bucket iff all
    three components agree (xor alone cancels on duplicate pairs; the
    row count and the low-bits sum close that hole).

    This is the change detector behind :func:`run_incremental`: one
    map-side-combinable aggregate over the scan (xor and sum are both
    mergeable), no sort, no window — at 10^12 rows it costs one pass of
    hashing and a shuffle of ``num_buckets`` rows. ``lo_sum`` adds the
    20 low bits of each hash, safe from (ANSI) overflow up to 2^43 rows
    per bucket."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return (
        df.select(
            bucket_expr(list(partition_cols), num_buckets)
            .alias("partition_id"),
            h.alias("_h"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.bit_xor("_h").alias("xor_hash"),
             F.sum(F.pmod(F.col("_h"), F.lit(1 << 20))).alias("lo_sum"))
    )


def changed_buckets(cur_fp: DataFrame, prev_fp: DataFrame) -> DataFrame:
    """Full-outer compare of two :func:`bucket_fingerprints` frames:
    ``(partition_id, change)`` with ``change`` ∈ ``added`` (bucket has
    rows now, had none), ``removed``, ``changed`` — unchanged buckets
    are absent. ``num_buckets`` must match between the two frames (it is
    the lineage key contract)."""
    c = cur_fp.select(F.col("partition_id"),
                      F.struct("n_rows", "xor_hash", "lo_sum").alias("_c"))
    p = prev_fp.select(F.col("partition_id"),
                       F.struct("n_rows", "xor_hash", "lo_sum").alias("_p"))
    j = c.join(p, "partition_id", "full_outer")
    change = (
        F.when(F.col("_p").isNull(), F.lit("added"))
        .when(F.col("_c").isNull(), F.lit("removed"))
        .when(F.col("_c") != F.col("_p"), F.lit("changed"))
    )
    return (j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select("partition_id", "change"))


def _fingerprints_path(cfg: RunnerConfig, run_id: str) -> str:
    return os.path.join(cfg.work_dir, "fingerprints", f"run_id={run_id}")


def run_incremental(
    df: DataFrame,
    ruleset: RuleSet,
    cfg: RunnerConfig,
    prev_run_id: str | None = None,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    partition_cols: Sequence[str] = ("conv_id",),
    observer=None,
) -> RunResult:
    """Snapshot-over-snapshot revalidation that pays only for what
    changed: fingerprint the current table per lineage bucket, diff
    against ``prev_run_id``'s stored fingerprints, CARRY FORWARD the
    previous run's verdicts for unchanged buckets BY REFERENCE, and run
    the rule pass only on added/changed (and newly-empty) buckets.

    A carried bucket costs one state row per rule and no sink write: the
    row's ``source_run_id`` names the run whose violation partitions hold
    the bucket (the owner, followed through chains, so a → b → c points
    at a), and the result reads them there. The carried rows are
    committed in the same state append as the first validated batch (or
    alone when nothing is pending), so a crash before that append leaves
    nothing carried. Observer events cover validated buckets only. Keep
    an owner run while later runs refer to it: :func:`expire_runs`
    refuses to drop it.

    This is the daily-snapshot operating mode at 100 TB: if 2% of
    conversations changed since yesterday, the engine hashes one pass
    (cheap, no window) and validates 2% — instead of revalidating
    everything or trusting nothing. Carried state keeps its ORIGINAL
    ``snapshot_id``, so lineage records which snapshot each verdict was
    actually computed on.

    Requires the same rule set (``rule_set_hash`` guards it — a rule
    change invalidates every carried verdict and everything revalidates)
    and the same ``num_buckets``. First run (``prev_run_id=None`` or no
    stored fingerprints) degrades to a full :func:`run_checkpointed`.
    Running a crashed increment again under the same ``run_id`` resumes
    it: buckets it already carried or validated are not redone."""
    spark = df.sparkSession
    rsh = rule_set_hash(ruleset)
    nb = ruleset.config.num_buckets

    cur_fp = bucket_fingerprints(df, partition_cols, nb).persist()
    try:
        prev_path = (_fingerprints_path(cfg, prev_run_id)
                     if prev_run_id else None)
        has_prev = bool(prev_path) and _fs_exists(spark, prev_path)
        done = _done_rows(
            spark, cfg, rsh,
            [prev_run_id, cfg.run_id] if has_prev else [cfg.run_id])
        committed = done[cfg.run_id]
        carry = []
        if has_prev:
            prev_fp = spark.read.schema(cur_fp.schema).parquet(prev_path)
            dirty = {r["partition_id"] for r in
                     changed_buckets(cur_fp, prev_fp).collect()}
            # a bucket this run already holds (carried or validated by an
            # earlier attempt that crashed) is not carried again
            skip = dirty | {r["partition_id"] for r in committed}
            carry = [_carried(r, cfg.run_id) for r in done[prev_run_id]
                     if r["partition_id"] not in skip]
        res = _run_pending(df, ruleset, cfg, rsh, committed, carry, keys,
                           partition_cols, observer)
        # persist this run's fingerprints for the NEXT increment
        (cur_fp.coalesce(1).write.mode("overwrite")
         .parquet(_fingerprints_path(cfg, cfg.run_id)))
    finally:
        cur_fp.unpersist()
    return res


def expire_runs(spark: SparkSession, work_dir: str,
                run_ids: Sequence[str]) -> None:
    """Delete the runs ``run_ids`` of ``work_dir``: their state rows, sink
    partitions and stored fingerprints (Iceberg's snapshot expiry). A run
    that a remaining run still refers to — it owns violations of a bucket
    that run carried — cannot go: ``ValueError`` names both, and nothing
    is deleted. Expire the referring runs first, or in the same call.

    The state table is rewritten without the runs' rows before their sink
    partitions go, so an interrupted expiry never leaves a done verdict
    whose violations are gone; at worst it leaves unreferenced sink files,
    or (between the state delete and the rename) no state, after which
    every bucket is validated again."""
    if isinstance(run_ids, str):
        raise TypeError("run_ids is a sequence of run ids, not one string")
    cfg = RunnerConfig(work_dir=work_dir)
    drop = list(dict.fromkeys(run_ids))
    if _fs_exists(spark, cfg.state_path):
        state = _read_state(spark, cfg)
        refs = (state.filter(~F.col("run_id").isin(drop)
                             & F.col("source_run_id").isin(drop))
                .select("source_run_id", "run_id").distinct()
                .orderBy("source_run_id", "run_id").collect())
        if refs:
            raise ValueError(
                "cannot expire runs that remaining runs refer to: "
                + ", ".join(f"{r['source_run_id']} (by {r['run_id']})"
                            for r in refs))
        fresh = f"{cfg.state_path}.expiring"
        (state.filter(~F.col("run_id").isin(drop))
         .coalesce(1).write.mode("overwrite").parquet(fresh))
        _fs_delete(spark, cfg.state_path)
        _fs_rename(spark, fresh, cfg.state_path)
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    for r in drop:
        _fs_delete(spark, os.path.join(cfg.violations_path,
                                       f"run_id={esc(r)}"))
        _fs_delete(spark, _fingerprints_path(cfg, r))


def _clear_bucket_partitions(spark: SparkSession, cfg: RunnerConfig,
                             rsh: str, buckets: Sequence[int]) -> None:
    """Remove the sink partition dirs about to be (re)written — the
    parquet-directory analogue of Iceberg's ``overwritePartitions`` for the
    zero-violation re-run case. Deletes via the Hadoop FileSystem so any
    work_dir scheme (local, HDFS, s3a) behaves identically."""
    # partition VALUES must be escaped the way Spark's write path escapes
    # them (space, ':', '%', … become %XX) — an unescaped f-string path
    # would never match the written directory and the delete would be a
    # silent no-op, leaving a crashed attempt's stale rows alive
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    for b in buckets:
        p = os.path.join(
            cfg.violations_path,
            f"run_id={esc(cfg.run_id)}", f"rule_set_hash={esc(rsh)}",
            f"{BUCKET_COL}={b}")
        _fs_delete(spark, p)


def _empty_violations(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Zero-violation result frame with the SAME schema a non-empty run
    reads back from the sink — key columns keep the input table's dtypes so
    diff_runs/unions across runs never hit type mismatches."""
    key_ddl = ", ".join(
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    return _local_frame(
        df.sparkSession, [],
        f"rule_id string, {key_ddl}, field_path array<string>, "
        "message string, code string, severity string, expected string, "
        f"actual string, run_id string, rule_set_hash string, {BUCKET_COL} int",
    )


def _local_frame(spark: SparkSession, rows: Sequence[tuple],
                 ddl: str) -> DataFrame:
    """Python-side ``rows`` as a DataFrame of schema ``ddl``. Shipped as a
    ``pyarrow.Table``, they reach the JVM as a local relation; a Python
    list would become a pickled Python RDD (an ``ExistingRDD`` scan)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def history_anomalies(state: DataFrame, k_sigma: float = 3.0,
                      min_history: int = 3) -> DataFrame:
    """Anomaly detection over the verdict HISTORY (public analogue: Deequ's
    anomaly detection on metric series): for every ``(rule_id, run_id)``,
    compare the run's violation RATE (violations / rows checked, summed
    over buckets) against the mean ± ``k_sigma``·stddev of all PRIOR runs
    of the same rule (ordered by the run's first ``finished_at``). Runs
    with fewer than ``min_history`` predecessors are never flagged (no
    basis), and a zero-variance history flags any deviation. The series
    is keyed by ``(rule_id, rule_set_hash)``: a rule-set change starts a
    FRESH history — rates across rule generations aren't comparable, and
    a same-run_id re-run under a new hash must not blend both generations
    into one rate. Output: ``(rule_id, rule_set_hash, run_id, rate,
    prior_mean, prior_std, n_prior, anomalous)`` — O(runs × rules) rows from one aggregate + one window,
    regardless of table size, so nightly-run monitoring is free."""
    from pyspark.sql.window import Window

    per_run = (
        state.filter(F.col("status") == "done")
        .groupBy("rule_id", "rule_set_hash", "run_id")
        .agg((F.sum("violation_count")
              / F.greatest(F.sum("rows_checked"), F.lit(1))).alias("rate"),
             F.min("finished_at").alias("_t"))
    )
    w = (Window.partitionBy("rule_id", "rule_set_hash").orderBy("_t")
         .rowsBetween(Window.unboundedPreceding, -1))
    hist = per_run.select(
        "rule_id", "rule_set_hash", "run_id", "rate",
        F.avg("rate").over(w).alias("prior_mean"),
        F.stddev_pop("rate").over(w).alias("prior_std"),
        F.count("rate").over(w).alias("n_prior"),
    )
    dev = F.abs(F.col("rate") - F.col("prior_mean"))
    return hist.withColumn(
        "anomalous",
        (F.col("n_prior") >= min_history)
        & F.when(F.coalesce(F.col("prior_std"), F.lit(0.0)) > 0,
                 dev > k_sigma * F.col("prior_std"))
        .otherwise(dev > 0),
    )


def diff_runs(a: DataFrame, b: DataFrame,
              columns: Sequence[str] | None = None) -> tuple[DataFrame, DataFrame]:
    """Set-difference two violation frames (e.g. two runs of different
    rule sets or table snapshots): returns ``(only_in_a, only_in_b)`` via
    ``exceptAll`` — multiset semantics, so duplicate violation rows diff
    correctly. ``columns`` restricts the comparison (default: the shared
    columns minus run bookkeeping), letting a run stamped with run_id /
    rule_set_hash diff against an unstamped direct-validation frame."""
    if columns is None:
        bookkeeping = {"run_id", "rule_set_hash", "snapshot_id"}
        columns = [c for c in a.columns
                   if c in set(b.columns) and c not in bookkeeping]
    pa = a.select(*columns)
    pb = b.select(*columns)
    return pa.exceptAll(pb), pb.exceptAll(pa)
