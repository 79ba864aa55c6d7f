"""The benchmark workloads.

A workload knows how to build its stored inputs, open them in a session,
run one pass as a sequence of named calls into the package, and check a
pass's outputs. Every call goes through ``Recorder.call`` so it is timed
(and, in a traced run, attributed to its Spark stages).

- validate_batch: every JVM layer over one stored transcripts table, in
  three parts that run one after the other in a pass:
  - the flagship validation job (rules, validate, dataset_rules);
  - a drift gate: drift statistics of the table against a shifted
    baseline snapshot;
  - the runner: a checkpointed run that crashes halfway, its resume, and
    an incremental run against a second snapshot in which about 2% of the
    conversations changed. Writes sit beside reads over the same rule
    projection as the validation job.
- curate_docs: curation queries of the driver entry point over a
  word-salad corpus, each pass in a fresh session so the session caches
  start cold. textops Python UDFs, pair exchanges and session caches.
"""

from __future__ import annotations

import os
import shutil

from . import inputs

DRIFT_LEN_SHIFT = 40
DRIFT_BINS = 40
DRIFT_COLUMNS = ("text_len", "turn_idx", "ts")
#: lineage buckets of the checkpointed runs, and buckets per batch job
RUN_BUCKETS = 4
RUN_BUCKETS_PER_JOB = 2
CRASH_AFTER_BATCHES = 1  # of RUN_BUCKETS / RUN_BUCKETS_PER_JOB batches
#: lineage buckets holding every edit of the changed snapshot
CHANGED_BUCKETS = 1
CURATION_QUERIES = (
    "dedup_exact_documents",
    "jaccard_pairs_documents",
    "winnow_pairs_documents",
    "containment_pairs_documents",
)


class Crash(Exception):
    """Raised by the crashing observer to interrupt a checkpointed run."""


class Workload:
    name = ""
    #: stored-input size (turns, or documents) for a full and a smoke run
    size = 0
    smoke_size = 0
    #: per-layer calls this workload makes, each recorded with STAGE_METRICS
    calls: tuple[str, ...] = ()
    #: True when every pass must run in a fresh session
    fresh_session_per_pass = False
    #: generator parameters besides seed and size; a stored input set
    #: built with other values is built again
    params: dict = {}

    def __init__(self, root: str, scratch: str, seed: int, size: int) -> None:
        self.root = root
        self.scratch = scratch
        self.seed = seed
        self.size = size
        self.meta: dict = {}
        self.reference: dict | None = None
        self.counters: dict[str, float] = {}
        self.rows = 0

    def build(self, spark, out: str, seed: int, size: int) -> dict:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Load, or build, the stored inputs of this (workload, seed,
        size)."""
        self.meta = inputs.load_or_build(
            self.root, self.name, self.seed, self.size, self.params,
            lambda out, seed, size: self.build(spark, out, seed, size))

    def open(self, spark) -> None:
        """Open the stored inputs; part of the timed set-up."""
        raise NotImplementedError

    def run_pass(self, rec) -> dict:
        """Run one pass; return the outputs the check compares."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Names of the outputs that are wrong in this pass. The first
        checked pass becomes the reference later passes must equal."""
        bad = self.invariants(out)
        if self.reference is None:
            self.reference = out
        else:
            bad += [k for k in out if out[k] != self.reference.get(k)]
        return sorted(set(bad))

    def invariants(self, out: dict) -> list[str]:
        return []

    def cleanup(self) -> None:
        pass


class _Transcripts(Workload):
    """A workload over the stored ``synth_transcripts`` table, made of
    parts. Each part adds to the inputs (``build``), opens them
    (``open``), runs its calls after those of the parts before it
    (``run_pass``) and checks its own outputs (``invariants``)."""

    def build(self, spark, out, seed, size):
        return inputs.build_transcripts(spark, out, seed, size)

    def open(self, spark):
        import __spark_entry__ as entry

        self.df = spark.read.parquet(
            os.path.join(self.meta["dir"], "transcripts"))
        self.rules = entry.transcript_ruleset()
        self.rows = self.df.count()

    def run_pass(self, rec):
        return {}


class _Validate(_Transcripts):
    calls = ("validate.violations", "validate.verdicts",
             "dataset_rules.transcript_integrity",
             "dataset_rules.referential", "dataset_rules.stats_profile")

    def open(self, spark):
        super().open(spark)
        self.registry = spark.read.parquet(
            os.path.join(self.meta["dir"], "registry"))

    def run_pass(self, rec):
        from pyspark.sql import functions as F

        from valar_spark import dataset_rules as D
        from valar_spark import validate

        run = rec.call("rules.compile", lambda: validate(self.df, self.rules))
        self.n_rule_ids = len(run.ruleset.rule_ids())
        out = {
            "validate.violations": rec.call(
                "validate.violations", lambda: run.violations.count()),
            "validate.verdicts": rec.call("validate.verdicts", lambda: tuple(
                run.verdicts.agg(F.count(F.lit(1)), F.sum("violation_count"),
                                 F.sum("rows_checked")).first())),
            "dataset_rules.transcript_integrity": rec.call(
                "dataset_rules.transcript_integrity",
                lambda: D.transcript_integrity_violations(self.df).count()),
            "dataset_rules.referential": rec.call(
                "dataset_rules.referential",
                lambda: D.referential_violations(
                    self.df, "conv_id", self.registry,
                    broadcast_parent=False).count()),
            "dataset_rules.stats_profile": rec.call(
                "dataset_rules.stats_profile", lambda: sorted(
                    (r["column"], r["rows"], r["null_count"])
                    for r in D.stats_profile(self.df).collect())),
        }
        out.update(super().run_pass(rec))
        return out

    def invariants(self, out):
        bad = super().invariants(out)
        _, viol_sum, rows_sum = out["validate.verdicts"]
        # every violation row is counted by exactly one verdict, and every
        # row is checked once per rule
        if (viol_sum != out["validate.violations"]
                or rows_sum != self.rows * self.n_rule_ids):
            bad.append("validate.verdicts")
        # the planted violations are found
        for k in ("validate.violations", "dataset_rules.transcript_integrity"):
            if not out[k]:
                bad.append(k)
        if any(rows != self.rows for _, rows, _ in
               out["dataset_rules.stats_profile"]):
            bad.append("dataset_rules.stats_profile")
        return bad


class _Runner(_Transcripts):
    calls = ("runner.run_checkpointed.crashed",
             "runner.run_checkpointed.resume", "runner.bucket_fingerprints",
             "runner.run_incremental", "runner.read_back")
    params = {"num_buckets": RUN_BUCKETS, "changed_buckets": CHANGED_BUCKETS,
              "changed_fraction": inputs.CHANGED_FRACTION}

    def build(self, spark, out, seed, size):
        meta = super().build(spark, out, seed, size)
        meta.update(inputs.build_changed_snapshot(
            spark, out, seed, RUN_BUCKETS, CHANGED_BUCKETS))
        return meta

    def open(self, spark):
        from valar_spark.config import ValidationConfig
        from valar_spark.validate import RuleSet

        super().open(spark)
        self.changed = spark.read.parquet(
            os.path.join(self.meta["dir"], "changed"))
        self.rs = RuleSet(self.rules,
                          ValidationConfig(num_buckets=RUN_BUCKETS))
        self.work = None
        self._pass_seq = 0
        self._uninterrupted = None

    def run_pass(self, rec):
        from pyspark.sql import functions as F

        from valar_spark import runner

        self._pass_seq += 1
        self.work = os.path.join(self.scratch, f"work{self._pass_seq}")
        shutil.rmtree(self.work, ignore_errors=True)
        rs = self.rs
        cfg_a = runner.RunnerConfig(work_dir=self.work, run_id="a",
                                    buckets_per_job=RUN_BUCKETS_PER_JOB)
        cfg_b = runner.RunnerConfig(work_dir=self.work, run_id="b",
                                    buckets_per_job=RUN_BUCKETS_PER_JOB)
        done_before_crash: set[int] = set()
        batches = [0]

        def crash_observer(events):
            done_before_crash.update(e.partition_id for e in events)
            batches[0] += 1
            if batches[0] == CRASH_AFTER_BATCHES:
                raise Crash()

        def crashed():
            try:
                runner.run_checkpointed(self.df, rs, cfg_a,
                                        observer=crash_observer)
            except Crash:
                return True
            return False

        def fingerprints():
            # what run_incremental stores for the next increment, written
            # here for the resumed run "a"
            (runner.bucket_fingerprints(self.df, num_buckets=RUN_BUCKETS)
             .coalesce(1).write.parquet(
                 os.path.join(self.work, "fingerprints", "run_id=a")))

        def read_back(res):
            return (res.violations.count(), tuple(res.verdicts.agg(
                F.count(F.lit(1)), F.sum("violation_count"),
                F.sum("rows_checked")).first()))

        did_crash = rec.call("runner.run_checkpointed.crashed", crashed)
        res_a = rec.call("runner.run_checkpointed.resume",
                         lambda: runner.run_checkpointed(self.df, rs, cfg_a))
        rec.call("runner.bucket_fingerprints", fingerprints)
        res_b = rec.call("runner.run_incremental", lambda: (
            runner.run_incremental(self.changed, rs, cfg_b,
                                   prev_run_id="a")))
        back = rec.call("runner.read_back",
                        lambda: (read_back(res_a), read_back(res_b)))
        self.results = (res_a.violations, res_b.violations)
        redone = len(done_before_crash & set(res_a.buckets_processed))
        self.counters.update({
            "runner.sink_bytes": _tree_bytes(cfg_a.violations_path),
            "runner.state_files": _tree_files(cfg_a.state_path, ".parquet"),
            "runner.buckets_redone": redone,
            "runner.incremental_processed_over_changed": (
                len(res_b.buckets_processed)
                / max(len(self.meta["dirty_buckets"]), 1)),
        })
        out = {
            "runner.run_checkpointed.crashed": (did_crash,
                                                sorted(done_before_crash)),
            "runner.run_checkpointed.resume": (redone,
                                               sorted(res_a.buckets_skipped)),
            "runner.run_incremental": sorted(res_b.buckets_processed),
            "runner.read_back": back,
        }
        out.update(super().run_pass(rec))
        return out

    def invariants(self, out):
        from valar_spark import runner, validate

        bad = super().invariants(out)
        did_crash, done = out["runner.run_checkpointed.crashed"]
        if not did_crash or not done:
            bad.append("runner.run_checkpointed.crashed")
        redone, skipped = out["runner.run_checkpointed.resume"]
        if redone or skipped != done:
            bad.append("runner.run_checkpointed.resume")
        # only the buckets holding edits are validated again
        if out["runner.run_incremental"] != self.meta["dirty_buckets"]:
            bad.append("runner.run_incremental")
        # each stored result equals an uninterrupted validate() of the
        # same table, both ways, and its verdicts count its violations
        if self._uninterrupted is None:
            self._uninterrupted = [validate(t, self.rs).violations.persist()
                                   for t in (self.df, self.changed)]
        for want, stored, (n_viol, (_, verdict_viol, _)) in zip(
                self._uninterrupted, self.results, out["runner.read_back"]):
            diffs = tuple(d.count() for d in runner.diff_runs(stored, want))
            if diffs != (0, 0) or n_viol != verdict_viol or not n_viol:
                bad.append("runner.read_back")
        return bad

    def cleanup(self):
        if self.work:
            shutil.rmtree(self.work, ignore_errors=True)


class _Drift(_Transcripts):
    calls = ("drift.psi", "drift.ks_binned")
    params = {"len_shift": DRIFT_LEN_SHIFT}

    def build(self, spark, out, seed, size):
        meta = super().build(spark, out, seed, size)
        meta.update(inputs.build_drift_baseline(spark, out, seed, size,
                                                DRIFT_LEN_SHIFT))
        return meta

    def open(self, spark):
        from pyspark.sql import functions as F

        def numeric(df):
            return df.select(F.length("text").alias("text_len"), "turn_idx",
                             F.col("ts").cast("long").alias("ts"))

        super().open(spark)
        self.current = numeric(self.df)
        self.baseline = numeric(spark.read.parquet(
            os.path.join(self.meta["dir"], "baseline")))

    def run_pass(self, rec):
        from valar_spark import drift

        psi, ks = [], []
        for col in DRIFT_COLUMNS:
            r = rec.call("drift.psi", lambda: drift.psi(
                self.current, self.baseline, col))
            psi.append((col, r.statistic, r.n_current, r.n_baseline))
            r = rec.call("drift.ks_binned", lambda: drift.ks_binned(
                self.current, self.baseline, col, bins=DRIFT_BINS))
            ks.append((col, r.statistic, r.bins, r.n_current))
        self.counters["drift.ks_binned.edges"] = max(b for *_, b, _ in ks) - 1
        out = {"drift.psi": psi, "drift.ks_binned": ks}
        out.update(super().run_pass(rec))
        return out

    def invariants(self, out):
        bad = super().invariants(out)
        # the planted length shift registers as drift on text_len
        if dict((c, s) for c, s, *_ in out["drift.psi"])["text_len"] <= 0.2:
            bad.append("drift.psi")
        # both statistics bin every non-null value of the current snapshot
        counted = {c: n for c, _, n, _ in out["drift.psi"]}
        if any(n != counted[c] or not 0 < n <= self.rows
               for c, *_, n in out["drift.ks_binned"]):
            bad.append("drift.ks_binned")
        return bad


class ValidateBatch(_Validate, _Drift, _Runner):
    name = "validate_batch"
    size = 5_000
    smoke_size = 3_000
    calls = _Validate.calls + _Drift.calls + _Runner.calls
    params = {**_Drift.params, **_Runner.params}


class CurateDocs(Workload):
    name = "curate_docs"
    size = 600
    smoke_size = 200
    calls = tuple(f"entry.{q}" for q in CURATION_QUERIES)
    fresh_session_per_pass = True

    def build(self, spark, out, seed, size):
        return inputs.build_documents(out, seed, size)

    def open(self, spark):
        self.spark = spark
        self.docs_dir = self.meta["dir"]
        self.rows = spark.read.parquet(
            os.path.join(self.docs_dir, "documents.parquet")).count()

    def run_pass(self, rec):
        import __spark_entry__ as entry

        from .trace import cached_bytes

        qs = entry.queries()
        out = {name: rec.call(name, lambda: qs[q](self.spark,
                                                  self.docs_dir).count())
               for q in CURATION_QUERIES for name in [f"entry.{q}"]}
        self.counters["entry.cached_bytes_after"] = cached_bytes(self.spark)
        return out

    def invariants(self, out):
        return [k for k, n in out.items() if not n]


WORKLOADS = {w.name: w for w in (ValidateBatch, CurateDocs)}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _tree_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)
