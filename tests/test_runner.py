"""Checkpoint/resume runner (BASELINE.json:6 — interrupted runs resume
without re-validating completed partitions)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from valar_spark import ValidationConfig, validate
from valar_spark import rules as R
from valar_spark.runner import RunnerConfig, run_checkpointed, rule_set_hash
from valar_spark.validate import RuleSet


RULES = {"text": R.non_empty(), "turn_idx": R.non_negative()}


@pytest.fixture()
def small_df(spark):
    from valar_spark.synth import synth_transcripts

    return synth_transcripts(spark, total_turns=8_000, seed=42)


def test_run_matches_direct_validation(spark, small_df, tmp_path):
    cfg = ValidationConfig(num_buckets=8, salt=2)
    rs = RuleSet(RULES, cfg)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=3)
    res = run_checkpointed(small_df, rs, rc)
    assert sorted(res.buckets_processed) == list(range(8))
    assert res.buckets_skipped == []

    direct = validate(small_df, RULES, config=cfg).violations
    got = res.violations.select("rule_id", "conv_id", "turn_idx", "code")
    exp = direct.select("rule_id", "conv_id", "turn_idx", "code")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # verdict totals agree
    verd_total = (res.verdicts.groupBy("rule_id")
                  .agg(F.sum("violation_count").alias("n")).collect())
    direct_total = {r["rule_id"]: r["n"] for r in
                    direct.groupBy("rule_id").agg(F.count("*").alias("n")).collect()}
    for r in verd_total:
        assert r["n"] == direct_total.get(r["rule_id"], 0)
    # every bucket has a verdict for every rule
    assert res.verdicts.count() == 8 * len(rs.rule_ids())


def test_resume_skips_completed(spark, small_df, tmp_path):
    cfg = ValidationConfig(num_buckets=8, salt=2)
    rs = RuleSet(RULES, cfg)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=8)

    # first run: full
    first = run_checkpointed(small_df, rs, rc)
    n_first = first.violations.count()

    # second run: everything already done → zero buckets processed
    second = run_checkpointed(small_df, rs, rc)
    assert second.buckets_processed == []
    assert second.buckets_skipped == list(range(8))
    assert second.violations.count() == n_first
    # state rows not duplicated
    assert second.verdicts.count() == 8 * len(rs.rule_ids())


def test_resume_after_partial_state(spark, small_df, tmp_path):
    """Simulate a crash: pre-mark half the buckets done, then run — only the
    other half may be (re)processed."""
    cfg = ValidationConfig(num_buckets=8, salt=2)
    rs = RuleSet(RULES, cfg)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=8)
    rsh = rule_set_hash(rs)

    done = [0, 1, 2, 3]
    rows = [("r1", rsh, b, "done", rid, 0, 0, None, 0.0, None)
            for b in done for rid in rs.rule_ids()]
    from valar_spark.runner import STATE_SCHEMA

    (spark.createDataFrame(rows, STATE_SCHEMA)
     .write.mode("append").parquet(rc.state_path))

    res = run_checkpointed(small_df, rs, rc)
    assert res.buckets_processed == [4, 5, 6, 7]
    assert res.buckets_skipped == done
    # violations exist only for processed buckets
    got_buckets = {r["partition_id"] for r in
                   res.violations.select("partition_id").distinct().collect()}
    assert got_buckets <= {4, 5, 6, 7}


def test_rule_change_invalidates_state(spark, small_df, tmp_path):
    cfg = ValidationConfig(num_buckets=4, salt=2)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=4)
    run_checkpointed(small_df, RuleSet(RULES, cfg), rc)
    # different rule set ⇒ different hash ⇒ full re-run
    rs2 = RuleSet({"text": R.non_empty() & R.max_length(8000),
                   "turn_idx": R.non_negative()}, cfg)
    res2 = run_checkpointed(small_df, rs2, rc)
    assert res2.buckets_processed == list(range(4))


def test_rule_change_does_not_leak_old_violations(spark, small_df, tmp_path):
    """Same work_dir, changed rule set: the old run's violation rows live in
    other (run_id, rule_set_hash) partitions and must not leak into the new
    run's result (runner.py sink-stamping contract)."""
    cfg = ValidationConfig(num_buckets=4, salt=2)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=4)
    first = run_checkpointed(small_df, RuleSet(RULES, cfg), rc)
    assert first.violations.count() > 0
    # a rule set that can't fire: every violation row of run 2 must be new
    rs2 = RuleSet({"text": R.optional(R.max_length(10_000_000))}, cfg)
    second = run_checkpointed(small_df, rs2, rc)
    assert second.buckets_processed == list(range(4))
    assert second.violations.count() == 0  # old rows invisible
    # and the first run's view is still intact
    again = run_checkpointed(small_df, RuleSet(RULES, cfg), rc)
    assert again.buckets_processed == []  # still checkpointed
    assert again.violations.count() == first.violations.count()


def test_crashed_zero_violation_bucket_is_cleared(spark, small_df, tmp_path):
    """A crashed attempt left violation rows for a bucket; the re-run yields
    ZERO violations for it — the stale partition must be cleared, not
    survive (dynamic overwrite alone writes nothing for empty buckets)."""
    import os

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet({"text": R.optional(R.max_length(10_000_000))}, cfg)  # never fires
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=4)
    rsh = rule_set_hash(rs)
    # fake a crashed attempt: stale violation rows in bucket 0's partition
    stale_dir = os.path.join(rc.violations_path, "run_id=r1",
                             f"rule_set_hash={rsh}", "partition_id=0")
    (spark.createDataFrame(
        [("text.max_length", "c0", "0", ["text"], "stale", "x", None, "e", "a")],
        "rule_id string, conv_id string, turn_idx string, "
        "field_path array<string>, message string, code string, "
        "severity string, expected string, actual string")
     .write.mode("overwrite").parquet(stale_dir))
    res = run_checkpointed(small_df, rs, rc)
    assert res.violations.count() == 0
    # verdicts agree: nothing fired
    assert res.verdicts.filter(F.col("violation_count") > 0).count() == 0


def test_crashed_bucket_rerun_is_idempotent(spark, small_df, tmp_path):
    """Violations written but state row missing (crash between the two
    writes) → re-run must REPLACE the bucket's violations, not append."""
    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=4)
    first = run_checkpointed(small_df, rs, rc)
    n = first.violations.count()
    # wipe the state only — violations stay on disk, like a crash before
    # the state append
    import shutil

    shutil.rmtree(rc.state_path)
    second = run_checkpointed(small_df, rs, rc)
    assert second.buckets_processed == list(range(4))
    assert second.violations.count() == n  # replaced, not doubled


def test_diff_runs(spark, small_df, tmp_path):
    """exceptAll run-diff: a second run with an extra rule differs exactly
    by that rule's violations, in both directions."""
    from valar_spark.runner import diff_runs

    cfg = ValidationConfig(num_buckets=4, salt=2)
    base = validate(small_df, RULES, config=cfg).violations
    wider = validate(small_df, {**RULES, "role": R.one_of(["user"])},
                     config=cfg).violations
    only_base, only_wider = diff_runs(base, wider)
    assert only_base.count() == 0
    extra = only_wider.select("rule_id").distinct().collect()
    assert {r["rule_id"] for r in extra} == {"role.one_of"}
    assert only_wider.count() == wider.count() - base.count()


def test_numeric_looking_run_id_roundtrips(spark, small_df, tmp_path):
    """A zero-padded all-digit run_id must survive the partition-column
    round trip: type inference would parse run_id=0042 as int 42 and a
    post-hoc string cast gives "42" != "0042" — the stamp filter would
    silently return an empty violations frame (false PASS). The read now
    declares an explicit schema, pinning partition values to their
    written string form."""
    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="0042",
                      buckets_per_job=4)
    res = run_checkpointed(small_df, rs, rc)
    n = res.violations.count()
    assert n > 0, "stamp filter dropped all violations for run_id='0042'"
    assert res.violations.schema["run_id"].dataType.simpleString() == "string"
    got = {r["run_id"] for r in
           res.violations.select("run_id").distinct().collect()}
    assert got == {"0042"}


def test_history_anomalies_flags_spiked_run(spark):
    """Stable violation rates across runs never flag; a 10x spike with
    >= min_history predecessors does; early runs lack a basis."""
    from valar_spark.runner import STATE_SCHEMA, history_anomalies

    rows = []
    for i, rate in enumerate([0.010, 0.011, 0.009, 0.010, 0.10]):
        rows.append(("r%d" % i, "h", 0, "done", "text.non_empty",
                     int(rate * 10_000), 10_000, None, float(i), None))
        rows.append(("r%d" % i, "h", 0, "done", "turn_idx.non_negative",
                     100, 10_000, None, float(i), None))
    st = spark.createDataFrame(rows, STATE_SCHEMA)
    got = {(r["rule_id"], r["run_id"]): r["anomalous"]
           for r in history_anomalies(st, k_sigma=3.0).collect()}
    assert got[("text.non_empty", "r4")] is True          # the spike
    assert got[("text.non_empty", "r3")] is False         # stable
    assert got[("text.non_empty", "r0")] is False         # no history
    assert got[("turn_idx.non_negative", "r4")] is False  # flat series


def test_bucket_fingerprints_detect_changes(spark):
    from valar_spark.runner import bucket_fingerprints, changed_buckets

    a = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "y"), ("c2", 0, "z")],
        "conv_id string, turn_idx int, text string")
    # same content, different row order => identical fingerprints
    b = spark.createDataFrame(
        [("c2", 0, "z"), ("c1", 1, "y"), ("c1", 0, "x")],
        "conv_id string, turn_idx int, text string")
    fa = bucket_fingerprints(a, ("conv_id",), 8)
    fb = bucket_fingerprints(b, ("conv_id",), 8)
    assert changed_buckets(fb, fa).count() == 0

    # one edited row => exactly that conv's bucket flags as changed
    c = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "EDITED"), ("c2", 0, "z")],
        "conv_id string, turn_idx int, text string")
    ch = changed_buckets(bucket_fingerprints(c, ("conv_id",), 8), fa)
    assert [r["change"] for r in ch.collect()] == ["changed"]

    # duplicate-pair insertion must NOT cancel out (xor alone would)
    d = a.unionAll(spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 0, "x")],
        "conv_id string, turn_idx int, text string"))
    assert changed_buckets(bucket_fingerprints(d, ("conv_id",), 8),
                           fa).count() == 1


def test_run_incremental_carries_unchanged(spark, small_df, tmp_path):
    """Second snapshot edits a few conversations: only their buckets
    revalidate; carried verdicts+violations equal a full run's."""
    from valar_spark.runner import run_incremental

    cfg = ValidationConfig(num_buckets=8, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")

    r1 = run_incremental(small_df, rs,
                         RunnerConfig(work_dir=work, run_id="day1",
                                      buckets_per_job=4))
    assert sorted(r1.buckets_processed) == list(range(8))  # first run: full

    # day-2 snapshot: blank out the text of ONE conversation
    target = small_df.select("conv_id").first()["conv_id"]
    day2 = small_df.withColumn(
        "text", F.when(F.col("conv_id") == target, F.lit(""))
        .otherwise(F.col("text")))
    r2 = run_incremental(day2, rs,
                         RunnerConfig(work_dir=work, run_id="day2",
                                      buckets_per_job=4),
                         prev_run_id="day1")
    assert len(r2.buckets_processed) < 8 and len(r2.buckets_skipped) > 0

    # result equals a from-scratch full validation of day2
    direct = validate(day2, RULES, config=cfg).violations
    got = r2.violations.select("rule_id", "conv_id", "turn_idx", "code")
    exp = direct.select("rule_id", "conv_id", "turn_idx", "code")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # verdict coverage: every bucket x rule, carried ones keep day1 lineage
    assert r2.verdicts.count() == 8 * len(rs.rule_ids())
    st = spark.read.parquet(os.path.join(work, "state"))
    carried_snap = (st.filter((F.col("run_id") == "day2") &
                              F.col("partition_id")
                              .isin(r2.buckets_skipped))
                    .select("snapshot_id").distinct().collect())
    assert len(carried_snap) >= 1  # carried rows exist under the new run


def test_run_incremental_rerun_after_crash_carries_once(spark, small_df,
                                                        tmp_path):
    """An incremental run that crashes after its first batch and is run
    again ends with exactly the result of an uninterrupted validation:
    the re-run does not carry the unchanged buckets a second time."""
    from valar_spark.runner import diff_runs, run_incremental
    from valar_spark.validate import bucket_expr

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")
    run_incremental(small_df, rs, RunnerConfig(work_dir=work, run_id="a",
                                               buckets_per_job=1))

    # day-2 snapshot: blank the text of one conversation in each of two
    # buckets, so the re-run has a dirty bucket left to validate
    firsts = (small_df.select("conv_id", bucket_expr(["conv_id"], 4)
                              .alias("b"))
              .groupBy("b").agg(F.min("conv_id").alias("c"))
              .orderBy("b").limit(2).collect())
    targets = [r["c"] for r in firsts]
    day2 = small_df.withColumn(
        "text", F.when(F.col("conv_id").isin(targets), F.lit(""))
        .otherwise(F.col("text")))

    class Crash(Exception):
        pass

    def crash_after_first_batch(events):
        raise Crash()

    cfg_b = RunnerConfig(work_dir=work, run_id="b", buckets_per_job=1)
    with pytest.raises(Crash):
        run_incremental(day2, rs, cfg_b, prev_run_id="a",
                        observer=crash_after_first_batch)
    res = run_incremental(day2, rs, cfg_b, prev_run_id="a")
    assert len(res.buckets_processed) == 1
    assert sorted(res.buckets_processed + res.buckets_skipped) == [0, 1, 2, 3]

    only_run, only_direct = diff_runs(res.violations,
                                      validate(day2, rs).violations)
    assert (only_run.count(), only_direct.count()) == (0, 0)
    assert res.verdicts.count() == 4 * len(rs.rule_ids())


def test_run_incremental_rule_change_revalidates_all(spark, small_df,
                                                     tmp_path):
    from valar_spark.runner import run_incremental

    cfg = ValidationConfig(num_buckets=4, salt=2)
    work = str(tmp_path / "w")
    run_incremental(small_df, RuleSet(RULES, cfg),
                    RunnerConfig(work_dir=work, run_id="a",
                                 buckets_per_job=4))
    # different rule set => different rule_set_hash => nothing carries
    other = RuleSet({"text": R.non_empty() & R.max_length(50)}, cfg)
    r2 = run_incremental(small_df, other,
                         RunnerConfig(work_dir=work, run_id="b",
                                      buckets_per_job=4),
                         prev_run_id="a")
    assert sorted(r2.buckets_processed) == list(range(4))


def test_repeated_rule_ids_one_verdict_per_bucket(spark, tmp_path):
    """Two same-named leaves report under one rule_id: the run counts
    every row once and writes one verdict (and one observer event) per
    (bucket, rule_id), also for buckets that received no rows."""
    df = spark.range(40).select(
        (F.col("id") / 2).cast("long").alias("conv_id"),
        (F.col("id") % 2).cast("int").alias("turn_idx"),
        F.repeat(F.lit("x"), (F.col("id") % 5).cast("int")).alias("text"))
    cfg = ValidationConfig(num_buckets=64)
    rs = RuleSet({"text": R.max_length(3) & R.max_length(2)}, cfg)
    assert rs.rule_ids() == ["text.max_length", "text.max_length"]
    events = []
    res = run_checkpointed(
        df, rs, RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1"),
        observer=events.extend)

    assert res.rows_checked == 40
    v = res.verdicts
    assert v.count() == 64
    assert v.select("partition_id", "rule_id").distinct().count() == 64
    tot = v.agg(F.sum("rows_checked"), F.sum("violation_count")).first()
    # lengths 0..4 repeat 8 times: 8 rows fail max_length(3), 16 fail (2)
    assert tuple(tot) == (40, 24)
    assert validate(df, rs).violations.count() == 24
    assert len(events) == 64
    assert len({(e.partition_id, e.rule_id) for e in events}) == 64


def _blank_one_conv_per_bucket(df, buckets, num_buckets):
    """``df`` with the text of one conversation in each of ``buckets``
    blanked (a violation of ``text.non_empty`` per turn)."""
    from valar_spark.validate import bucket_expr

    firsts = (df.select("conv_id", bucket_expr(["conv_id"], num_buckets)
                        .alias("b"))
              .filter(F.col("b").isin(list(buckets)))
              .groupBy("b").agg(F.min("conv_id").alias("c")).collect())
    assert len(firsts) == len(buckets)
    targets = [r["c"] for r in firsts]
    return df.withColumn(
        "text", F.when(F.col("conv_id").isin(targets), F.lit(""))
        .otherwise(F.col("text")))


def _sink_files(rc, run_id, bucket):
    d = os.path.join(rc.violations_path, f"run_id={run_id}")
    return [f for root, _, fs in os.walk(d)
            if root.endswith(f"partition_id={bucket}")
            for f in fs if f.endswith(".parquet")]


def _owners(spark, rc, run_id):
    """``{bucket: source_run_id}`` of ``run_id``'s state rows."""
    from valar_spark.runner import _read_state

    rows = (_read_state(spark, rc).filter(F.col("run_id") == run_id)
            .select("partition_id", "source_run_id").distinct().collect())
    owners = {}
    for r in rows:
        assert owners.setdefault(r["partition_id"],
                                 r["source_run_id"]) == r["source_run_id"]
    return owners


def test_run_incremental_chain_carries_by_reference(spark, small_df,
                                                    tmp_path):
    """a → b → c, where c carries a bucket b carried from a: c's result
    equals a from-scratch validation, its carried rows point at the run
    that owns the violations (a, not b), and no carried bucket has a
    violation file under c."""
    from valar_spark.runner import diff_runs, run_incremental

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")

    def rc(run_id):
        return RunnerConfig(work_dir=work, run_id=run_id, buckets_per_job=2)

    day2 = _blank_one_conv_per_bucket(small_df, [0], 4)
    day3 = _blank_one_conv_per_bucket(day2, [1], 4)
    run_incremental(small_df, rs, rc("a"))
    b = run_incremental(day2, rs, rc("b"), prev_run_id="a")
    c = run_incremental(day3, rs, rc("c"), prev_run_id="b")
    assert b.buckets_processed == [0] and c.buckets_processed == [1]

    assert _owners(spark, rc("b"), "b") == {0: None, 1: "a", 2: "a", 3: "a"}
    assert _owners(spark, rc("c"), "c") == {0: "b", 1: None, 2: "a", 3: "a"}
    for bucket in (0, 2, 3):
        assert _sink_files(rc("c"), "c", bucket) == []
    for bucket in (1, 2, 3):
        assert _sink_files(rc("b"), "b", bucket) == []

    for run_id, res, day in (("b", b, day2), ("c", c, day3)):
        only_run, only_direct = diff_runs(res.violations,
                                          validate(day, rs).violations)
        assert (only_run.count(), only_direct.count()) == (0, 0)
        assert res.verdicts.count() == 4 * len(rs.rule_ids())
        # carried rows are relabelled to the reading run
        got = {r["run_id"] for r in
               res.violations.select("run_id").distinct().collect()}
        assert got == {run_id}


def test_state_without_source_run_id_resumes_and_carries(spark, small_df,
                                                         tmp_path):
    """A state table written before ``source_run_id`` existed reads it as
    null (the row's own run): its run resumes with nothing to redo, and an
    increment carries its buckets by reference."""
    import shutil

    from valar_spark.runner import STATE_SCHEMA, diff_runs, run_incremental

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")
    rc_a = RunnerConfig(work_dir=work, run_id="a", buckets_per_job=4)
    first = run_incremental(small_df, rs, rc_a)
    n_first = first.violations.count()

    old_cols = [c.split()[0] for c in STATE_SCHEMA.split(", ")][:9]
    legacy = str(tmp_path / "legacy_state")
    spark.read.parquet(rc_a.state_path).select(*old_cols) \
        .write.parquet(legacy)
    shutil.rmtree(rc_a.state_path)
    shutil.move(legacy, rc_a.state_path)
    assert "source_run_id" not in spark.read.parquet(rc_a.state_path).columns

    again = run_checkpointed(small_df, rs, rc_a)
    assert again.buckets_processed == []
    assert again.violations.count() == n_first

    day2 = _blank_one_conv_per_bucket(small_df, [2], 4)
    rc_b = RunnerConfig(work_dir=work, run_id="b", buckets_per_job=4)
    b = run_incremental(day2, rs, rc_b, prev_run_id="a")
    assert b.buckets_processed == [2]
    assert _owners(spark, rc_b, "b") == {0: "a", 1: "a", 2: None, 3: "a"}
    only_run, only_direct = diff_runs(b.violations,
                                      validate(day2, rs).violations)
    assert (only_run.count(), only_direct.count()) == (0, 0)


def test_expire_runs_keeps_referenced_runs(spark, small_df, tmp_path):
    """``expire_runs`` refuses to drop a run a remaining run refers to,
    deletes nothing when it refuses, and drops it once the referring run
    is gone."""
    from valar_spark.runner import _read_state, expire_runs, run_incremental

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")
    rc_a = RunnerConfig(work_dir=work, run_id="a", buckets_per_job=4)
    rc_b = RunnerConfig(work_dir=work, run_id="b", buckets_per_job=4)
    run_incremental(small_df, rs, rc_a)
    day2 = _blank_one_conv_per_bucket(small_df, [0], 4)
    b = run_incremental(day2, rs, rc_b, prev_run_id="a")
    n_b = b.violations.count()

    def runs():
        return {r["run_id"] for r in
                _read_state(spark, rc_a).select("run_id").distinct()
                .collect()}

    with pytest.raises(ValueError, match=r"a \(by b\)"):
        expire_runs(spark, work, ["a"])
    assert runs() == {"a", "b"}
    assert os.path.isdir(os.path.join(rc_a.violations_path, "run_id=a"))
    assert run_checkpointed(day2, rs, rc_b).violations.count() == n_b

    expire_runs(spark, work, ["b"])
    assert runs() == {"a"}
    assert not os.path.exists(os.path.join(rc_a.violations_path, "run_id=b"))
    assert not os.path.exists(os.path.join(work, "fingerprints", "run_id=b"))

    expire_runs(spark, work, ["a"])
    assert runs() == set()
    assert not os.path.exists(os.path.join(rc_a.violations_path, "run_id=a"))
    # a run of the emptied work_dir starts from scratch
    assert run_checkpointed(small_df, rs, rc_a).buckets_processed == [0, 1,
                                                                       2, 3]


def test_carried_read_prunes_by_owner_partition(spark, small_df, tmp_path):
    """The result of an increment reads the sink with the carried-owner
    predicate among the scan's partition filters, so pruning still
    skips every other run's partitions."""
    from valar_spark.runner import run_incremental

    cfg = ValidationConfig(num_buckets=4, salt=2)
    rs = RuleSet(RULES, cfg)
    work = str(tmp_path / "w")
    run_incremental(small_df, rs, RunnerConfig(work_dir=work, run_id="a",
                                               buckets_per_job=4))
    day2 = _blank_one_conv_per_bucket(small_df, [3], 4)
    b = run_incremental(day2, rs, RunnerConfig(work_dir=work, run_id="b",
                                               buckets_per_job=4),
                        prev_run_id="a")
    leaves = b.violations._jdf.queryExecution().sparkPlan().collectLeaves()
    assert leaves.size() == 1
    scan = leaves.apply(0)
    assert scan.nodeName().startswith("Scan parquet")
    filters = scan.partitionFilters().mkString(" AND ")
    assert "run_id" in filters and "partition_id" in filters, filters
    assert " = a)" in filters and "IN (0,1,2)" in filters, filters
    assert " = b)" in filters, filters


def test_sink_write_leaves_the_session_conf_alone(spark, small_df, tmp_path,
                                                  monkeypatch):
    """The runner's dynamic partition overwrite is an option of its one
    write: it never sets the session's ``partitionOverwriteMode``."""
    from pyspark.sql.conf import RuntimeConfig

    keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    cfg = ValidationConfig(num_buckets=4, salt=2)
    res = run_checkpointed(small_df, RuleSet(RULES, cfg),
                           RunnerConfig(work_dir=str(tmp_path / "w"),
                                        run_id="r1", buckets_per_job=2))
    assert res.violations.count() > 0
    assert key not in keys
    assert spark.conf.get(key) == before
