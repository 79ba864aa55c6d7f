"""Per-bucket verdicts (``validate.verdicts_from``): parity with the
reference crossJoin shape on edge-case fixtures, and the structure of the
plans that produce verdicts and runner state."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from valar_spark import ValidationConfig, validate
from valar_spark import rules as R
from valar_spark.runner import (RunnerConfig, _empty_violations,
                                run_checkpointed)
from valar_spark.validate import RuleSet, verdicts_from

ERRS_SCHEMA = ("partition_id int, "
               "_errors array<struct<rule_id:string, code:string>>")
RULES = {"text": R.non_empty(), "turn_idx": R.non_negative()}


def reference_verdicts(errs: DataFrame, rule_ids) -> DataFrame:
    """The earlier shape of ``verdicts_from``: count per (bucket, rule_id)
    and per bucket, then cross the observed buckets with a Python-built
    table of the distinct static rule ids and left-join the counts."""
    spark = errs.sparkSession
    ex = errs.select(
        "partition_id", F.posexplode_outer("_errors").alias("_pos", "_e"))
    first_of_row = (F.col("_pos") == 0) | F.col("_pos").isNull()
    g = (
        ex.groupBy("partition_id",
                   F.coalesce(F.col("_e")["rule_id"], F.lit("\u0000"))
                   .alias("rule_id"))
        .agg(F.count("_e").alias("violation_count"),
             F.sum(first_of_row.cast("long")).alias("_first_rows"))
    )
    per_bucket = g.groupBy("partition_id").agg(
        F.sum("_first_rows").alias("rows_checked"))
    viol = g.filter(F.col("rule_id") != "\u0000").select(
        "partition_id", "rule_id", "violation_count")
    rules_df = spark.createDataFrame(
        [(r,) for r in dict.fromkeys(rule_ids)], "rule_id string")
    return (
        per_bucket.crossJoin(F.broadcast(rules_df))
        .join(viol, ["partition_id", "rule_id"], "left")
        .select("partition_id", "rule_id",
                F.coalesce("violation_count", F.lit(0))
                .alias("violation_count"),
                "rows_checked")
        .withColumn("pass", F.col("violation_count") == 0)
        .select("partition_id", "rule_id", "pass", "violation_count",
                "rows_checked")
    )


def _err(rid):
    return {"rule_id": rid, "code": "c"}


FIXTURES = {
    "repeated_ids": (
        [(0, [_err("a"), _err("a"), _err("b")]), (0, [_err("b")]),
         (1, [_err("a")]), (2, [])],
        ["a", "b", "a", "b"]),
    "null_and_empty_errors": (
        [(0, None), (0, []), (1, None), (1, [_err("a")]), (3, [])],
        ["a", "b"]),
    "ids_outside_static_list": (
        [(0, [_err("x"), _err("a")]), (1, [_err("y")]), (1, [_err(None)]),
         (2, [_err("x")])],
        ["a"]),
    "zero_rule_ids": (
        [(0, [_err("a")]), (1, None), (2, [])],
        []),
    "empty_input": ([], ["a", "b"]),
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_verdicts_match_reference(spark, name):
    rows, rule_ids = FIXTURES[name]
    errs = spark.createDataFrame(rows, ERRS_SCHEMA)
    got = verdicts_from(errs, rule_ids)
    exp = reference_verdicts(errs, rule_ids)
    assert got.columns == exp.columns
    assert ([f.dataType for f in got.schema]
            == [f.dataType for f in exp.schema])
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    if not rule_ids or not rows:
        assert got.count() == 0


def test_verdicts_match_reference_on_validation_errors(spark):
    from valar_spark.synth import synth_transcripts

    df = synth_transcripts(spark, total_turns=4_000, seed=7)
    run = validate(df, {**RULES, "role": R.one_of(["user"])},
                   config=ValidationConfig(num_buckets=16))
    rule_ids = run.ruleset.rule_ids()
    got = run.verdicts
    exp = reference_verdicts(run._errs, rule_ids)
    assert exp.count() == 16 * len(rule_ids)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().toString()


def test_verdicts_plan_is_one_aggregate_without_python_rdd(spark):
    from valar_spark.synth import synth_transcripts

    df = synth_transcripts(spark, total_turns=4_000, seed=7)
    verdicts = validate(df, RULES,
                        config=ValidationConfig(num_buckets=16)).verdicts
    plan = _plan(verdicts)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert "CartesianProduct" not in plan and "Join" not in plan

    sc = spark.sparkContext
    group = "test-verdicts-structure"
    sc.setJobGroup(group, "verdicts collect")
    try:
        rows = verdicts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 16 * len(RULES)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_runner_state_write_has_no_python_rdd(spark, tmp_path, monkeypatch):
    """Every frame the runner writes to its state table is a JVM-local
    relation, not a parallelized Python list."""
    from valar_spark.synth import synth_transcripts

    df = synth_transcripts(spark, total_turns=2_000, seed=3)
    rc = RunnerConfig(work_dir=str(tmp_path / "w"), run_id="r1",
                      buckets_per_job=4)
    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if path == rc.state_path:
            plans.append(_plan(self._df))
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    res = run_checkpointed(df, RuleSet(RULES, ValidationConfig(num_buckets=8)),
                           rc)
    assert res.rows_checked == df.count()
    # the result frame of a run with nothing to write is built the same way
    plans.append(_plan(_empty_violations(df, ("conv_id", "turn_idx"))))
    assert len(plans) == 3
    for plan in plans:
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
