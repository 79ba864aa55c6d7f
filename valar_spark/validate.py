"""Bind rules to columns and evaluate them over a DataFrame.

One run compiles the whole rule set into a SINGLE wide projection of
error-array columns — the Spark analogue of the reference's fully-inlined
derived validator (Derivation.scala:315-325, docs/design.md:87-92): all row
rules evaluate in one whole-stage-codegen pass over the scan, no shuffle.

Outputs (SURVEY.md §1.1):
- violations DataFrame: one row per ValidationError —
  ``(rule_id, <key cols>, partition_id, field_path, message, code,
  severity, expected, actual)``.
- verdict DataFrame: ``(partition_id, rule_id, pass, violation_count,
  rows_checked)`` — ``pass = violation_count == 0`` is the analogue of
  ``Invalid.errors.isEmpty`` in ``processResults`` (Derivation.scala:61-67).

``partition_id`` is a DETERMINISTIC bucket — ``pmod(xxhash64(partition_col),
num_buckets)`` — not the ephemeral Spark task partition: it is stable across
runs/cluster sizes, which makes it the unit of checkpoint/resume lineage
(BASELINE.json:6) and keeps verdicts reproducible. The physical shuffle key
adds a salt factor so a skewed conv_id spreads over ``salt`` tasks while the
logical verdict stays per-bucket (BASELINE.json:14).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import errors as E
from .config import DEFAULT, ValidationConfig
from .rules import CompileContext, Rule

BUCKET_COL = "partition_id"


class RuleSet:
    """Named rules bound to (possibly nested) columns.

    Keys are column names or dotted paths (``"address.street"``). The outer
    binding annotates errors with the column name and Spark type — the Spark
    analogue of the outermost derived validator's ``annotateErrors``
    (Derivation.scala:84-95).
    """

    def __init__(self, rules: dict[str, Rule], config: ValidationConfig = DEFAULT):
        self.rules = dict(rules)
        self.config = config

    # -- compilation --------------------------------------------------------

    def _bound(self, df: DataFrame) -> list[tuple[str, Column]]:
        """[(column_key, error_array_column)] — one array per bound column.

        Dotted keys annotate one level per segment, so a rule on
        ``address.street`` yields path ``[address, street]`` with per-level
        message prefixes — the same annotation as nested derived validators
        (Derivation.scala:84-95), computed statically at compile time."""
        from .rules import binds_row, contains_row_rule, fill_type_names

        ctx = CompileContext(config=self.config)
        out: list[tuple[str, Column]] = []
        for key, rule in self.rules.items():
            if binds_row(rule):
                # cross-field rules read the row via explicit Column refs;
                # the key is a label (rule_id prefix), not a column name —
                # resolving F.col(key) would fail analysis
                out.append((key, rule.errors(F.lit(None), (key,), ctx, ())))
                continue
            if (key.split(".")[0] not in df.columns
                    and contains_row_rule(rule)):
                # e.g. row_rule(...) & required() under a label key: the
                # composite is not all-RowRule, so it would bind as a
                # column rule and fail analysis with an opaque
                # 'column not found' on the label. Say what's wrong.
                raise ValueError(
                    f"rule under key {key!r} mixes row rules with "
                    f"column-bound rules, and {key!r} is not a column of "
                    f"the DataFrame. Row rules (row_rule/cross-field) "
                    f"must not be combined with column-bound rules under "
                    f"a label key — either make every leaf a row rule, "
                    f"or bind the column-bound parts under their own "
                    f"column key.")
            segs = key.split(".")
            fill_type_names(rule, _resolve_dtype(df.schema, segs))
            tnames = _dtype_chain(df.schema, segs)
            ann = tuple(zip(segs, tnames))
            errs = rule.errors(F.col(key), tuple(segs), ctx, ann)
            out.append((key, errs))
        return out

    def errors_column(self, df: DataFrame) -> Column:
        """All errors of a row, concatenated in rule-declaration order."""
        return E.concat_errors([c for _, c in self._bound(df)])

    def rule_ids(self) -> list[str]:
        ids: list[str] = []
        for key, rule in self.rules.items():
            ids.extend(rule.rule_ids(_rid_prefix(key)))
        return ids


def _rid_prefix(key: str) -> tuple[str, ...]:
    return tuple(key.split("."))


def _resolve_dtype(schema, segs: Sequence[str]):
    from pyspark.sql.types import StructType

    cur = schema
    for seg in segs:
        if isinstance(cur, StructType) and seg in cur.fieldNames():
            cur = cur[seg].dataType
        else:
            return None
    return cur


def _dtype_chain(schema, segs: Sequence[str]) -> list[str]:
    """Spark type simpleString per path segment (``value`` when unknown)."""
    from pyspark.sql.types import StructType

    out: list[str] = []
    cur = schema
    for seg in segs:
        if isinstance(cur, StructType) and seg in cur.fieldNames():
            dt = cur[seg].dataType
            out.append(dt.simpleString().split("<")[0])
            cur = dt
        else:
            out.append("value")
            cur = None
    return out


def bucket_expr(partition_cols: Sequence[str], num_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in partition_cols]),
                  F.lit(num_buckets)).cast("int")


class ValidationRun:
    """Lazy handle over one validation pass.

    ``violations`` and ``verdicts`` are independent DataFrames over the same
    compiled projection; Spark recomputes the (cheap, codegen'd) scan for
    each unless :meth:`persist` is called. The checkpointing runner instead
    persists each batch's projection and derives both from it — see
    ``runner.py``.
    """

    def __init__(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        keys: Sequence[str] = ("conv_id", "turn_idx"),
        partition_cols: Sequence[str] | None = None,
    ):
        self.ruleset = ruleset
        self.keys = list(keys)
        self._df = df
        cfg = ruleset.config
        self.partition_cols = list(partition_cols) if partition_cols else [self.keys[0]]
        self._base = df.withColumn(
            BUCKET_COL, bucket_expr(self.partition_cols, cfg.num_buckets)
        )
        self._errs = self._base.select(
            *self.keys, BUCKET_COL, ruleset.errors_column(df).alias("_errors")
        )

    def persist(self, level: str = "MEMORY_AND_DISK") -> "ValidationRun":
        from pyspark import StorageLevel

        self._errs = self._errs.persist(getattr(StorageLevel, level))
        return self

    def unpersist(self) -> None:
        self._errs.unpersist()

    @property
    def violations(self) -> DataFrame:
        return violations_from(self._errs, self.keys)

    @property
    def verdicts(self) -> DataFrame:
        return verdicts_from(
            self._errs, self.ruleset.rule_ids(), bucket_col=BUCKET_COL
        )

    def summary(self, with_cost: bool = False) -> DataFrame:
        """Table-level rollup: one row per rule_id. ``with_cost=True``
        joins :meth:`rule_cost`'s per-rule wall-time attribution
        (``cost_sec``/``cost_frac``) — the operational view that turns a
        run's total wall time into "which rule is the expensive one"."""
        s = (
            self.verdicts.groupBy("rule_id")
            .agg(
                F.min("pass").alias("pass"),
                F.sum("violation_count").alias("violation_count"),
                F.sum("rows_checked").alias("rows_checked"),
            )
            .orderBy("rule_id")
        )
        if with_cost:
            s = (s.join(self.rule_cost()
                        .select("rule_id", "cost_sec", "cost_frac"),
                        "rule_id", "left")
                 .orderBy("rule_id"))
        return s

    def rule_cost(self, repeat: int = 1) -> DataFrame:
        """Per-rule wall-time attribution: ``(rule_id, rule_key, cost_sec,
        cost_frac)``. Production validation evaluates every rule in ONE
        fused projection, so per-rule time is not observable there; this
        diagnostic re-times each bound key's compiled expression in
        ISOLATION (one violation-counting scan per key, ``repeat`` takes
        the min) and shares the key's measured cost across its leaf
        rule_ids. Cost is rules × scans — run it on a sample or at
        diagnostic moments, not inside the hot path; the measured ranking
        is the point (which rule to optimize/drop), absolute seconds are
        machine-local."""
        import time as _time

        spark = self._base.sparkSession
        rows: list[tuple] = []
        total = 0.0
        for key, rule in self.ruleset.rules.items():
            sub = RuleSet({key: rule}, self.ruleset.config)
            run = ValidationRun(self._df, sub, keys=self.keys,
                                partition_cols=self.partition_cols)
            best = None
            for _ in range(max(repeat, 1)):
                t0 = _time.perf_counter()
                run.violations.count()
                dt = _time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            total += best
            for rid in sub.rule_ids():
                rows.append((rid, key, round(best, 4)))
        return spark.createDataFrame(
            rows, "rule_id string, rule_key string, cost_sec double"
        ).withColumn(
            "cost_frac",
            F.round(F.col("cost_sec") / F.lit(max(total, 1e-9)), 4))


def violations_from(errs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One row per ValidationError of a frame with an ``_errors`` array
    column: ``(rule_id, <keys>, partition_id, field_path, message, code,
    severity, expected, actual)``."""
    # no size(...)>0 pre-filter: explode of an empty array already emits
    # nothing, and a filter would duplicate the whole compiled rule
    # expression into a second (and scan-pushed third) evaluation
    e = F.col("_e")
    fields = ("field_path", "message", "code", "severity", "expected",
              "actual")
    return (
        errs.select(*keys, BUCKET_COL, F.explode("_errors").alias("_e"))
        .select(e["rule_id"].alias("rule_id"), *keys, BUCKET_COL,
                *[e[f].alias(f) for f in fields])
    )


def verdicts_from(errs: DataFrame, rule_ids: Sequence[str], bucket_col: str = BUCKET_COL) -> DataFrame:
    """(partition_id, rule_id, pass, violation_count, rows_checked) from a
    frame with an ``_errors`` array column: one row per observed bucket and
    distinct static rule id, so rules with zero violations still appear
    (pass=true); errors under other rule ids are not counted.

    ONE scan, ONE aggregate, no join: ``posexplode_outer`` keeps a marker
    row for error-free rows, so one ``groupBy(bucket)`` counts each source
    row once (its first exploded position) beside one ``count_if`` per rule
    id, and ``inline`` unpivots those columns into rows. ``count_if`` on
    the exploded rows is code-generated; a per-rule ``filter`` over the
    array would be an interpreted higher-order function."""
    rids = list(dict.fromkeys(rule_ids))
    rid = F.col("_e")["rule_id"]
    g = (
        errs.select(bucket_col,
                    F.posexplode_outer("_errors").alias("_pos", "_e"))
        .groupBy(bucket_col)
        .agg(F.count_if(F.coalesce(F.col("_pos") == 0, F.lit(True)))
             .alias("rows_checked"),
             *[F.count_if(rid == F.lit(r)).alias(f"_v{i}")
               for i, r in enumerate(rids)])
    )
    # the cast types the array even when there are no rule ids
    # (``inline(array())`` fails analysis) — the result is then empty
    per_rule = F.array(*[
        F.struct(F.lit(r).alias("rule_id"),
                 F.col(f"_v{i}").alias("violation_count"))
        for i, r in enumerate(rids)
    ]).cast("array<struct<rule_id:string,violation_count:bigint>>")
    return (
        g.select(bucket_col, "rows_checked", F.inline(per_rule))
        .select(bucket_col, "rule_id",
                (F.col("violation_count") == 0).alias("pass"),
                "violation_count", "rows_checked")
    )


def validate(
    df: DataFrame,
    ruleset: RuleSet | dict[str, Rule],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    partition_cols: Sequence[str] | None = None,
    config: ValidationConfig | None = None,
) -> ValidationRun:
    """Evaluate ``ruleset`` over ``df``. See :class:`ValidationRun`."""
    if isinstance(ruleset, dict):
        ruleset = RuleSet(ruleset, config or DEFAULT)
    elif config is not None:
        ruleset = RuleSet(ruleset.rules, config)
    return ValidationRun(df, ruleset, keys=keys, partition_cols=partition_cols)


class GateError(Exception):
    """Raised by :func:`assert_within_budget` when a rule exceeds its
    error budget; carries the offending rows for programmatic handling."""

    def __init__(self, breaches: list[dict]):
        self.breaches = breaches
        lines = [f"  {b['rule_id']}: rate {b['rate']:.6f} > "
                 f"budget {b['budget']:.6f} "
                 f"({b['violation_count']}/{b['rows_checked']} rows)"
                 for b in breaches]
        super().__init__("validation gate failed:\n" + "\n".join(lines))


def verdict_gate(
    summary: DataFrame,
    budgets: dict[str, float] | None = None,
    default_budget: float = 0.0,
) -> DataFrame:
    """Error-budget gate over a :meth:`ValidationRun.summary` frame: per
    rule, ``(rule_id, violation_count, rows_checked, rate, budget, ok)``
    where ``ok`` is rate ≤ budget. ``budgets`` maps rule_id → tolerated
    violation RATE (e.g. ``{"text.non_empty": 0.001}``); unlisted rules
    get ``default_budget`` (0.0 = zero-tolerance). This is the
    data-contract decision layer: verdicts say what happened, the gate
    says whether the pipeline may proceed. Pure projection over the
    (rule-count-sized) summary — no data pass."""
    budgets = budgets or {}
    budget = F.lit(default_budget)
    for rid, b in budgets.items():
        budget = F.when(F.col("rule_id") == rid, F.lit(float(b))) \
            .otherwise(budget)
    rate = (F.col("violation_count").cast("double")
            / F.greatest(F.col("rows_checked").cast("double"), F.lit(1.0)))
    return summary.select(
        "rule_id", "violation_count", "rows_checked",
        F.round(rate, 9).alias("rate"),
        budget.alias("budget"),
        (rate <= budget).alias("ok"),
    ).orderBy("rule_id")


def assert_within_budget(summary: DataFrame,
                         budgets: dict[str, float] | None = None,
                         default_budget: float = 0.0) -> DataFrame:
    """Raise :class:`GateError` if any rule breaches its budget; return
    the gate frame otherwise — the one-liner a scheduled job calls
    between validation and publish."""
    gate = verdict_gate(summary, budgets, default_budget)
    breaches = [r.asDict() for r in gate.filter(~F.col("ok")).collect()]
    if breaches:
        raise GateError(breaches)
    return gate


def route(
    df: DataFrame,
    ruleset: RuleSet | dict[str, Rule],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    config: ValidationConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into ``(clean, quarantined)`` in ONE compiled rule
    projection: quarantined rows keep every original column plus
    ``_reasons`` (the array of rule_ids that fired); clean rows are the
    rest, original schema untouched. The batch twin of the streaming
    curation sink's dual-route — run it before publishing a landing
    table so bad rows land in quarantine WITH their reasons instead of
    poisoning downstream consumers. Both outputs derive from the same
    projection; a caller writing both should ``persist()`` the input (or
    write quarantine first) to avoid recomputing the scan."""
    if isinstance(ruleset, dict):
        ruleset = RuleSet(ruleset, config or DEFAULT)
    errs = ruleset.errors_column(df)
    tagged = df.withColumn(
        "_reasons",
        F.array_distinct(F.transform(errs, lambda e: e["rule_id"])))
    quarantined = tagged.filter(F.size("_reasons") > 0)
    clean = tagged.filter(F.size("_reasons") == 0).drop("_reasons")
    return clean, quarantined


def sampled_validation(
    df: DataFrame,
    ruleset: RuleSet | dict[str, Rule],
    fraction: float = 0.02,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    salt: str = "valar",
    z: float = 1.959963984540054,
    **validate_kwargs,
) -> DataFrame:
    """Pre-flight violation-rate ESTIMATE from a deterministic hash
    sample — the cheap first pass a 100-TB operator runs before paying
    for the full validation: per rule,
    ``(rule_id, sample_rows, sample_violations, rate, ci_lo, ci_hi,
    total_rows, est_violations_lo, est_violations_hi)`` where
    ``[ci_lo, ci_hi]`` is the Wilson score interval (the right interval
    near rate 0, where validation rates live — a normal interval
    collapses to a useless [0,0] there) and the ``est_*`` columns scale
    it to the full table.

    The sample is the engine's standard content-stable hash bucket
    (``md5(key || ':' || salt)`` cut at ``round(fraction*10000)`` of
    10,000 buckets — same machinery as ``hash_split``): the same rows
    sample on every run, engine, and cluster size, so two estimates
    differ only if the data did, and the DuckDB oracle can recompute
    membership bit-for-bit. The extrapolation uses the EXACT cut
    fraction (k/10000), not the requested one. Scale shape: the rule
    pass runs on fraction·N rows behind a pushed-down filter; the only
    full-table work is a count (parquet-metadata cheap), joined in as a
    broadcast single-row aggregate."""
    from .textops import md5_order_key

    buckets = 10_000
    k = int(round(fraction * buckets))
    if not 0 < k <= buckets:
        raise ValueError(f"fraction {fraction} cuts {k} of {buckets} "
                         "buckets; need at least one")
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in keys])
    sample = df.filter(md5_order_key(key, salt) % buckets < k)

    run = validate(sample, ruleset, keys=keys, **validate_kwargs)
    s = run.summary().select(
        "rule_id",
        F.col("rows_checked").alias("sample_rows"),
        F.col("violation_count").alias("sample_violations"),
    )
    total = df.agg(F.count(F.lit(1)).alias("total_rows"))

    n = F.col("sample_rows").cast("double")
    p = F.col("sample_violations").cast("double") / n
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (F.lit(z) * F.sqrt(p * (F.lit(1.0) - p) / n
                              + z2 / (F.lit(4.0) * n * n))) / denom
    lo = F.greatest(center - half, F.lit(0.0))
    hi = F.least(center + half, F.lit(1.0))
    t = F.col("total_rows").cast("double")
    return (
        s.crossJoin(F.broadcast(total))
        .select(
            "rule_id", "sample_rows", "sample_violations",
            F.round(p, 9).alias("rate"),
            F.round(lo, 9).alias("ci_lo"),
            F.round(hi, 9).alias("ci_hi"),
            "total_rows",
            F.floor(lo * t).cast("long").alias("est_violations_lo"),
            F.ceil(hi * t).cast("long").alias("est_violations_hi"),
        )
        .orderBy("rule_id")
    )
