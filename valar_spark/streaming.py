"""Structured Streaming bolt-on.

The rule compiler is expression-only (SURVEY.md §2.5 last row), so the same
compiled projection applies verbatim to a streaming DataFrame: violations
become an append-mode stream, per-bucket verdict counts a watermarked
windowed aggregation. Batch semantics are the source of truth — streaming
reuses the exact Column expressions, so parity holds by construction.

The per-conversation stateful monitors (integrity, transition grammar,
tool echo/grounding, parrot, corrections, verbosity) all run on one
state-store walker, ``_per_conversation``. The four "previous turn → this
turn" monitors share its pairing layer ``_turn_pairs``, which keeps only
the previous turn in state and emits raw pair rows in the shape of the
batch analyzers' ``valar_spark.dataset_rules._lagged_pairs``; those
analyzers' own post-lag Columns then finish the job, as the batch
analyzer's sums finish the verbosity monitor, so each rule has one
definition.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import dataset_rules as D
from .config import DEFAULT, ValidationConfig
from .drift import edge_bucket
from .rules import Rule
from .validate import BUCKET_COL, RuleSet, bucket_expr, validate


def stream_violations(
    stream_df: DataFrame,
    ruleset: RuleSet | dict[str, Rule],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    partition_cols: Sequence[str] | None = None,
    config: ValidationConfig | None = None,
) -> DataFrame:
    """Violations as an append-only stream — attach ``.writeStream`` with
    any sink. Pure narrow projection: no state, no watermark needed."""
    return validate(stream_df, ruleset, keys=keys,
                    partition_cols=partition_cols, config=config).violations


def stream_verdict_counts(
    stream_df: DataFrame,
    ruleset: RuleSet | dict[str, Rule],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    partition_cols: Sequence[str] | None = None,
    config: ValidationConfig | None = None,
) -> DataFrame:
    """Windowed per-bucket violation counts with late-data watermarking —
    the streaming analogue of the verdict table (complete verdicts with
    rows_checked belong to the batch/checkpoint path)."""
    if isinstance(ruleset, dict):
        ruleset = RuleSet(ruleset, config or DEFAULT)
    pcols = list(partition_cols) if partition_cols else ["conv_id"]
    base = (
        stream_df.withColumn(
            BUCKET_COL, bucket_expr(pcols, ruleset.config.num_buckets))
        .withWatermark(ts_col, watermark)
    )
    return (
        base.select(ts_col, BUCKET_COL,
                    F.explode(ruleset.errors_column(stream_df)).alias("_e"))
        .groupBy(F.window(ts_col, window), F.col(BUCKET_COL),
                 F.col("_e")["rule_id"].alias("rule_id"))
        .agg(F.count(F.lit(1)).alias("violation_count"))
    )


def stream_value_histogram(
    stream_df: DataFrame,
    col: str,
    edges: Sequence[float],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed fixed-edge histogram of a numeric column — the streaming
    half of drift detection. Emits ``(window, bucket, n)`` per closed
    window (watermarked, append-safe); bucket = number of edges strictly
    below the value (``drift.edge_bucket``, the binning of
    ``drift.histogram``), so a static baseline histogram over the SAME
    edges compares directly. Only NON-EMPTY buckets are emitted —
    zero-fill with ``drift.counts_from_pairs(rows, len(edges) + 1)``
    before handing the window to ``drift.psi_from_counts``. State is
    ≤len(edges)+1 counters per open window — O(bins), independent of
    stream volume."""
    return (
        stream_df.filter(F.col(col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window),
                 edge_bucket(col, edges).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    capacity: int = 64,
    shards: int = 32,
) -> DataFrame:
    """CROSS-micro-batch Misra–Gries heavy-hitter monitor — the streaming
    face of :func:`valar_spark.dataset_rules.heavy_hitters_sketch`:
    values hash into ``shards`` groups (``pmod(xxhash64(value), shards)``)
    and each shard keeps ONE Misra–Gries summary of ≤ ``capacity``
    counters in the state store, merged per micro-batch with the same
    Agarwal-et-al. summary merge as the batch operator. Because a value
    lives in exactly one shard, its estimate error is bounded by ITS
    shard's decrement total ``dec ≤ rows_seen(shard)/(capacity+1)`` —
    sharding makes the streaming bound TIGHTER than the batch one
    (≈ N/(shards·(capacity+1)) under hash balance). Total state is
    ``shards × capacity`` counters — fixed, independent of stream volume
    and of the column's cardinality, which is the property a plain
    streaming ``groupBy(value).count()`` (state per distinct value ever
    seen) fatally lacks on a 100-TB key column.

    Emits, per shard per micro-batch ("update" semantics), the shard's
    full current summary: ``(shard, value, est, dec, rows_seen)`` —
    ``dec``/``rows_seen`` are the shard's running totals, so a consumer
    takes each shard's latest generation (max ``rows_seen``), sums
    ``est`` by value, and reads the per-value error bound off the
    owning shard's ``dec``. Nulls are excluded (the null-rate stat owns
    them)."""
    if capacity < 1:
        raise ValueError(f"stream_heavy_hitters: capacity must be >= 1, "
                         f"got {capacity}")
    src = (stream_df.filter(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("value"))
           .withColumn("_shard",
                       F.pmod(F.xxhash64("value"), F.lit(shards))
                       .cast("int")))

    def fn(key, pdf_iter, state):
        import json as _json

        import pandas as pd

        if state.exists:
            sketch_json, dec, rows_seen = state.get
            counters = {k: int(v)
                        for k, v in _json.loads(sketch_json).items()}
        else:
            counters, dec, rows_seen = {}, 0, 0
        for pdf in pdf_iter:
            rows_seen += len(pdf)
            for v, c in pdf["value"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                ranked = sorted(counters.values(), reverse=True)
                cut = ranked[capacity]  # (capacity+1)-th largest
                dec += cut
                counters = {v: c - cut for v, c in counters.items()
                            if c > cut}
        state.update((_json.dumps(counters), int(dec), int(rows_seen)))
        shard = int(key[0])
        yield pd.DataFrame(
            [(shard, v, c, dec, rows_seen) for v, c in counters.items()],
            columns=["shard", "value", "est", "dec", "rows_seen"])

    return src.groupBy("_shard").applyInPandasWithState(
        fn,
        "shard int, value string, est long, dec long, rows_seen long",
        "sketch string, dec long, rows_seen long",
        "update",
        "NoTimeout")


def stream_dedup_exact(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the streaming half of
    ``textops.dedup_exact``: drops any row whose text content (md5, JVM
    projection) was already seen within the event-time watermark, ACROSS
    micro-batches. ``dropDuplicatesWithinWatermark`` keys state by the
    16-byte hash only — never the payload — and expires entries as the
    watermark advances, so state is bounded by the distinct-content rate ×
    window, not the stream's lifetime (plain ``dropDuplicates`` on a
    stream grows state forever — the 100-TB-pipeline failure mode this
    exists to avoid). Null-text rows are keyed by their id so they pass
    through instead of collapsing onto one null hash; a row with BOTH
    text and id null has no identity at all and gets a unique uuid key
    (always passes — dedup of the identityless is undefined)."""
    key = F.when(
        F.col(text_col).isNull() & F.col(id_col).isNull(), F.expr("uuid()")
    ).when(
        F.col(text_col).isNull(),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    ).otherwise(F.md5(F.col(text_col)))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .withColumn("_content_key", key)
        .dropDuplicatesWithinWatermark(["_content_key"])
        .drop("_content_key")
    )


def stream_session_stats(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    order_col: str | None = "turn_idx",
) -> DataFrame:
    """Gap-based conversation sessionization — Spark's built-in
    ``session_window`` groups a conversation's turns into activity
    sessions (a new session opens after ``gap`` of silence) and emits
    per-session stats: ``(conv_id, session_start, session_end, n_turns[,
    min_<order_col>, max_<order_col>])``. Sessions merge as late turns
    bridge gaps; state holds only OPEN sessions and evicts closed ones
    past the watermark — the canonical "how long do agent conversations
    actually run" metric over a live transcript stream, O(open sessions)
    state. ``order_col=None`` (or a column absent from the stream) drops
    the min/max aggregates so the op works on any keyed event stream."""
    aggs = [F.count(F.lit(1)).alias("n_turns")]
    extra_cols = []
    if order_col is not None and order_col in stream_df.columns:
        aggs += [F.min(order_col).alias(f"min_{order_col}"),
                 F.max(order_col).alias(f"max_{order_col}")]
        extra_cols = [f"min_{order_col}", f"max_{order_col}"]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(conv_col),
                 F.session_window(F.col(ts_col), gap).alias("session"))
        .agg(*aggs)
        .select(conv_col,
                F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"),
                "n_turns", *extra_cols)
    )


def stream_near_dup_flags(
    stream_df: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-duplicate screening — flag incoming documents that
    LSH-collide with an EXISTING corpus: ``index_bands`` is the corpus's
    static band table (``textops.minhash_band_table``, typically
    parquet-backed and refreshed by the batch pipeline); the stream side
    computes the SAME banding per micro-batch (signature UDF + explode,
    stateless) and equi-joins on ``(band_idx, band_hash)`` — a
    stream-static inner join, no streaming state at all.

    Output: one row ``(doc_id, index_id, band_idx)`` per colliding band —
    append-mode safe. Consumers dedup/count downstream (a distinct or
    count here would force stateful aggregation; candidates are tiny —
    P(collision) ≈ 1−(1−j^r)^b per pair — so that belongs to the consumer
    or the exact-verify batch join). This is the standard shape for "is
    this incoming training document a near-copy of anything we already
    have" at ingest time."""
    from . import textops as X

    stream_bands = X.minhash_band_table(
        stream_df, text_col, id_col, num_hashes, bands, shingle_n)
    idx = index_bands.select(F.col("_id").alias("index_id"),
                             "band_idx", "band_hash")
    return (
        stream_bands.join(idx, ["band_idx", "band_hash"])
        .select(F.col("_id").alias(id_col), "index_id", "band_idx")
    )


def stream_curate(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_weights: dict[str, float] | None = None,
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
) -> DataFrame:
    """Ingest-time curation: the quality/language gate + charset hygiene
    + deterministic split assignment applied to a document STREAM —
    every signal is a stateless projection (the same engine-portable
    expressions as the batch :func:`~valar_spark.textops.corpus_filter` /
    :func:`~valar_spark.textops.charset_features` /
    :func:`~valar_spark.textops.hash_split`), so the stream plan has no
    state store and no watermark requirement, and the batch and streaming
    paths CANNOT drift apart (shared Column builders, not parallel
    implementations).

    Emits every incoming doc with ``keep``/``drop_reasons``, charset
    counters and its content-stable ``split`` — downstream sinks route on
    ``keep`` (e.g. kept → the training landing zone partitioned by split,
    dropped → a quarantine table with reasons). Dedup against the
    existing corpus chains via :func:`stream_near_dup_flags`; dedup
    WITHIN the stream via :func:`stream_dedup_exact`."""
    from . import textops as X

    g = X.corpus_filter(stream_df, text_col, min_tokens=min_tokens,
                        allowed_langs=allowed_langs)
    g = X.hash_split(g, weights=split_weights, id_col=id_col)
    # charset counters inline (a stream-stream self-join would demand
    # watermarks; these are projections of the same row)
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    n_ctrl = n - F.length(F.regexp_replace(t, X.CTRL_CLASS, ""))
    n_na = n - F.length(F.regexp_replace(t, r"[^\x00-\x7F]", ""))
    return (g.withColumn("n_control", n_ctrl.cast("long"))
            .withColumn("n_non_ascii", n_na.cast("long"))
            .select(id_col, text_col, "lang_pred", "keep",
                    F.concat_ws(",", "drop_reasons").alias("drop_reasons"),
                    "n_control", "n_non_ascii", "split"))


def stream_curate_to_sink(
    stream_df: DataFrame,
    kept_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_bands: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    **curate_kwargs,
):
    """Deploy :func:`stream_curate` as a running sink: kept documents
    land under ``kept_path`` PARTITIONED BY their train/val/test split
    (the dataloader-facing layout — a trainer reads ``split=train/``
    directly and partition pruning serves the others), dropped documents
    land under ``quarantine_path`` with their ``drop_reasons`` (the
    audit/triage table). One ``foreachBatch`` writer does both routes
    per micro-batch from a single cached evaluation of the curation
    projection — two streaming queries would double-read the source and
    could diverge on retry; checkpointed at ``checkpoint_path``, restart
    resumes mid-stream. foreachBatch is at-least-once on retry: parquet
    appends can duplicate a replayed batch, so downstream consumers
    dedup on ``doc_id`` (content-stable) or the sink paths point at an
    idempotent table format. Returns the started StreamingQuery (caller
    owns ``stop()``).

    ``index_bands`` (the existing corpus's static MinHash band table,
    :func:`textops.minhash_band_table`) adds the NEAR-DUP stage: a kept
    doc whose bands collide with the index routes to quarantine with
    reason ``near_dup`` instead of landing in the training zone — the
    streaming twin of ``curation_ledger(near_dup_drop_ids=...)``. The
    screen runs INSIDE foreachBatch (batch semantics: the per-doc
    distinct over colliding bands is a plain aggregate, no stream state),
    and — matching the batch ledger's 'later stages only consider prior
    survivors' invariant — only quality-gate survivors are screened;
    quality-dropped docs keep their original reasons. Split assignment
    is untouched (content-hash, independent of the screen)."""
    curated = stream_curate(stream_df, text_col=text_col, id_col=id_col,
                            **curate_kwargs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from . import textops as X

        batch_df.persist()
        try:
            kept = batch_df.filter(F.col("keep"))
            if index_bands is not None:
                hits = (
                    X.minhash_band_table(kept, text_col, id_col,
                                         num_hashes, bands, shingle_n)
                    .join(F.broadcast(index_bands
                                      .select("band_idx", "band_hash")
                                      .distinct()),
                          ["band_idx", "band_hash"])
                    .select(F.col("_id").alias(id_col)).distinct()
                    .withColumn("_nd", F.lit(True)))
                kept = kept.join(hits, id_col, "left")
                nd = F.coalesce(F.col("_nd"), F.lit(False))
                (kept.filter(nd)
                 .withColumn("drop_reasons", F.lit("near_dup"))
                 .drop("_nd", "keep", "split")
                 .write.mode("append").parquet(quarantine_path))
                kept = kept.filter(~nd).drop("_nd")
            (kept.drop("keep", "drop_reasons")
             .write.mode("append").partitionBy("split")
             .parquet(kept_path))
            (batch_df.filter(~F.col("keep"))
             .drop("keep", "split")
             .write.mode("append").parquet(quarantine_path))
        finally:
            batch_df.unpersist()

    return (curated.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


_NO_TS = -(1 << 62)  # sentinel: no comparable predecessor (start / null ts)

_CLOSE_UNIT_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000}


def _close_ms(close_after: str | None) -> int | None:
    """``close_after`` (``"<qty> <unit>"``) in milliseconds; None stays
    None (no idle eviction). Anything else raises a ValueError naming the
    accepted units, at plan time rather than inside a micro-batch."""
    if close_after is None:
        return None
    try:
        qty, unit = close_after.split()
        ms = int(float(qty) * _CLOSE_UNIT_MS[unit])
    except (ValueError, KeyError, OverflowError):
        ms = 0
    if ms <= 0:
        raise ValueError(
            f"close_after must be '<positive number> <unit>' with unit one "
            f"of {', '.join(_CLOSE_UNIT_MS)}; got {close_after!r}")
    return ms


def _per_conversation(stream_df, conv_col, step, out_ddl, state_ddl,
                      close_ms, on_close=None):
    """The one state-store walker behind every per-conversation monitor:
    ``groupBy(conv_col).applyInPandasWithState`` in append mode. Each
    conversation's micro-batch rows arrive as ONE frame (Arrow hands a
    large group over in chunks; per-chunk processing would break any
    in-batch ordering), and ``step(conv, state_or_None, pdf)`` returns
    ``(new_state, rows)``. With ``close_ms`` the state is evicted after
    that much processing-time silence; ``on_close(conv, state)`` may
    emit rows for the closed conversation first. Output columns are the
    names in ``out_ddl``."""
    out_cols = [f.split()[0] for f in out_ddl.split(",")]

    def fn(key, pdf_iter, state):
        import pandas as pd

        conv = key[0]
        if state.hasTimedOut:
            rows = on_close(conv, state.get) if on_close else None
            state.remove()
        else:
            chunks = list(pdf_iter)
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            new_state, rows = step(
                conv, state.get if state.exists else None, pdf)
            state.update(new_state)
            if close_ms is not None:
                state.setTimeoutDuration(close_ms)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return stream_df.groupBy(conv_col).applyInPandasWithState(
        fn, out_ddl, state_ddl, "append",
        "NoTimeout" if close_ms is None else "ProcessingTimeTimeout")


_PAIR_STATE_DDL = {"text": "last_role string, last_text string",
                   "idx": "last_role string, last_idx bigint"}


def _turn_pairs(stream_df, conv_col, order_col, role_col, text_col,
                pair, carry, close_after):
    """Shared walker of the "previous turn → this turn" monitors: sorts
    each conversation's micro-batch by the content-closed order
    ``(order_col NULLS FIRST, role, md5(text))`` of its batch twin
    :func:`valar_spark.dataset_rules._turn_pairs` and emits, for every
    turn of role ``pair[1]`` whose predecessor had role ``pair[0]``, one
    row ``(conv, _i, _role, _text, _prev_role, _prev_i, _prev_text)`` —
    the batch ``_lagged_pairs`` frame. Only the predecessor's role and
    its text (``carry="text"``) or idx (``carry="idx"``) are carried
    across micro-batches in the state store; the other ``_prev_`` column
    stays null."""
    import hashlib

    prev_role, cur_role = pair
    conv_t = stream_df.schema[conv_col].dataType.simpleString()

    # nested, not module-level: executor closures then pickle by value and
    # never need this package importable on the workers
    def _md5_text(v) -> str:
        # null hashes as "", the twin of the batch md5(coalesce(text, ''))
        if v is None or (isinstance(v, float) and math.isnan(v)):
            v = ""
        return hashlib.md5(str(v).encode()).hexdigest()

    def step(conv, st, pdf):
        import pandas as pd

        last_role, last = st or (None, None)
        pdf = (pdf.assign(_h=pdf[text_col].map(_md5_text))
               .sort_values([order_col, role_col, "_h"],
                            na_position="first"))
        rows = []
        for idx, role, text in zip(pdf[order_col], pdf[role_col],
                                   pdf[text_col]):
            role = None if pd.isna(role) else role
            idx = None if pd.isna(idx) else int(idx)
            text = None if pd.isna(text) else text
            if role == cur_role and last_role == prev_role:
                rows.append((conv, idx, role, text, last_role)
                            + ((None, last) if carry == "text"
                               else (last, None)))
            last_role, last = role, (text if carry == "text" else idx)
        return (last_role, last), rows

    return _per_conversation(
        stream_df, conv_col, step,
        f"conv {conv_t}, _i bigint, _role string, _text string, "
        "_prev_role string, _prev_i bigint, _prev_text string",
        _PAIR_STATE_DDL[carry], _close_ms(close_after))


def stream_integrity_stateful(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """CROSS-micro-batch uniqueness + ordering monitor — the custom
    stateful operator the stateless projection cannot express: a duplicate
    turn_idx or a ts regression is flagged even when the offending turn
    arrives BATCHES after the original (``applyInPandasWithState``; state =
    (max_turn, last_ts, rows_seen) per conversation, ~20 bytes/conv in the
    state store).

    Semantics per conversation: the micro-batch's rows are concatenated
    and sorted ONCE in (turn_idx, ts) order (Arrow hands large groups to
    the function as multiple chunks — per-chunk sorting would flag false
    violations whenever a group spans chunks). A turn with ``turn_idx <=
    max_turn`` seen so far is a duplicate/out-of-order violation
    (dataset.uniqueness); a turn whose ts precedes its PREDECESSOR's ts is
    an ordering violation (dataset.ordering) — adjacent-lag semantics,
    exactly matching ``dataset_rules.transcript_integrity_violations``,
    whose batch output is the parity oracle for a single-batch stream
    (null ts neither flags nor serves as a comparison point, as with a
    null lag in the batch window). As in the batch rule, null order values
    sort first and every one is a uniqueness violation; it leaves
    ``max_turn`` alone, but its ts still takes part in the ordering check."""
    conv_t = stream_df.schema[conv_col].dataType.simpleString()
    order_t = stream_df.schema[order_col].dataType.simpleString()
    out_ddl = (f"{conv_col} {conv_t}, {order_col} {order_t}, "
               "rule_id string, code string, message string")
    # state schema tracks the ORDER column's type — a hardcoded int state
    # would overflow state.update for bigint turn_idx beyond 2^31-1 while
    # the batch oracle handles them fine
    state_ddl = f"max_turn {order_t}, last_ts_us long, rows_seen long"

    def step(conv, st, pdf):
        import pandas as pd

        max_turn, last_ts_us, rows_seen = st or (-1, _NO_TS, 0)
        out = []
        pdf = pdf.sort_values([order_col, ts_col], na_position="first")
        for turn, ts in zip(pdf[order_col], pdf[ts_col]):
            is_nat = pd.isna(ts)
            ts_us = _NO_TS if is_nat else int(pd.Timestamp(ts).value // 1000)
            if pd.isna(turn):
                out.append((conv, None, "dataset.uniqueness",
                            "validation.dataset.duplicate_key",
                            f"{order_col} is null"))
            elif turn <= max_turn:
                out.append((conv, turn, "dataset.uniqueness",
                            "validation.dataset.duplicate_key",
                            f"{order_col} {turn} already seen "
                            f"(max {max_turn})"))
            else:
                max_turn = int(turn)
            if (not is_nat and last_ts_us != _NO_TS
                    and ts_us < last_ts_us):
                out.append((conv, turn, "dataset.ordering",
                            "validation.dataset.ordering",
                            f"{ts_col} regressed within {conv}"))
            last_ts_us = ts_us
            rows_seen += 1
        return (max_turn, last_ts_us, rows_seen), out

    return _per_conversation(stream_df, conv_col, step, out_ddl, state_ddl,
                             None)


def stream_transition_violations(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    allowed: Sequence[tuple[str, str]] = (),
    initial: Sequence[str] | None = None,
    terminal: Sequence[str] | None = None,
    close_after: str = "30 minutes",
) -> DataFrame:
    """CROSS-micro-batch state-transition grammar monitor — the streaming
    face of :func:`valar_spark.dataset_rules.illegal_transitions`: each
    conversation's LAST state survives in the state store, so an illegal
    ``(prev, cur)`` pair split across micro-batches (assistant turn in
    batch k, illegal follow-up in batch k+1) is still flagged
    (``applyInPandasWithState``; state = last state + rows_seen, ~ tens of
    bytes per open conversation).

    Semantics per conversation match the batch rule under (order_col)
    ordering, assuming turns ARRIVE in non-decreasing order_col order
    across batches (the stateless integrity monitor is the rule that
    checks that assumption): the batch's rows are concatenated and sorted
    once by order_col, then lag-checked against the grammar, with the
    stored last state seeding the first comparison. First-ever turn per
    conversation checks against ``initial`` when given, else passes. NULL
    states never match the grammar (both the null row and its successor
    flag) — same stance as the batch operator.

    With ``terminal`` the monitor also runs the batch operator's
    boundary check under stream semantics: a stream never KNOWS a turn
    is a conversation's last, so closure is declared by idle timeout — a
    conversation silent for ``close_after`` (processing time) is closed,
    its stored last state checked against ``terminal`` (kind
    ``terminal``, ``order_col`` null — no row carries the violation),
    and its state evicted. The dangling-tool-call detector for live
    pipelines: a session that dies on a tool invocation surfaces one
    timeout later. Eviction also BOUNDS state at ~active conversations
    (without ``terminal`` the store grows with all conversations ever
    seen); a turn arriving after closure re-opens the conversation as
    new — it re-checks ``initial`` and may re-flag, the standard
    stream-sessionization late-arrival caveat."""
    import pandas as pd

    allowed_set = {(None if p is None else str(p),
                    None if c is None else str(c)) for p, c in allowed}
    initial_set = None if initial is None else {
        None if v is None else str(v) for v in initial}
    terminal_set = None if terminal is None else {
        None if v is None else str(v) for v in terminal}
    conv_t = stream_df.schema[conv_col].dataType.simpleString()
    order_t = stream_df.schema[order_col].dataType.simpleString()
    out_ddl = (f"{conv_col} {conv_t}, {order_col} {order_t}, "
               "prev_state string, state string, kind string, "
               "rule_id string, code string")

    def on_close(conv, st):
        last_state, _ = st
        if last_state not in terminal_set:
            return [(conv, None, None, last_state, "terminal",
                     "dataset.illegal_transition",
                     "validation.dataset.illegal_transition")]

    def step(conv, st, pdf):
        last_state, seen = st or (None, 0)
        out = []
        pdf = pdf.sort_values([order_col])
        for turn, cur_raw in zip(pdf[order_col], pdf[state_col]):
            cur = None if pd.isna(cur_raw) else str(cur_raw)
            if seen == 0:
                if initial_set is not None and cur not in initial_set:
                    out.append((conv, turn, None, cur, "initial",
                                "dataset.illegal_transition",
                                "validation.dataset.illegal_transition"))
            elif (last_state, cur) not in allowed_set:
                out.append((conv, turn, last_state, cur, "transition",
                            "dataset.illegal_transition",
                            "validation.dataset.illegal_transition"))
            last_state = cur
            seen += 1
        return (last_state, seen), out

    return _per_conversation(
        stream_df, conv_col, step, out_ddl, "last_state string, seen long",
        None if terminal is None else _close_ms(close_after), on_close)


def stream_orphan_flags(
    stream_df: DataFrame,
    key_col: str,
    bitmap: bytes,
    num_bits: int,
    num_hashes: int = 7,
    seed: int = 1105,
) -> DataFrame:
    """Ingest-time referential-integrity screening — the streaming face
    of :func:`valar_spark.dataset_rules.bloom_orphan_keys`: flag
    incoming rows whose ``key_col`` the parent-key Bloom ``bitmap``
    (built by :func:`valar_spark.dataset_rules.build_key_bloom`,
    typically refreshed by the batch pipeline alongside the LSH band
    table :func:`stream_near_dup_flags` consumes) PROVES absent. Every
    emitted row is a REAL orphan (Bloom filters have no false negatives
    on membership); a false positive only delays detection to the next
    exact batch audit. NULL keys are force-flagged.

    Entirely stateless — a broadcast bitmap read plus a numpy gather
    per Arrow batch, no state store, no watermark, append-mode safe —
    so state never grows with stream volume OR parent cardinality: the
    property a stream-static anti-join lacks (it re-scans the parent
    per micro-batch) and a stateful "seen keys" set can't afford at
    10^8 parent keys. This is the standard shape for "does this
    incoming turn reference a conversation the registry knows" at
    ingest time; route flags to quarantine with the curation sink."""
    from .dataset_rules import bloom_absent_rows

    return bloom_absent_rows(stream_df, key_col, bitmap,
                             num_bits, num_hashes, seed)


def stream_lm_surprise(
    stream_df: DataFrame,
    lm_counts: dict[str, int],
    n_tokens: int,
    vocab_size: int,
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time quality scoring against a FROZEN unigram LM — the
    streaming face of :func:`valar_spark.textops.score_unigram_logprob`:
    append ``(n_tokens, avg_neg_logp, oov_frac)`` to every incoming row,
    scoring its text under the reference model fit by
    :func:`valar_spark.textops.fit_unigram_lm` (pass
    ``dict(lm.collect())`` — bounded by the fit's ``max_vocab``, the
    same bounded-driver-state contract as the Bloom bitmap and the LSH
    band table the other ingest screens broadcast). Unseen terms carry
    the full smoothed surprise ``ln(N+V)``; a stream whose
    ``avg_neg_logp``/``oov_frac`` drifts up is changing register or
    language relative to the reference corpus.

    Entirely stateless — one broadcast dict lookup per Arrow batch
    (vectorized: pandas str split/explode, ``Series.map`` against the
    counts dict, index-grouped sums), no state store, no watermark,
    append-mode safe — so it composes with the curation sink as another
    gate column. Null/blank text scores NULL (the quality gate owns
    emptiness).

    Exact-parity contract with the batch scorer BY CONSTRUCTION: the
    pandas stage emits only raw sums (token count, Σ ln(ct+1), OOV
    count); the final projection applies the SAME ``F.round`` Column
    expressions as :func:`~valar_spark.textops.score_unigram_logprob`,
    so rounding semantics (Spark HALF_UP, never Python banker's) cannot
    diverge — pinned by a batch-equality test."""
    import re

    denom = float(n_tokens + vocab_size)
    inter_schema = T.StructType(
        stream_df.schema.fields
        + [T.StructField("_n", T.DoubleType()),
           T.StructField("_sl", T.DoubleType()),
           T.StructField("_oov", T.DoubleType())])
    # \S under re.ASCII == [^ \t\n\r\f\v]: the Java-whitespace token
    # contract of textops.tokens (WS_CLASS), NBSP etc. stay token chars
    ws = re.compile(r"\S+", re.ASCII)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            toks = pdf[text_col].str.lower().str.findall(ws)
            n = toks.str.len().astype("float64")
            mask = n.notna() & (n > 0)
            sl = pd.Series(0.0, index=pdf.index)
            oov = pd.Series(0.0, index=pdf.index)
            if mask.any():
                ex = toks[mask].explode()
                ct = ex.map(lm_counts)
                lg = np.log(pd.to_numeric(ct, errors="coerce")
                            .fillna(0.0) + 1.0)
                sl.update(lg.groupby(level=0).sum())
                oov.update(ct.isna().astype("float64")
                           .groupby(level=0).sum())
            pdf = pdf.copy()
            pdf["_n"] = n.where(mask)
            pdf["_sl"] = sl.where(mask)
            pdf["_oov"] = oov.where(mask)
            yield pdf

    raw = stream_df.mapInPandas(score, inter_schema)
    return raw.select(
        *stream_df.columns,
        F.col("_n").cast("long").alias("n_tokens"),
        F.round(F.lit(math.log(denom)) - F.col("_sl") / F.col("_n"), 6)
        .alias("avg_neg_logp"),
        F.round(F.col("_oov") / F.col("_n"), 9).alias("oov_frac"))


def stream_tool_echo(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_chars: int = 20,
    close_after: str | None = None,
) -> DataFrame:
    """CROSS-micro-batch tool-output regurgitation monitor — the
    streaming face of :func:`valar_spark.dataset_rules.tool_output_echo`:
    each conversation's LAST turn (role + text) survives in the state
    store, so an assistant turn in batch k+1 that pastes the tool output
    that arrived in batch k is still flagged, which no stateless
    projection can do. Semantics per conversation match the batch
    operator under its content-closed sort ``(order_col NULLS FIRST,
    role, md5(text))``, assuming turns arrive in non-decreasing
    order_col order across batches (the stateless integrity monitor
    checks that assumption).

    State per open conversation = its last role + last TEXT (bounded by
    one turn's size × active conversations — heavier than the grammar
    monitor's single enum, stated honestly); pass ``close_after`` (e.g.
    ``"30 minutes"``) to evict idle conversations after that much
    processing-time silence so the store tracks ACTIVE conversations
    only — with the same caveat as the grammar monitor: while
    processing-time timeouts are armed the engine keeps scheduling
    timeout-sweep batches, so ``processAllAvailable`` never settles and
    callers must poll the sink instead. A turn arriving after eviction
    re-opens the conversation with no previous turn — it can never
    false-flag, only miss an echo across an eviction boundary (the
    standard late-arrival caveat). Default ``None`` = NoTimeout
    (bounded-input jobs and tests).

    Parity with the batch operator holds by construction: the state
    step only pairs turns, and the batch operator's own Columns match
    and round the pairs. Output rows: ``(conv, turn_idx, echo_chars,
    turn_chars, echo_share_pct)``."""
    return D._echo_rows(_turn_pairs(
        stream_df, conv_col, order_col, role_col, text_col,
        ("tool", "assistant"), "text", close_after), min_chars)


def stream_injection_flags(
    stream_df: DataFrame,
    role_col: str = "role",
    text_col: str = "text",
    roles: tuple[str, ...] = ("user", "tool"),
) -> DataFrame:
    """Ingest-time prompt-injection screen — the streaming face of
    :func:`valar_spark.dataset_rules.prompt_injection_census`: flag
    arriving user/tool turns whose text matches any battery class of
    :data:`valar_spark.dataset_rules.INJECTION_PATTERNS`, BEFORE the
    turn lands in the training zone. Stateless (a pure projection +
    filter, no state store, no watermark), so it composes with any
    output mode and any downstream sink; the classification Column is
    :func:`~valar_spark.dataset_rules.injection_label_array` — the SAME
    builder the batch census compiles, so the two paths cannot drift.

    Output = the input rows that fired, plus a ``patterns`` array column
    naming every matched class (multi-label, like the census). Clean
    turns emit nothing, so at realistic hit rates the sink sees ~1000×
    fewer rows than the source."""
    from valar_spark.dataset_rules import injection_label_array

    return (stream_df
            .filter(F.col(role_col).isin(list(roles))
                    & F.col(text_col).isNotNull())
            .withColumn("patterns", injection_label_array(text_col))
            .filter(F.size("patterns") > 0))


def stream_tool_grounding(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    close_after: str | None = None,
) -> DataFrame:
    """CROSS-micro-batch numeric-grounding monitor — the streaming face
    of :func:`valar_spark.dataset_rules.tool_grounding_check`, built on
    the same state design as :func:`stream_tool_echo`: each open
    conversation's last (role, text) survives in the state store, so an
    assistant turn in batch k+1 is still checked against the tool output
    that arrived in batch k. Per-conversation ordering/eviction
    semantics, state bounds, and the ``close_after`` caveats are exactly
    :func:`stream_tool_echo`'s (one turn × active conversations;
    processing-time timeouts keep the engine scheduling sweep batches,
    so poll the sink instead of ``processAllAvailable``).

    Parity with the batch operator holds by construction: the state
    step only pairs turns, and the batch operator's own Columns extract,
    compare and round the numbers. Output rows: ``(conv, turn_idx,
    n_numbers, n_ungrounded, ungrounded_csv, grounded_share_pct)``."""
    return D._grounding_rows(_turn_pairs(
        stream_df, conv_col, order_col, role_col, text_col,
        ("tool", "assistant"), "text", close_after))


def stream_special_token_flags(
    stream_df: DataFrame,
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
) -> DataFrame:
    """Ingest-time serving-artifact screen — the streaming face of
    :func:`valar_spark.dataset_rules.special_token_leakage`, built like
    :func:`stream_injection_flags`: a stateless projection + filter over
    the shared classification Column
    (:func:`~valar_spark.dataset_rules.special_token_label_array`), so
    batch census, row rule and stream cannot drift. Flags assistant
    turns whose text embeds literal stop tokens / ChatML markers /
    template tags / role-prefix wraps BEFORE they land in storage —
    the defect is self-reinforcing (a model emitted it; training on it
    teaches the next model to emit it), so the earlier it's quarantined
    the better. Output = firing input rows plus a ``patterns`` array."""
    from valar_spark.dataset_rules import special_token_label_array

    return (stream_df
            .filter(F.col(role_col).eqNullSafe(role)
                    & F.col(text_col).isNotNull())
            .withColumn("patterns", special_token_label_array(text_col))
            .filter(F.size("patterns") > 0))


def stream_parrot(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_user_tokens: int = 5,
    min_containment: float = 0.8,
    close_after: str | None = None,
) -> DataFrame:
    """CROSS-micro-batch parroting monitor — the streaming face of
    :func:`valar_spark.dataset_rules.parrot_census`, built on the same
    state design as :func:`stream_tool_echo`: each open conversation's
    last (role, text) survives in the state store, so an assistant reply
    in batch k+1 is still checked against the user prompt that arrived
    in batch k. Per-conversation ordering/eviction semantics, state
    bounds, and the ``close_after`` processing-time caveats are exactly
    :func:`stream_tool_echo`'s.

    Parity with the batch operator holds by construction: the state
    step only pairs turns, and the batch operator's own Columns
    tokenize, compare and round the pairs. Output rows: ``(conv,
    turn_idx, user_tokens, overlap_tokens, containment_pct)``."""
    return D._parrot_rows(_turn_pairs(
        stream_df, conv_col, order_col, role_col, text_col,
        ("user", "assistant"), "text", close_after),
        min_user_tokens, min_containment)


def stream_corrections(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    close_after: str | None = None,
) -> DataFrame:
    """CROSS-micro-batch corrected-reply monitor — the streaming face of
    :func:`valar_spark.dataset_rules.correction_pairs`, on the same
    state design as :func:`stream_tool_echo`: each open conversation's
    last (role, turn_idx) survives in the state store, so a user
    correction arriving in batch k+1 still attributes to the assistant
    reply from batch k. At ingest time this is a LIVE model-failure-rate
    signal (corrections/minute per deployment), available before any
    batch job runs. Ordering/eviction semantics and the ``close_after``
    caveats are exactly :func:`stream_tool_echo`'s, but the state holds
    the reply's turn_idx, not its text.

    Parity with the batch operator holds by construction: the state
    step only pairs turns, and the batch operator's own Columns match
    the battery. Output rows: ``(conv, asst_turn_idx, user_turn_idx,
    pattern)``."""
    return D._correction_rows(_turn_pairs(
        stream_df, conv_col, order_col, role_col, text_col,
        ("assistant", "user"), "idx", close_after))


def stream_verbosity(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
    min_turns: int = 3,
    declining_floor: float = -0.5,
    close_after: str | None = None,
) -> DataFrame:
    """CROSS-micro-batch verbosity-trend monitor — the streaming face of
    :func:`valar_spark.dataset_rules.verbosity_trend`, and the engine's
    demonstration that MERGEABLE SUFFICIENT STATISTICS make regression
    streamable: the state per open conversation is the five exact
    integer sums ``(n, Σx, Σy, Σxy, Σx²)``, which merge associatively
    across micro-batches, so the slope after batch k+1 is EXACTLY the
    batch operator's slope over all turns seen so far — no
    approximation, no window buffer, state = 5 BIGINTs per open
    conversation.

    Emits one row per conversation per micro-batch that brought it a
    ``role`` turn, carrying the updated cumulative trend (append mode —
    a snapshot stream; the LAST row per conversation equals the batch
    result). Eviction semantics per ``close_after`` are
    :func:`stream_tool_echo`'s.

    Parity with the batch operator holds by construction: the turn
    index and token count are the batch operator's own Columns, the
    state step only adds up the five sums, and the batch operator's own
    Columns take the slope from them. Columns: ``(conv, n_turns, slope,
    declining)``."""
    points = D._verbosity_points(stream_df, conv_col, order_col, role_col,
                                 text_col, role)
    conv_t = points.schema["conv"].dataType.simpleString()

    def step(conv, st, pdf):
        # Python ints, never int64 arrays: a sum past BIGINT fails the
        # state update instead of wrapping
        xs, ys = pdf["_x"].tolist(), pdf["_y"].tolist()
        sums = tuple(a + b for a, b in zip(st or (0, 0, 0, 0, 0), (
            len(xs), sum(xs), sum(ys), sum(x * y for x, y in zip(xs, ys)),
            sum(x * x for x in xs))))
        return sums, [(conv, *sums)]

    sums = _per_conversation(
        points, "conv", step,
        f"conv {conv_t}, _n bigint, _sx bigint, _sy bigint, _sxy bigint, "
        "_sxx bigint",
        "n bigint, sx bigint, sy bigint, sxy bigint, sxx bigint",
        _close_ms(close_after))
    return D._verbosity_slope(sums, min_turns, declining_floor)
