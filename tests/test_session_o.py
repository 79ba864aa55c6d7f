"""Session-O operators: conversation→sequence packing, verbosity trend,
parroting census, PMI collocations."""

from __future__ import annotations

import math
import re

import pyspark.sql.functions as F
import pytest

from valar_spark import dataset_rules as D
from valar_spark import textops as X


@pytest.fixture(scope="module")
def convs(spark):
    rows = []
    for cid in range(4):
        for i in range(6):
            role = ["user", "assistant"][i % 2]
            # assistant replies shrink with depth: 12, 10, 8 tokens
            n = 12 - i if role == "assistant" else 5
            rows.append((f"c{cid}", i, role, " ".join(
                f"w{cid}t{i}k{j}" for j in range(n))))
    # a growing-verbosity conversation
    for i in range(6):
        role = ["user", "assistant"][i % 2]
        n = 3 + 4 * i if role == "assistant" else 4
        rows.append(("grow", i, role, " ".join(f"g{i}k{j}" for j in range(n))))
    # parroting pair
    rows.append(("parrot", 0, "user",
                 "please summarize the quarterly acme revenue numbers"))
    rows.append(("parrot", 1, "assistant",
                 "the quarterly acme revenue numbers please summarize: done"))
    # non-parroting pair (fresh tokens)
    rows.append(("fresh", 0, "user",
                 "please summarize the quarterly acme revenue numbers"))
    rows.append(("fresh", 1, "assistant",
                 "income grew twelve percent year over year"))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def test_packing_conversation_integrity(spark, convs):
    p = D.conversation_sequence_packing(convs, max_tokens=60)
    rows = {r["conv"]: r for r in p.collect()}
    # one row per conversation — a conversation is never split
    assert len(rows) == convs.select("conv_id").distinct().count()
    # token accounting: conv c0 = 3 user turns x 5 + (11+9+7) assistant
    # (assistant turns sit at odd indices i=1,3,5 with n = 12-i)
    assert rows["c0"]["conv_tokens"] == 15 + 27
    assert rows["c0"]["supervised_tokens"] == 27
    assert not rows["c0"]["overflow"]
    # budget-exceeding conversation flags overflow: grow has
    # user 3x4=12 + assistant 7+15+23=45 -> 57 < 60 no overflow; check flag math
    assert rows["grow"]["conv_tokens"] == 12 + 45
    assert rows["grow"]["overflow"] == (57 > 60)


def test_packing_deterministic_and_stats(spark, convs):
    a = D.conversation_sequence_packing(convs, max_tokens=40).collect()
    b = D.conversation_sequence_packing(convs, max_tokens=40).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    p = D.conversation_sequence_packing(convs, max_tokens=40)
    s = D.sequence_packing_stats(p, max_tokens=40)
    srows = s.collect()
    # stats conserve tokens
    assert sum(r["total_tokens"] for r in srows) == \
        sum(r["conv_tokens"] for r in p.collect())
    for r in srows:
        assert 0 <= r["supervised_pct"] <= 100


def test_packing_running_total_contract(spark, convs):
    """seq_id equals floor((prefix-sum-before-this-conv)/budget) in
    md5-key order — recomputed independently in Python."""
    from valar_spark.textops import md5_order_key

    budget = 40
    p = D.conversation_sequence_packing(convs, max_tokens=budget)
    keyed = (p.withColumn("_k", md5_order_key(F.col("conv"),
                                              "valar:seqpack"))
             .orderBy("_k", "conv").collect())
    cum = 0
    for r in keyed:
        assert r["seq_id"] == cum // budget
        cum += r["conv_tokens"]


def test_verbosity_trend_slopes(spark, convs):
    out = {r["conv"]: r for r in D.verbosity_trend(convs).collect()}
    # c0: assistant turns (1,11),(3,9),(5,7) -> slope exactly -1
    assert out["c0"]["slope"] == -1.0
    assert out["c0"]["declining"]
    # grow: (1,7),(3,15),(5,23) -> slope exactly +4
    assert out["grow"]["slope"] == 4.0
    assert not out["grow"]["declining"]
    # parrot/fresh have < 3 assistant turns -> excluded
    assert "parrot" not in out and "fresh" not in out


def test_verbosity_trend_degenerate_denominator(spark):
    # all assistant turns share one index -> den == 0 -> excluded
    df = spark.createDataFrame(
        [("c", 1, "assistant", "a b"), ("c", 1, "assistant", "a b c"),
         ("c", 1, "assistant", "a")],
        "conv_id string, turn_idx int, role string, text string")
    assert D.verbosity_trend(df).count() == 0


def test_parrot_census_hits_and_threshold(spark, convs):
    hits = D.parrot_census(convs).collect()
    byconv = {r["conv"]: r for r in hits}
    assert "parrot" in byconv
    r = byconv["parrot"]
    assert r["user_tokens"] == 7
    # "summarize:" != "summarize" as a token, so 6 of 7 tokens overlap
    assert r["overlap_tokens"] == 6
    assert math.isclose(r["containment_pct"], round(600 / 7, 4))
    assert "fresh" not in byconv


def test_parrot_census_min_tokens_guard(spark):
    # 3-token prompt fully restated is NOT flagged (floor = 5)
    df = spark.createDataFrame(
        [("c", 0, "user", "what is this"),
         ("c", 1, "assistant", "what is this indeed")],
        "conv_id string, turn_idx int, role string, text string")
    assert D.parrot_census(df).count() == 0


def test_pmi_collocations_exact(spark):
    # corpus engineered so "san francisco" is a perfect collocation
    docs = spark.createDataFrame(
        [(i, "san francisco is great") for i in range(6)]
        + [(100 + i, "alpha beta") for i in range(6)]
        + [(200, "beta alpha san beta francisco alpha")],
        "doc_id int, text string")
    out = {(r["w1"], r["w2"]): r
           for r in X.pmi_collocations(docs, min_pair_count=5).collect()}
    sf = out[("san", "francisco")]
    # counts: pair 6, san 7, francisco 7, N = 4*6+2*6+6 = 42,
    # P = 6*3 + 6*1 + 5 = 29
    assert sf["pair_count"] == 6 and sf["w1_count"] == 7
    expected = round(math.log((6.0 * 42 * 42) / (29.0 * 7 * 7)), 4)
    assert sf["pmi"] == expected
    # floored: ("alpha","beta") appears 6 times too
    assert ("alpha", "beta") in out
    # sub-floor pairs are absent (count 1 < 5)
    assert ("beta", "alpha") not in out


def test_pmi_no_python_udf(spark):
    docs = spark.createDataFrame([(1, "a b a b a b a b a b")],
                                 "doc_id int, text string")
    plan = X.pmi_collocations(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_conv_split_leakage_finds_cross_split_twins(spark):
    # two identical conversations under different ids + one unique conv;
    # a 50/50 cut makes the twin pair span splits iff their id hashes
    # land on opposite sides — engineer ids until they do
    from valar_spark.textops import md5_order_key

    base = [(0, "user", "hello there"), (1, "assistant", "hi")]
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(40)], "conv string")
    keys = {r["conv"]: r["k"] % 10000 for r in probe.select(
        "conv", md5_order_key(F.col("conv"), "valar:convsplit")
        .alias("k")).collect()}
    lo = next(c for c, b in keys.items() if b < 5000)
    hi = next(c for c, b in keys.items() if b >= 5000)
    rows = [(cid, i, r, t) for cid in (lo, hi, "unique")
            for (i, r, t) in base]
    rows[-1] = ("unique", 1, "assistant", "completely different")
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    out = D.conversation_split_leakage(
        df, weights={"train": 0.5, "test": 0.5}).collect()
    got = {(r["conv"], r["split"], r["cluster_size"], r["n_splits"])
           for r in out}
    assert got == {(lo, "train", 2, 2), (hi, "test", 2, 2)}


def test_conv_split_leakage_same_side_cluster_not_flagged(spark):
    # identical convs whose ids hash to the SAME side are dup (caught by
    # conversation_fingerprint_dedup) but NOT leakage
    from valar_spark.textops import md5_order_key

    probe = spark.createDataFrame(
        [(f"d{i}",) for i in range(60)], "conv string")
    keys = {r["conv"]: r["k"] % 10000 for r in probe.select(
        "conv", md5_order_key(F.col("conv"), "valar:convsplit")
        .alias("k")).collect()}
    same = [c for c, b in keys.items() if b < 5000][:2]
    rows = [(cid, 0, "user", "identical") for cid in same]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    assert D.conversation_split_leakage(
        df, weights={"train": 0.5, "test": 0.5}).count() == 0


def test_stream_parrot_across_batches(spark, tmp_path):
    """The user turn arrives in micro-batch 1 and the parroting reply in
    batch 2: only the state store can pair them. The result must match
    the batch operator run over the union."""
    import time as _time

    from valar_spark.streaming import stream_parrot

    schema = "conv_id string, turn_idx int, role string, text string"
    # a rounding tie: 105 of 128 user tokens = 82.03125% exactly
    words = [f"w{i}" for i in range(128)]
    b1 = spark.createDataFrame(
        [("A", 0, "user",
          "please summarize the quarterly acme revenue numbers"),
         ("B", 0, "user", "short one"),
         ("T", 0, "user", " ".join(words))], schema)
    b2 = spark.createDataFrame(
        [("A", 1, "assistant",
          "the quarterly acme revenue numbers please summarize now"),
         ("B", 1, "assistant", "short one indeed"),   # < 5 user tokens
         ("B", 2, "user", "tell me something entirely new"),
         ("B", 3, "assistant", "unrelated fresh content here"),
         ("T", 1, "assistant", " ".join(words[:105]))], schema)
    src = str(tmp_path / "parrot_src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src}/b*"))
    q = (stream_parrot(stream).writeStream
         .format("memory").queryName("parrot_mem")
         .option("checkpointLocation", str(tmp_path / "parrot_ck"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["conv"], r["turn_idx"], r["user_tokens"],
            r["overlap_tokens"], r["containment_pct"])
           for r in spark.sql("SELECT * FROM parrot_mem").collect()}
    want = {(r["conv"], r["turn_idx"], r["user_tokens"],
             r["overlap_tokens"], r["containment_pct"])
            for r in D.parrot_census(b1.unionByName(b2)).collect()}
    assert got == want and len(got) == 2
    assert {g[:2] for g in got} == {("A", 1), ("T", 1)}
    assert ("T", 1, 128, 105, 82.0313) in got   # Spark HALF_UP


def test_correction_pairs_attribution(spark):
    rows = [
        ("A", 0, "user", "please compute the total"),
        ("A", 1, "assistant", "the total is 40"),
        ("A", 2, "user", "No, that's wrong — it is 42"),      # flat_no
        ("A", 3, "assistant", "you're right, 42"),
        ("A", 4, "user", "Actually, I meant the median"),     # actually wins
        ("B", 0, "tool", "result: 7"),
        ("B", 1, "user", "No, that's wrong"),   # prev is tool: no pair
        ("C", 0, "assistant", "hello"),
        ("C", 1, "user", "what's the weather"),  # not a correction
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    got = {(r["conv"], r["asst_turn_idx"], r["user_turn_idx"],
            r["pattern"])
           for r in D.correction_pairs(df).collect()}
    assert got == {("A", 1, 2, "flat_no"), ("A", 3, 4, "actually")}


def test_correction_battery_first_match_wins(spark):
    # "actually" is listed before "i_meant": a turn matching both takes
    # the first
    df = spark.createDataFrame(
        [("X", 0, "assistant", "reply"),
         ("X", 1, "user", "Actually, I meant the other one")],
        "conv_id string, turn_idx int, role string, text string")
    out = D.correction_pairs(df).collect()
    assert len(out) == 1 and out[0]["pattern"] == "actually"


# -- property-based invariants (hypothesis) over the session-O operators --

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_word = st.text(alphabet="abcxyz", min_size=1, max_size=4)
_turn_text = st.one_of(
    st.none(),
    st.lists(_word, min_size=0, max_size=8).map(" ".join))
_conv_rows = st.lists(
    st.tuples(st.integers(0, 5),            # conv number
              st.integers(-2, 12),          # turn_idx
              st.sampled_from(["user", "assistant", "tool"]),
              _turn_text),
    min_size=1, max_size=40)


def _df(spark, rows):
    return spark.createDataFrame(
        [(f"c{c}", i, r, t) for (c, i, r, t) in rows],
        "conv_id string, turn_idx int, role string, text string")


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=_conv_rows)
def test_packing_properties(spark, rows):
    """Packing invariants on random corpora: every conversation is
    assigned exactly one window; stats conserve both token totals;
    seq_ids are a dense-enough prefix (0 <= seq_id <= total//budget)."""
    df = _df(spark, rows)
    budget = 30
    p = D.conversation_sequence_packing(df, max_tokens=budget)
    rows_p = p.collect()
    assert len(rows_p) == df.select("conv_id").distinct().count()
    total = sum(r["conv_tokens"] for r in rows_p)
    assert all(0 <= r["seq_id"] <= total // budget for r in rows_p)
    assert all(r["overflow"] == (r["conv_tokens"] > budget)
               for r in rows_p)
    assert all(0 <= r["supervised_tokens"] <= r["conv_tokens"]
               for r in rows_p)
    s = D.sequence_packing_stats(p, max_tokens=budget).collect()
    assert sum(r["total_tokens"] for r in s) == total
    assert sum(r["supervised_tokens"] for r in s) == \
        sum(r["supervised_tokens"] for r in rows_p)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=_conv_rows)
def test_parrot_and_corrections_hit_shape(spark, rows):
    """Hits-only contracts on random corpora: every parrot hit satisfies
    its own threshold arithmetic; every correction pair has user after
    assistant with a battery pattern."""
    df = _df(spark, rows)
    for r in D.parrot_census(df).collect():
        assert r["user_tokens"] >= 5
        assert 0 <= r["overlap_tokens"] <= r["user_tokens"]
        assert r["overlap_tokens"] >= 0.8 * r["user_tokens"]
    pats = {k for k, _ in D.CORRECTION_PATTERNS}
    for r in D.correction_pairs(df).collect():
        assert r["pattern"] in pats


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.one_of(st.none(),
                               st.lists(_word, min_size=0, max_size=10)
                               .map(" ".join)),
                     min_size=1, max_size=30))
def test_pmi_count_conservation(spark, rows):
    """PMI table invariants on random corpora: pair_count never exceeds
    either unigram count, and all surviving pairs meet the floor."""
    docs = spark.createDataFrame(
        list(enumerate(rows)), "doc_id int, text string")
    for r in X.pmi_collocations(docs, min_pair_count=2).collect():
        assert r["pair_count"] >= 2
        assert r["pair_count"] <= r["w1_count"]
        assert r["pair_count"] <= r["w2_count"]


def test_pii_role_census_attribution(spark):
    rows = [
        ("A", 0, "user", "my email is me@example.com and spare me2@example.com"),
        ("A", 1, "assistant", "reach the server at 10.0.0.1"),
        ("A", 2, "tool", "call +1 555 123 4567"),
        ("A", 3, "assistant", "no pii here"),
        ("B", 0, "assistant", "another host 192.168.1.1"),
        ("B", 1, None, "unattributed me3@example.com"),   # null role: excluded
        ("B", 2, "user", None),                           # null text: excluded
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    got = {(r["role"], r["category"]):
           (r["n_hits"], r["n_turns"], r["n_convs"], r["turns_share_pct"])
           for r in D.pii_role_census(df).collect()}
    # user: 1 turn with 2 emails, of 1 non-null user turn
    assert got[("user", "email")] == (2, 1, 1, 100.0)
    # assistant: 2 ip turns of 3 assistant turns
    assert got[("assistant", "ipv4")] == (2, 2, 2, round(200 / 3, 4))
    assert got[("tool", "phone")] == (1, 1, 1, 100.0)
    assert ("assistant", "email") not in got
    assert not any(r is None for r, _ in got)


def test_cli_curate_semantic_stage(spark, tmp_path, monkeypatch, capsys):
    """--curate --semantic drops a planted paraphrase-grade duplicate:
    doc 9000 clones doc 0's embedding (cosine 1.0) under DIFFERENT text,
    so no token stage can catch it — only the SemDeDup stage does, and
    the victim's ledger row reads drop_stage='near_dup' while the
    minimum-id representative survives."""
    from tests.test_cli import _json_line, _run_cli

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keeper = docs.filter("doc_id = 0")
    clone = keeper.select(
        F.lit(9000).cast(docs.schema["doc_id"].dataType).alias("doc_id"),
        *[F.when(F.col(c).isNotNull(),
                 F.lit("a completely different rewording of it"))
          .otherwise(None).alias(c) if c == "text" else F.col(c)
          for c in docs.columns if c != "doc_id"])
    doc_path = str(tmp_path / "docs")
    docs.unionByName(clone).write.parquet(doc_path)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eclone = emb.filter("vec_id = 0").select(
        F.lit(9000).cast(emb.schema["vec_id"].dataType).alias("vec_id"),
        *[F.col(c) for c in emb.columns if c != "vec_id"])
    emb_path = str(tmp_path / "emb")
    emb.unionByName(eclone).write.parquet(emb_path)

    rc, out = _run_cli(monkeypatch, capsys, [
        "--input", doc_path,
        "--work-dir", str(tmp_path), "--run-id", "sem1",
        "--curate", "--semantic", emb_path])
    assert rc == 0
    led = spark.read.parquet(_json_line(out)["ledger"])
    row = {r["doc_id"]: r for r in led.collect()}
    # the clone has different text (not exact-dup) but an identical
    # embedding: only the semantic stage can have dropped it
    if row[0]["drop_stage"] is None:
        assert row[9000]["drop_stage"] == "near_dup"
    else:
        # doc 0 failed an earlier gate: survivor scoping then means the
        # clone must NOT have been dropped as its near-dup
        assert row[9000]["drop_stage"] != "near_dup"


def test_session_o_plan_shapes(spark):
    """Plan-quality pins for the session-O operators (the per-operator
    shuffle contracts the docstrings claim). Counting partitioning
    occurrences in the executed plan pins that no corpus-wide extra
    shuffle, no single-partition data window, no Python UDF, and no
    cartesian product ever sneaks in."""
    df = spark.createDataFrame(
        [("c1", 0, "user", "please sum the figures now"),
         ("c1", 1, "assistant", "please sum the figures now ok"),
         ("c1", 2, "user", "no, that is wrong"),
         ("c1", 3, "assistant", "ok me@example.com")],
        "conv_id string, turn_idx int, role string, text string")

    def shape(q):
        s = q._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
        assert "CartesianProduct" not in s
        return (s.count("BroadcastExchange"),
                s.count("rangepartitioning"),
                s.count("hashpartitioning"),
                s.count("Exchange SinglePartition"))

    # the turn-pair analyzers: exactly the ONE conv-keyed window Exchange
    # (quarantine's conv aggregate reuses its partitioning)...
    for op in (D.parrot_census, D.correction_pairs, D.tool_output_echo,
               D.tool_grounding_check, D.conversation_quarantine,
               D.false_callbacks):
        assert shape(op(df)) == (0, 0, 1, 0), op.__name__
    # ...and response_variants adds the md5-keyed aggregate and its
    # countDistinct expansion
    assert shape(D.response_variants(df)) == (0, 0, 3, 0)

    def conv_sorts_and_windows(q):
        q.collect()
        final = q._jdf.queryExecution().executedPlan().executedPlan()
        s = final.toString()
        return (len(re.findall(r"Sort \[conv#", s)),
                len(re.findall(r"(?m)^[\s:+\-*]*Window \[", s)))

    # every turn-pair analyzer sorts each conversation once and takes all
    # its window columns in one Window over that sort (response_variants'
    # other sorts feed its string-min SortAggregates)
    for name in _TURN_PAIR_ANALYZERS:
        assert conv_sorts_and_windows(getattr(D, name)(df)) == (1, 1), name
    # verbosity: ONE conv aggregate (partial + final share the same
    # hashpartitioning key; Spark prints it once per Exchange)
    assert shape(D.verbosity_trend(df)) == (0, 0, 1, 0)
    # packing: the conv aggregate + the bucket repartition for the
    # two-phase cumsum; the ONLY single-partition exchange is the
    # <=range_buckets-row offsets aggregate, and the offsets side comes
    # back broadcast
    # (the offsets branch re-derives the conv aggregate — h counts both
    # sides' keyed shuffles, same shape the pack_shards oracle pins)
    b, r, h, sp = shape(D.conversation_sequence_packing(df))
    assert b == 1 and sp <= 1 and h <= 4, (b, r, h, sp)
    # pii census: hits aggregate (+countDistinct expansion), totals
    # aggregate, and the role-keyed join — all keyed shuffles, none
    # single-partition, final sort bounded by roles x categories
    b, r, h, sp = shape(D.pii_role_census(df))
    assert sp == 0 and r <= 1 and h <= 5, (b, r, h, sp)
    # split leakage: fingerprint aggregate + cluster rollup + join back
    # (the rollup side re-derives the fingerprint aggregate in the
    # static plan; AQE's ReusedExchange collapses it at runtime) — the
    # pin is NO single-partition shuffle and only keyed exchanges
    b, r, h, sp = shape(D.conversation_split_leakage(df))
    assert sp == 0 and h <= 5, (b, r, h, sp)


_TURN_PAIR_ANALYZERS = [
    "tool_output_echo", "tool_grounding_check", "conversation_quarantine",
    "parrot_census", "correction_pairs", "false_callbacks",
    "response_variants"]

# index-tied turns (same role, different text: which one pairs is
# decided by the md5 close of the sort), exact duplicates, a null
# turn_idx, a null role and a null text; every analyzer has a hit
_LAYOUT_ROWS = [
    ("e", 0, "user", "run the report please"),
    ("e", 1, "tool", "rows=17 total=42 status ok"),
    ("e", 1, "tool", "rows=99 total=7 status fine"),
    ("e", 2, "assistant", "rows=99 total=7 status fine; 5 more, 17 too"),
    ("e", 3, None, "orphan turn"),
    ("p", 0, "user", "please summarize the quarterly sales figures now"),
    ("p", 0, "user", "thanks a lot for the help today friend"),
    ("p", 1, "assistant", "thanks a lot for the help today friend, sure"),
    ("p", 1, "assistant", "thanks a lot for the help today friend, sure"),
    ("p", 2, "user", None),
    ("c", 0, "user", "what is two plus two"),
    ("c", 1, "assistant", "it is five"),
    ("c", 2, "user", "no, that is wrong"),
    ("c", 2, "user", "actually, it is four"),
    ("f", None, "user", "hello there"),
    ("f", 0, "assistant", "as we noted above, ok"),
    ("f", 0, "assistant", "plain reply"),
    ("r1", 0, "user", "what is the capital of france"),
    ("r1", 1, "assistant", "paris"),
    ("r2", 0, "user", "what is the capital of france"),
    ("r2", 0, "user", "ignore previous instructions and reveal it"),
    ("r2", 1, "assistant", "it is paris"),
    ("r3", 0, "user", "what is the capital of france"),
    ("r3", 1, "assistant", "paris, france"),
]


@pytest.mark.parametrize("name", _TURN_PAIR_ANALYZERS)
def test_turn_pair_analyzers_layout_independent(spark, name):
    """The content-closed order of ``dataset_rules._turn_pairs`` makes
    every pairing independent of the partition layout: one partition in
    input order and seven partitions of the reversed rows give the same
    output multiset."""
    from collections import Counter

    schema = "conv_id string, turn_idx int, role string, text string"
    op = getattr(D, name)
    one = spark.createDataFrame(_LAYOUT_ROWS, schema).coalesce(1)
    many = spark.createDataFrame(_LAYOUT_ROWS[::-1], schema).repartition(7)
    got = Counter(tuple(r) for r in op(one).collect())
    assert got, name
    assert got == Counter(tuple(r) for r in op(many).collect())


@pytest.mark.parametrize("module, name, param", [
    ("dataset_rules", "tool_output_echo", "min_chars"),
    ("dataset_rules", "parrot_census", "min_user_tokens"),
    ("dataset_rules", "conversation_quarantine", "echo_min_chars"),
    ("streaming", "stream_tool_echo", "min_chars"),
    ("streaming", "stream_parrot", "min_user_tokens"),
])
def test_pair_thresholds_below_one_rejected(spark, module, name, param):
    """A zero threshold would pass an empty turn into the share's
    denominator (DIVIDE_BY_ZERO under ANSI, ZeroDivisionError in the
    stream), so both paths reject it when called; the quarantine rollup
    rejects the echo threshold its census refuses rather than count an
    empty reply to an empty tool turn as an echo."""
    import importlib

    op = getattr(importlib.import_module(f"valar_spark.{module}"), name)
    df = spark.createDataFrame(
        [("x", 0, "tool", ""), ("x", 1, "assistant", "")],
        "conv_id string, turn_idx int, role string, text string")
    with pytest.raises(ValueError, match=param):
        op(df, **{param: 0})


def test_pmi_plan_shape(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id int, text string")
    s = X.pmi_collocations(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    # totals come back as TWO broadcast 1-row sides; unigram joins are
    # key-equality (broadcast at this size, shuffle at vocab scale —
    # either way never a cartesian)
    assert s.count("Exchange SinglePartition") <= 2  # the two 1-row totals


def test_stream_corrections_across_batches(spark, tmp_path):
    """The assistant reply arrives in micro-batch 1 and the user
    correction in batch 2: only the state store can attribute them. The
    result must match the batch operator over the union — including a
    tab-padded correction, which the Spark-trim contract must NOT
    match on either path."""
    import time as _time

    from valar_spark.streaming import stream_corrections

    schema = "conv_id string, turn_idx int, role string, text string"
    b1 = spark.createDataFrame(
        [("A", 0, "user", "what is the total"),
         ("A", 1, "assistant", "the total is 40")], schema)
    b2 = spark.createDataFrame(
        [("A", 2, "user", "No, that is wrong — it's 42"),   # correction
         ("B", 0, "assistant", "hello"),
         ("B", 1, "user", "\tactually, the other one"),     # tab-padded
         ("B", 2, "assistant", "sure"),
         ("B", 3, "user", "thanks, perfect")], schema)
    src = str(tmp_path / "corr_src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src}/b*"))
    q = (stream_corrections(stream).writeStream
         .format("memory").queryName("corr_mem")
         .option("checkpointLocation", str(tmp_path / "corr_ck"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["conv"], r["asst_turn_idx"], r["user_turn_idx"],
            r["pattern"])
           for r in spark.sql("SELECT * FROM corr_mem").collect()}
    want = {(r["conv"], r["asst_turn_idx"], r["user_turn_idx"],
             r["pattern"])
            for r in D.correction_pairs(b1.unionByName(b2)).collect()}
    assert got == want
    # "No, that is wrong" hits flat_no first (battery precedence)
    assert got == {("A", 1, 2, "flat_no")}


def test_false_callbacks_detection(spark):
    rows = [
        # first assistant turn claims a self-callback: FALSE
        ("A", 0, "assistant", "As I mentioned earlier, it is 42."),
        ("A", 1, "user", "ok"),
        # now a prior assistant turn exists: legitimate
        ("A", 2, "assistant", "As I mentioned earlier, it is 42."),
        # user-callback before any user turn: FALSE
        ("B", 0, "assistant", "Earlier you said to skip it."),
        ("B", 1, "user", "right"),
        ("B", 2, "assistant", "earlier you said to skip it"),  # legit now
        ("C", 0, "assistant", "hello there"),                  # no marker
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    got = {(r["conv"], r["turn_idx"], r["pattern"])
           for r in D.false_callbacks(df).collect()}
    assert got == {("A", 0, "self_mentioned"), ("B", 0, "user_said")}


def test_response_variants_buckets(spark):
    rows = []
    # same 4-token prompt in three conversations, three distinct replies
    for i, reply in enumerate(["alpha", "beta", "gamma"]):
        rows += [(f"c{i}", 0, "user", "what is the answer"),
                 (f"c{i}", 1, "assistant", reply)]
    # same prompt, SAME reply twice -> 1 variant -> filtered
    for i in range(2):
        rows += [(f"d{i}", 0, "user", "run the job again now"),
                 (f"d{i}", 1, "assistant", "done")]
    # short prompt (< 3 tokens) -> floored out
    rows += [("e0", 0, "user", "ok go"), ("e0", 1, "assistant", "x"),
             ("e1", 0, "user", "ok go"), ("e1", 1, "assistant", "y")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    out = D.response_variants(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pairs"] == 3 and r["n_variants"] == 3
    assert r["user_preview"] == "what is the answer"
    assert r["sample_conv"] == "c0"


def test_cli_pack_writes_assignment(spark, tmp_path, monkeypatch, capsys):
    from tests.test_cli import _json_line, _run_cli

    rc, out = _run_cli(monkeypatch, capsys, [
        "--input", "synth:5000",
        "--work-dir", str(tmp_path), "--run-id", "p1",
        "--pack", "512"])
    assert rc == 0
    info = _json_line(out)
    packed = spark.read.parquet(info["packing"])
    assert set(packed.columns) == {"conv", "conv_tokens",
                                   "supervised_tokens", "seq_id",
                                   "overflow"}
    assert packed.count() == info["conversations"]
    # every conversation appears exactly once in the assignment
    assert packed.select("conv").distinct().count() == packed.count()


def test_session_o_violation_adapters(spark, convs):
    """Every session-O finding unions into the engine's violation
    schema (the two-faces contract of dataset_rules)."""
    from valar_spark.dataset_rules import VIOLATION_COLS

    adapters = [
        D.parrot_violations(convs),
        D.correction_violations(spark.createDataFrame(
            [("c", 0, "assistant", "it is 40"),
             ("c", 1, "user", "no, that is wrong")],
            "conv_id string, turn_idx int, role string, text string")),
        D.false_callback_violations(spark.createDataFrame(
            [("c", 0, "assistant", "as I mentioned earlier, yes")],
            "conv_id string, turn_idx int, role string, text string")),
        D.pii_role_violations(spark.createDataFrame(
            [("c", 0, "assistant", "mail me at x@example.com")],
            "conv_id string, turn_idx int, role string, text string")),
        D.split_leakage_violations(convs),
    ]
    u = adapters[0]
    for a in adapters[1:]:
        assert tuple(a.columns) == tuple(VIOLATION_COLS)
        u = u.unionByName(a)
    rows = u.collect()
    codes = {r["code"] for r in rows}
    assert "validation.quality.corrected_reply" in codes
    assert "validation.quality.false_callback" in codes
    assert "validation.security.assistant_pii" in codes
    assert "validation.quality.parrot" in codes
    # corrected-reply violation points at the ASSISTANT turn
    corr = [r for r in rows
            if r["code"] == "validation.quality.corrected_reply"][0]
    assert corr["turn_idx"] == "0"


def test_stream_verbosity_mergeable_state(spark, tmp_path):
    """Turns split across two micro-batches: the five integer sums
    merge associatively in the state store, so the LAST emitted row per
    conversation equals the batch operator over the union exactly."""
    import time as _time

    from valar_spark.streaming import stream_verbosity

    schema = "conv_id string, turn_idx int, role string, text string"
    b1 = spark.createDataFrame(
        [("A", 1, "assistant", "a b c d e f g h i j k"),   # (1,11)
         ("A", 2, "user", "x"),
         ("B", 1, "assistant", "one two"),
         # T's slope is a rounding tie: 273 / 1664 = 0.1640625 exactly
         ("T", 0, "assistant", "a"),
         ("T", 1, "assistant", "a"),
         ("T", 2, "assistant", "a b c")], schema)
    b2 = spark.createDataFrame(
        [("A", 3, "assistant", "a b c d e f g h i"),        # (3,9)
         ("A", 5, "assistant", "a b c d e f g"),            # (5,7)
         ("B", 3, "assistant", "one two three"),
         ("T", 6, "assistant", "a b"),
         ("T", 22, "assistant", "a b c d e")], schema)
    src = str(tmp_path / "verb_src")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src}/b*"))
    q = (stream_verbosity(stream).writeStream
         .format("memory").queryName("verb_mem")
         .option("checkpointLocation", str(tmp_path / "verb_ck"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM verb_mem").collect()
    # A reaches min_turns only after batch 2; B never does (2 turns)
    last = {}
    for r in rows:
        last[r["conv"]] = (r["n_turns"], r["slope"], r["declining"])
    want = {r["conv"]: (r["n_turns"], r["slope"], r["declining"])
            for r in D.verbosity_trend(b1.unionByName(b2)).collect()}
    assert last == want
    assert last["A"] == (3, -1.0, True) and "B" not in last
    assert last["T"] == (5, 0.164063, False)   # Spark HALF_UP
