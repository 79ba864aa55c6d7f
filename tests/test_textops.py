"""Text-pipeline operators: dedup (exact/minhash/simhash), quality,
language-ID, fingerprints — over the driver's documents table plus planted
near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from valar_spark import textops as X

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents ∪ near-duplicates: +100000 ids are exact copies,
    +200000 ids have one token appended (near-dup, jaccard ≳ 0.9)."""
    exact = docs.select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text",
        "lang", "source", "n_chars").filter(F.col("doc_id") % 2 == 0)
    near = docs.select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars").filter(F.col("doc_id") % 2 == 1)
    return docs.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(spark, docs_with_dups):
    groups = X.exact_duplicate_groups(docs_with_dups)
    n_docs = docs_with_dups.count()
    n_exact_copies = docs_with_dups.filter(
        (F.col("doc_id") >= 100_000) & (F.col("doc_id") < 200_000)).count()
    assert groups.count() == n_exact_copies  # each copy forms one 2-group
    assert groups.agg(F.max("n_docs")).first()[0] == 2
    kept = X.dedup_exact(docs_with_dups)
    assert kept.count() == n_docs - n_exact_copies
    # lowest id survives
    assert kept.filter(F.col("doc_id") >= 100_000).filter(
        F.col("doc_id") < 200_000).count() == 0


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    cand = X.minhash_candidates(docs_with_dups, num_hashes=64, bands=16)
    pairs = X.jaccard_pairs(docs_with_dups, threshold=0.8, candidates=cand)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every planted pair (exact copies jaccard=1, near-dups jaccard≈0.9+)
    exact_expected = {
        (r["doc_id"], r["doc_id"] + 100_000)
        for r in docs_with_dups.filter(
            (F.col("doc_id") < 100_000) & (F.col("doc_id") % 2 == 0)
        ).select("doc_id").collect()
    }
    found_exact = sum(1 for p in exact_expected if p in got)
    assert found_exact / max(len(exact_expected), 1) >= 0.95, (
        f"LSH recall on exact copies {found_exact}/{len(exact_expected)}")
    # near-dups: jaccard just below 1; bands=16,r=4 → P(cand) ~ 1 at j≥0.9
    near_ids = [r["doc_id"] for r in docs_with_dups.filter(
        (F.col("doc_id") < 100_000) & (F.col("doc_id") % 2 == 1)
    ).select("doc_id").collect()]
    near_expected = {(i, i + 200_000) for i in near_ids}
    found_near = sum(1 for p in near_expected if p in got)
    assert found_near / max(len(near_expected), 1) >= 0.8


def test_dedup_minhash_drops_near_dups(spark, docs_with_dups, docs):
    kept = X.dedup_minhash(docs_with_dups, threshold=0.8)
    # every exact planted copy dropped (identical text ⇒ identical signature
    # ⇒ candidate in every band ⇒ jaccard 1.0)
    assert kept.filter((F.col("doc_id") >= 100_000)
                       & (F.col("doc_id") < 200_000)).count() == 0
    # most planted near-dups dropped
    n_near = docs_with_dups.filter(F.col("doc_id") >= 200_000).count()
    n_near_left = kept.filter(F.col("doc_id") >= 200_000).count()
    assert n_near_left <= n_near * 0.2
    # originals survive except natural near-dups already present in the
    # corpus (greedy drop removes the higher id of any >= threshold pair)
    natural_drops = (
        X.jaccard_pairs(docs, threshold=0.8)
        .select(F.col("id_b").alias("doc_id")).distinct().count()
    )
    n_orig_kept = kept.filter(F.col("doc_id") < 100_000).count()
    assert n_orig_kept >= docs.count() - natural_drops - 2  # LSH extras ~0


def test_jaccard_exact_small(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d x"),
         (4, "q r s t u")],
        "doc_id bigint, text string")
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in X.jaccard_pairs(df, shingle_n=3, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    # doc3 shares shingle 'a b c' and 'b c d' of 3 each → j = 2/4 = 0.5
    assert pairs[(1, 3)] == 0.5
    assert (1, 4) not in pairs


def test_simhash_near_pairs(spark, docs_with_dups):
    pairs = X.simhash_near_pairs(docs_with_dups, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    exact_expected = {
        (r["doc_id"], r["doc_id"] + 100_000)
        for r in docs_with_dups.filter(
            (F.col("doc_id") < 100_000) & (F.col("doc_id") % 2 == 0)
        ).select("doc_id").collect()
    }
    # identical docs have identical simhash → hamming 0 → all found
    assert exact_expected <= got
    # and unrelated docs aren't flooding: pair count stays near planted size
    assert len(got) < docs_with_dups.count() * 5


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, this is fine 123."),
         (2, "x"),
         (3, None),
         (4, "    ")],
        "doc_id bigint, text string")
    q = {r["doc_id"]: r for r in X.quality_score(df).collect()}
    assert q[1]["n_tokens"] == 6
    assert q[1]["keep"] is True
    assert q[2]["n_tokens"] == 1 and q[2]["keep"] is False
    assert q[3]["n_tokens"] == 0
    assert q[4]["n_tokens"] == 0
    assert 0 < q[1]["punct_ratio"] < 0.2
    assert q[1]["digit_ratio"] > 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house is here"),
         (2, "der Hund und die Katze das ist gut"),
         (3, "le chat et la maison les arbres est grand"),
         (4, "xyzzy plugh")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in X.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_content_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"),
         (3, "alpha beta delta")],
        "doc_id bigint, text string")
    fp = {r["doc_id"]: r["fingerprint"]
          for r in X.content_fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "")],
                               "doc_id bigint, text string")
    got = df.select(X.shingles(F.col("text"), 3).alias("s")).collect()
    assert got[0]["s"] == ["a b"]  # shorter than n → whole text
    assert got[1]["s"] == []


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, it's 42 tokens!"),
         (2, None), (3, ""), (4, "a")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", X.bpe_token_count(F.col("text")).alias("n")).collect()}
    # Hello | world | , | it | 's | 42 | tokens | !  => 8
    assert got[1] == 8
    assert got[2] == 0 and got[3] == 0 and got[4] == 1


def test_winnow_fingerprints_match_and_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " and then some extra tail here"),
         (4, "completely different content with other words entirely"),
         (5, None)],
        "doc_id bigint, text string")
    t = {r["_id"]: set(r["_fp"]) for r in
         X.winnow_fingerprint_table(df).collect()}
    assert t[1] == t[2]                      # identical text, identical set
    shared13 = len(t[1] & t[3]) / len(t[1])
    assert shared13 > 0.8                    # local overlap dominates
    assert len(t[1] & t[4]) <= 1             # unrelated docs share ~nothing
    assert t[5] == set()
    pairs = {(r["id_a"], r["id_b"]): r["shared_fp"]
             for r in X.winnow_match_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) not in pairs


def test_pair_blob_kernels_count_across_batches_and_buckets():
    # Kernel-level pin for the blob-packed pair exchange: events for one
    # pair emitted from DIFFERENT input batches (and therefore different
    # blob rows) must still merge into one exact count, every event must
    # route to the bucket determined by its packed key, and min_shared
    # must filter inside the merge kernel.
    import numpy as np
    import pandas as pd

    from valar_spark.textops import (_pair_emit_blob_batches,
                                     _pair_merge_blob_batches)

    n_buckets = 4
    # two input batches; posting lists deliberately repeat pairs across
    # batches: (1,2) appears in 3 postings, (1,3)/(2,3) in 1
    b1 = pd.DataFrame({"_ids": [[2, 1], [1, 2, 3]]})
    b2 = pd.DataFrame({"_ids": [[1, 2], [7], []]})
    out = list(_pair_emit_blob_batches(n_buckets)(iter([b1, b2])))
    rows = pd.concat(out, ignore_index=True)
    # bucket column must equal pk % n_buckets for every event in the blob
    for bucket, blob in zip(rows["bucket"], rows["blob"]):
        ks = np.frombuffer(blob, dtype=np.int64)
        assert (ks % n_buckets == bucket).all()
        assert ((ks >> 32) < (ks & 0xFFFFFFFF)).all()  # id_a < id_b
    # merge across all blobs (as the exchange would co-locate them)
    merged = list(_pair_merge_blob_batches(1)(iter(out)))
    got = {(int(r.id_a), int(r.id_b)): int(r.shared_fp)
           for m in merged for r in m.itertuples()}
    assert got == {(1, 2): 3, (1, 3): 1, (2, 3): 1}
    # min_shared filters inside the kernel
    merged2 = pd.concat(list(_pair_merge_blob_batches(2)(iter(out))),
                        ignore_index=True)
    assert len(merged2) == 1 and int(merged2["shared_fp"][0]) == 3
    # empty input yields nothing
    assert list(_pair_merge_blob_batches(1)(iter([]))) == []
    # the uint32 key width (16-bit-safe ids) must produce identical counts
    out32 = list(_pair_emit_blob_batches(n_buckets, 32)(iter([b1, b2])))
    for bucket, blob in zip(*(pd.concat(out32, ignore_index=True)
                              [c] for c in ("bucket", "blob"))):
        ks = np.frombuffer(blob, dtype=np.uint32)
        assert (ks % n_buckets == bucket).all()
    merged32 = {(int(r.id_a), int(r.id_b)): int(r.shared_fp)
                for m in _pair_merge_blob_batches(1, 32)(iter(out32))
                for r in m.itertuples()}
    assert merged32 == got


def test_winnow_match_pairs_equals_classic_join(spark):
    # Differential pin for the pair-counting path (identical-set groups,
    # dense group codes, blob-packed pair exchange): it must reproduce the
    # classic exploded self-join bit-for-bit on a fixture exercising
    # every expansion branch — exact-copy groups of size 2 AND 3
    # (intra-group pairs), a partial-overlap doc against a group
    # (inter-group pairs repeated per member), an unrelated doc, an
    # empty doc, and a df cap that removes hot prints.
    import pyspark.sql.functions as SF

    base = ("the winnowing guarantee selects at least one print per "
            "window of consecutive kgrams across this shared sentence")
    rows = [(1, base), (2, base), (3, base),                 # 3-copy group
            (11, base + " with a divergent tail appended"),  # overlaps group
            (12, base + " with a divergent tail appended"),  # 2-copy group
            (21, "entirely unrelated words occupy this one"),
            (30, ""), (31, None)]

    def classic(df, min_shared, max_df):
        t = X.winnow_fingerprint_table(df)
        ex = t.select("_id", SF.explode("_fp").alias("h"))
        if max_df is not None:
            rare = (ex.groupBy("h").agg(SF.count(SF.lit(1)).alias("_df"))
                    .filter(SF.col("_df") <= max_df).select("h"))
            ex = ex.join(rare, "h", "left_semi")
        return (
            ex.alias("a").join(ex.alias("b"),
                               (SF.col("a.h") == SF.col("b.h"))
                               & (SF.col("a._id") < SF.col("b._id")))
            .groupBy(SF.col("a._id").alias("id_a"),
                     SF.col("b._id").alias("id_b"))
            .agg(SF.count(SF.lit(1)).alias("shared_fp"))
            .filter(SF.col("shared_fp") >= min_shared))

    # ids ≥ 2^31 and string ids (whose order differs from the integers':
    # "11" < "2") take the same dense-code path as small integral ids —
    # codes, not ids, fill the posting lists — and must come back as the
    # original ids in the input id type
    big = 1 << 32
    fixtures = [
        spark.createDataFrame(rows, "doc_id bigint, text string"),
        spark.createDataFrame([(i + big, t) for i, t in rows],
                              "doc_id bigint, text string"),
        spark.createDataFrame([(str(i), t) for i, t in rows],
                              "doc_id string, text string"),
    ]
    for df in fixtures:
        for min_shared, max_df in [(1, 50), (2, 4), (5, None)]:
            new = X.winnow_match_pairs(df, min_shared=min_shared,
                                       max_df=max_df)
            ref = classic(df, min_shared, max_df)
            assert new.dtypes == ref.dtypes
            got = sorted(map(tuple, new.collect()))
            want = sorted(map(tuple, ref.collect()))
            assert got == want, (df.schema, min_shared, max_df, got, want)
            new.unpersist()
    df = fixtures[0]
    # the copy groups must actually pair up (expansion branches hit)
    last = {(r["id_a"], r["id_b"]) for r in
            X.winnow_match_pairs(df, min_shared=1, max_df=50).collect()}
    assert {(1, 2), (1, 3), (2, 3), (11, 12), (1, 11)} <= last
    # a caller-supplied grouping handed over as an UNPERSISTED projection
    # with a shuffle behind it and several partitions (the shape that
    # __spark_entry__._winnow_pairs_cached passes in): every plan branch
    # that reads the group codes must see the same numbering, or
    # inter-group pairs vanish
    spread = df.repartition(3, "doc_id")
    groups = (
        spread.filter(SF.col("doc_id").isin(1, 11)).select(
            SF.col("doc_id").alias("_rep"),
            SF.sequence("doc_id", SF.col("doc_id")
                        + SF.when(SF.col("doc_id") == 1, 2).otherwise(1))
            .alias("_members"))
        .unionByName(spread.filter(~SF.col("doc_id").isin(1, 2, 3, 11, 12))
                     .select(SF.col("doc_id").alias("_rep"),
                             SF.array("doc_id").alias("_members"))))
    got = sorted(map(tuple, X.winnow_match_pairs(
        df, min_shared=1, max_df=50, groups=groups).collect()))
    assert got == sorted(map(tuple, classic(df, 1, 50).collect()))


@pytest.mark.parametrize("query", [
    "contamination_screen_documents",
    "ann_ivf_topk_embeddings",
    "ann_ivf_probe_all_embeddings",
])
def test_contamination_screen_plan_has_no_python_rdd(spark, query):
    # driver-side tables (the eval set, the IVF centroids) reach the JVM as
    # local relations, not as pickled Python lists (an ``ExistingRDD`` scan)
    import __spark_entry__ as e

    plan = str(e.queries()[query](spark, SF)._jdf.queryExecution())
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_winnow_fingerprints_equal_per_doc_reference(spark):
    # Differential pin for the r6 batch-global fingerprint kernel (one
    # concatenated rolling-hash + window-min pass per Arrow batch): every
    # doc's selected print set must equal the classic per-doc
    # stride-tricks formulation bit-for-bit, across the boundary-sensitive
    # shapes — empty/blank/null, shorter than k, hash count <= w, exact-k
    # and k+w-1 lengths, multi-byte UTF-8, and long texts adjacent in the
    # same batch (where a buggy global pass would leak boundary windows).
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from valar_spark.textops import _splitmix64

    k, w = 8, 4
    texts = ["", "   ", None, "ab", "abcdefg", "abcdefgh", "abcdefghi",
             "abcdefghij", "abcdefghijk", "x" * 8, "x" * 11, "x" * 40,
             "héllo wörld ünïcode", "é" * 3, "世界" * 2, " \t\n\f\r\x0b",
             "the quick brown fox jumps over the lazy dog " * 5,
             "zzzzzzzz" + "the quick brown fox",  # shared boundary bytes
             "a" * 7 + "b" * 7]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["_id"]: list(r["_fp"]) for r in
           X.winnow_fingerprint_table(df, k=k, w=w).collect()}

    powers = np.array([pow(1099511628211, i, 1 << 64) for i in range(k)],
                      dtype=np.uint64)
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t.strip(" \t\n\f\r\x0b"):
            want = []
        else:
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(b) < k:
                want = list(_splitmix64(
                    (b.astype(np.uint64) * powers[:len(b)])
                    .sum(dtype=np.uint64, keepdims=True)).view(np.int64))
            else:
                grams = sliding_window_view(b, k).astype(np.uint64)
                hashes = _splitmix64(grams @ powers)
                if len(hashes) <= w:
                    sel = hashes.min(keepdims=True)
                else:
                    sel = sliding_window_view(hashes, w).min(axis=1)
                want = list(np.unique(sel).view(np.int64))
        assert got[i] == want, (i, t, got[i], want)


def test_connected_components_transitive(spark):
    # chain 1-2-3, isolated pair 10-11, and the greedy-over-keep shape
    # (20,23),(21,23): 20 and 21 never appear as id_b but share a cluster
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 23), (21, 23)],
        "id_a bigint, id_b bigint")
    cc = {r["id"]: r["component"]
          for r in X.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 23: 20}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert X.connected_components(pairs).count() == 0


def test_dedup_components_vs_greedy(spark):
    # doc5 = 100 distinct tokens; doc1/doc2 = two 85-token windows of it.
    # j(1,5)=j(2,5)=0.85 >= 0.75, j(1,2)=70/100=0.70 < 0.75: pairs are
    # (1,5),(2,5) only. Greedy keeps {1,2} (2 is the local min of its only
    # pair); components resolves the transitive cluster {1,2,5} -> keeps 1.
    words = [f"w{i:03d}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words[:85])),
         (2, " ".join(words[15:])),
         (5, " ".join(words))],
        "doc_id bigint, text string")
    kept_greedy = {r["doc_id"] for r in X.dedup_minhash(
        df, threshold=0.75, shingle_n=1, strategy="greedy").collect()}
    kept_cc = {r["doc_id"] for r in X.dedup_minhash(
        df, threshold=0.75, shingle_n=1, strategy="components").collect()}
    assert kept_greedy == {1, 2}
    assert kept_cc == {1}


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"),            # 5 tokens, 3 distinct -> 0.4
         (2, "x\ny\nx"),              # 3 lines, 2 distinct -> 1/3
         (3, None), (4, "")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in X.repetition_features(df).collect()}
    assert got[1]["dup_token_frac"] == 0.4
    assert got[2]["n_lines"] == 3 and round(got[2]["dup_line_frac"], 6) == 0.333333
    assert got[3]["dup_token_frac"] == 0.0 and got[3]["n_lines"] == 0
    assert got[4]["dup_token_frac"] == 0.0


def test_top_ngram_stats(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),   # bigram "a b" x3, "b a" x2 -> top "a b"
         (2, "solo"),          # 1 token -> whole-text gram
         (3, None)],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in X.top_ngram_stats(df, n=2).collect()}
    assert got[1]["top_gram"] == "a b" and got[1]["top_count"] == 3
    # 3 occurrences x 3 chars / 11 chars
    assert got[1]["top_frac"] == round(9 / 11, 6)
    assert got[2]["top_gram"] == "solo" and got[2]["top_count"] == 1
    assert 3 not in got


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@corp.example.org or call +1 555 123 4567 "
             "from 192.168.0.1"),
         (2, "no pii here"), (3, None)],
        "doc_id bigint, text string")
    out = df.select(
        "doc_id", X.pii_counts(F.col("text")).alias("c"),
        X.scrub_pii(F.col("text")).alias("s")).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["c"]["email"] == 1
    assert got[1]["c"]["ipv4"] == 1
    assert got[1]["c"]["phone"] == 1
    assert got[1]["s"] == ("mail me at <EMAIL> or call <PHONE> from <IP>")
    assert got[2]["s"] == "no pii here"
    assert got[2]["c"]["email"] == 0
    assert got[3]["s"] is None


def test_repeated_line_removal(spark):
    """C4-style boilerplate removal: the shared banner goes (whatever its
    surrounding whitespace), unique prose and blank lines stay
    byte-for-byte, order preserved."""
    from valar_spark import textops as X

    rows = [
        (1, "  banner  \nkeep one\n\nkeep two"),
        (2, "banner\nother text"),
        (3, "solo line\nbanner"),
        (4, "untouched\n\ntail"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    rep = {r["line"]: r["n_docs"]
           for r in X.repeated_lines(df, min_docs=2).collect()}
    assert rep == {"banner": 3}
    got = {r["doc_id"]: (r["text"], r["n_removed"])
           for r in X.remove_repeated_lines(df, min_docs=2).collect()}
    assert got == {
        1: ("keep one\n\nkeep two", 1),
        2: ("other text", 1),
        3: ("solo line", 1),
        4: ("untouched\n\ntail", 0),
    }
    # min_docs above the repeat count: nothing removed, text bit-identical
    keep_all = {r["doc_id"]: r["text"]
                for r in X.remove_repeated_lines(df, min_docs=4).collect()}
    assert keep_all == {i: t for i, t in rows if t is not None}


def test_corpus_filter_reasons(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog sat on the mat with the hat"),  # clean en
         (2, "der hund und die katze das ist gut so ja"),         # clean de
         (3, "的 是 了 在 我 都 很 好 啊 吧"),                      # zh -> lang
         (4, "a b"),                                              # too few
         (5, "the the the the the the the the the the"),          # repetition
         (6, None)],                                              # null
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in X.corpus_filter(
        df, max_dup_token_frac=0.8).collect()}
    assert got[1]["keep"] and got[1]["drop_reasons"] == []
    assert got[2]["keep"]
    assert got[3]["drop_reasons"] == ["lang"]
    assert "too_few_tokens" in got[4]["drop_reasons"]
    assert "repetition" in got[5]["drop_reasons"]
    assert not got[6]["keep"]
    assert "too_few_tokens" in got[6]["drop_reasons"]
    assert "lang" in got[6]["drop_reasons"]


def test_connected_components_long_chain_olog_rounds(spark):
    """Adversarial diameter-63 chain: large-star/small-star must converge
    in O(log n) star rounds — 12 would take 63 rounds under plain min-label
    propagation (textops.py:566 round-2 weakness, closed here)."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  "id_a bigint, id_b bigint")
    cc = X.connected_components(pairs, max_iter=12)
    rows = {r["id"]: r["component"] for r in cc.collect()}
    assert rows == {i: 0 for i in range(64)}
    cc.unpersist()


def test_connected_components_reliable_checkpoint_scoped(spark, tmp_path):
    """checkpoint_dir is a SCOPED lifecycle: per-round state goes to
    reliable storage during the run, a converged run deletes its round
    files (the returned labelling is local-checkpointed first so it stays
    valid), and the session's previous checkpoint dir is restored exactly."""
    import os

    prior = str(tmp_path / "prior_ck")
    spark.sparkContext.setCheckpointDir(prior)
    prior_scoped = spark.sparkContext.getCheckpointDir()

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(100, 101)],
        "id_a bigint, id_b bigint")
    ckdir = str(tmp_path / "cc_ck")
    cc = X.connected_components(pairs, max_iter=10, checkpoint_dir=ckdir)
    rows = {r["id"]: r["component"] for r in cc.collect()}
    assert rows == {**{i: 0 for i in range(21)}, 100: 100, 101: 100}
    # converged => this run's UUID-scoped files are gone...
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert not found, f"converged run left checkpoint files: {found}"
    # ...and the session checkpoint dir is back to EXACTLY the prior value
    assert spark.sparkContext.getCheckpointDir() == prior_scoped


def test_connected_components_failed_run_keeps_checkpoints(spark, tmp_path):
    """Non-convergence keeps the round files for post-mortem (and still
    restores the session checkpoint dir)."""
    import os

    import pytest as _pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(300)],
                                  "id_a bigint, id_b bigint")
    ckdir = str(tmp_path / "cc_ck_fail")
    before = spark.sparkContext.getCheckpointDir()
    with _pytest.raises(RuntimeError, match="did not converge"):
        X.connected_components(pairs, max_iter=1, checkpoint_dir=ckdir)
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "failed run should keep round files for post-mortem"
    assert spark.sparkContext.getCheckpointDir() == before


def test_connected_components_raises_without_convergence(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(300)],
                                  "id_a bigint, id_b bigint")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        X.connected_components(pairs, max_iter=1)


def test_jaccard_all_pairs_guard(spark, docs_with_dups, monkeypatch):
    """The ungated all-pairs path refuses large corpora: O(sum df^2) would
    not survive scale, so above ALL_PAIRS_MAX_DOCS it raises with a pointer
    to the LSH path unless allow_all_pairs=True (oracle/recall use)."""
    import pytest as _pytest

    monkeypatch.setattr(X, "ALL_PAIRS_MAX_DOCS", 5)
    with _pytest.raises(ValueError, match="minhash_candidates"):
        X.jaccard_pairs(docs_with_dups, threshold=0.8)
    # explicit escape hatch still works, and candidate-gated never guards
    assert X.jaccard_pairs(docs_with_dups, threshold=0.8,
                           allow_all_pairs=True).count() >= 0
    cand = X.minhash_candidates(docs_with_dups, num_hashes=64, bands=16)
    assert X.jaccard_pairs(docs_with_dups, threshold=0.8,
                           candidates=cand).count() >= 0


def test_pair_ops_leave_no_corpus_cache(spark, docs_with_dups):
    """Cache hygiene contract (round-2 ADVICE): after a pair query returns
    and the caller unpersists the result, the session holds no net-new
    persisted RDDs — internal shingle/signature/print caches are freed
    deterministically inside the call."""
    jsc = spark.sparkContext._jsc
    docs_with_dups.count()  # materialize the fixture's own cache first

    def persisted_ids() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    # compare ID SETS, not counts: the ContextCleaner may concurrently
    # GC-unpersist frames leaked by earlier tests, which would skew a
    # count-based baseline
    for op in (
        lambda: X.winnow_match_pairs(docs_with_dups, min_shared=2,
                                     max_df=50),
        lambda: X.simhash_near_pairs(docs_with_dups, max_hamming=3),
        lambda: X.jaccard_pairs(docs_with_dups, threshold=0.8),
    ):
        base = persisted_ids()
        out = op()
        out.count()
        out.unpersist(blocking=True)
        leaked = persisted_ids() - base
        assert not leaked, f"op leaked persisted RDDs: {leaked}"


def test_hash_token_vocab_vectorized_matches_loop(spark):
    """Short (vectorized) and long (blake2b) vocab-hash paths are each
    deterministic, collision-free on a real vocabulary, and stable w.r.t.
    array order; the 64-char boundary routes correctly."""
    import numpy as np

    toks = ([f"tok{i}" for i in range(2000)]
            + ["a" * 63, "a" * 64, "a" * 65, "b" * 200, "Ω≈ç√∫", "😀x",
               "a", "ab", "ba"])
    u = np.array(sorted(set(toks)), dtype=object)
    h = X._hash_token_vocab(u)
    assert len(set(h.tolist())) == len(u), "collision in vocab hash"
    perm = np.random.default_rng(0).permutation(len(u))
    h2 = X._hash_token_vocab(u[perm])
    assert (h2 == h[perm]).all()


def test_winnow_contamination_flags_planted_quotes(spark, docs):
    """Planted alien quotes are flagged exactly (winnowing guarantee:
    a 55-char verbatim quote shares >= 10 selected prints >> min_shared)."""
    quote0 = "qzv9kw xjh9qp nbl9dt yfr9mc gsp9zw khd9bn jtm9xr wcf9ly"
    quote1 = "mvd8tk ehw8sn ozc8rb ufj8lp atg8yx icq8vm wkb8hd rns8fz"
    ev = spark.createDataFrame([(0, quote0), (1, quote1)],
                               "eval_id long, text string")
    planted = docs.select(
        "doc_id",
        F.when((F.col("doc_id") % 50 == 0) & F.col("text").isNotNull(),
               F.concat("text", F.lit(" "), F.lit(quote0)))
        .when((F.col("doc_id") % 50 == 1) & F.col("text").isNotNull(),
              F.concat("text", F.lit(" "), F.lit(quote1)))
        .otherwise(F.col("text")).alias("text"))
    got = {(r["doc_id"], r["eval_id"])
           for r in X.winnow_contamination(planted, ev, min_shared=2,
                                           max_df_frac=0.1).collect()}
    want = {(r["doc_id"], int(r["doc_id"] % 50))
            for r in docs.filter(F.col("text").isNotNull()
                                 & (F.col("doc_id") % 50 < 2)).collect()}
    assert got == want


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs: the star-rounds labelling must equal a
    driver-side union-find ground truth (root = component min by
    construction of union-by-min)."""
    import random

    for seed in (0, 1, 2):
        rnd = random.Random(seed)
        n = 150
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(160)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {x for e in edges for x in e}
        expected = {x: find(x) for x in nodes}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        cc = X.connected_components(df)
        got = {r["id"]: r["component"] for r in cc.collect()}
        cc.unpersist()
        assert got == expected, f"seed {seed}"


def test_hash_token_vocab_batch_invariant(spark):
    """The hash of a token must not depend on which OTHER tokens share its
    batch (the Arrow-batch max token length varies) — a sequential fold
    violated this and silently dropped near-dup pairs whose doc and copy
    landed in different batches (caught by the differential fuzzer)."""
    import numpy as np

    common = np.array(["el", "der", "and", "的", "𝔘𝔫𝔦", "a\x00b", "x" * 64],
                      dtype=object)
    with_short = np.array(sorted(set(common) | {"zz"}), dtype=object)
    with_long = np.array(sorted(set(common) | {"y" * 40, "w" * 200}),
                         dtype=object)
    h1 = dict(zip(with_short, X._hash_token_vocab(with_short)))
    h2 = dict(zip(with_long, X._hash_token_vocab(with_long)))
    for t in common:
        assert h1[t] == h2[t], t


def test_hash_split_deterministic_and_proportional(spark, docs):
    out1 = {r["doc_id"]: r["split"] for r in X.hash_split(docs).collect()}
    out2 = {r["doc_id"]: r["split"] for r in X.hash_split(docs).collect()}
    assert out1 == out2
    n = len(out1)
    frac_train = sum(1 for v in out1.values() if v == "train") / n
    assert 0.9 <= frac_train <= 1.0
    assert set(out1.values()) <= {"train", "val", "test"}
    # content-stable: a subset gets the identical assignment
    sub = {r["doc_id"]: r["split"] for r in
           X.hash_split(docs.filter(F.col("doc_id") % 3 == 0)).collect()}
    assert all(out1[k] == v for k, v in sub.items())
    # custom weights route through in dict order
    halves = {r["doc_id"]: r["split"] for r in
              X.hash_split(docs, {"a": 0.5, "b": 0.5}).collect()}
    fa = sum(1 for v in halves.values() if v == "a") / n
    assert 0.4 <= fa <= 0.6


def test_dedup_minhash_by_priority_keeps_best(spark):
    # cluster {1,2,5} via doc5 bridging; doc2 has the best score and must
    # be the survivor (id-keep would have kept doc1)
    words = [f"w{i:03d}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words[:85]), 0.2),
         (2, " ".join(words[15:]), 0.9),
         (5, " ".join(words), 0.5),
         (9, "totally unrelated content here", 0.1)],
        "doc_id bigint, text string, quality double")
    kept = {r["doc_id"] for r in X.dedup_minhash_by_priority(
        df, "quality", threshold=0.75, shingle_n=1).collect()}
    assert kept == {2, 9}


def test_normalize_text_canonicalizes(spark):
    composed = "café"                 # é as one codepoint
    decomposed = "café"              # e + combining acute
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "  CAFÉ\t\nx  "),
         (4, None), (5, "plain")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", X.normalize_text(F.col("text")).alias("n")).collect()}
    assert got[1] == got[2] == "café"      # NFC unifies the two forms
    assert got[3] == "café x"              # lowercase + ws collapse + trim
    assert got[4] is None
    assert got[5] == "plain"


def test_cap_per_group_caps_and_is_content_stable(spark):
    rows = [(i, f"doc {i}", f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    kept = X.cap_per_group(df, "source", 5).collect()
    by_g: dict[str, list] = {}
    for r in kept:
        by_g.setdefault(r["source"], []).append(r)
    assert all(len(v) == 5 for v in by_g.values())
    assert all(sorted(r["grp_rank"] for r in v) == [1, 2, 3, 4, 5]
               for v in by_g.values())
    # content-stable: survivors are a fixed function of ids, not of
    # arrival order or corpus composition beyond the hash frontier
    kept2 = {(r["doc_id"]) for r in
             X.cap_per_group(df.orderBy(F.rand(7)), "source", 5).collect()}
    assert kept2 == {r["doc_id"] for r in kept}
    # a group under the cap survives whole
    small = X.cap_per_group(df.filter(F.col("doc_id") < 4), "source", 5)
    assert small.count() == 4


def test_stratified_sample_nested_and_exact_fractions(spark):
    rows = [(i, "x", ["en", "de", "zh"][i % 3]) for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    s30 = {r["doc_id"] for r in
           X.stratified_sample(df, "lang", {"en": 0.3, "de": 0.3},
                               default_fraction=0.3).collect()}
    s10 = {r["doc_id"] for r in
           X.stratified_sample(df, "lang", {"en": 0.1, "de": 0.1},
                               default_fraction=0.1).collect()}
    assert s10 <= s30                     # nested subsets across fractions
    zero = X.stratified_sample(df, "lang", {"en": 0.0}, default_fraction=1.0)
    got = zero.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    assert "en" not in by                 # zero fraction drops the stratum
    assert by["de"] == 300 and by["zh"] == 300  # default keeps the rest
    # roughly proportional draw (md5 is uniform): 30% of 300 ± wide slack
    n_en_30 = sum(1 for i in s30 if i % 3 == 0)
    assert 50 <= n_en_30 <= 130


def test_charset_features_counts(spark):
    df = spark.createDataFrame(
        [(1, "plain ascii"), (2, "a\x01b\x07c\x7f"), (3, "bad � dec"),
         (4, "héllo§"), (5, None), (6, ""), (7, "\t\n ok")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in X.charset_features(df).collect()}
    assert got[1]["n_control"] == 0 and got[1]["n_non_ascii"] == 0
    assert got[2]["n_control"] == 3          # \x01 \x07 \x7f
    assert got[3]["n_replacement"] == 1
    assert got[4]["n_non_ascii"] == 2 and \
        abs(got[4]["non_ascii_ratio"] - 2 / 6) < 1e-9
    assert got[5]["n_control"] == 0 and got[5]["non_ascii_ratio"] is None
    assert got[6]["non_ascii_ratio"] is None
    assert got[7]["n_control"] == 0          # \t \n are whitespace, not ctrl


def test_salient_terms_ranking(spark):
    df = spark.createDataFrame(
        [(1, "apple apple apple banana common"),
         (2, "banana banana cherry common"),
         (3, "common common date date date"),
         (4, None), (5, "   ")],
        "doc_id bigint, text string")
    out = X.salient_terms(df, k=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3}          # null/blank docs drop out
    assert all(len(v) == 2 for v in by_doc.values())
    d1 = sorted(by_doc[1], key=lambda r: r["term_rank"])
    assert d1[0]["term"] == "apple" and d1[0]["tf"] == 3 and d1[0]["df"] == 1
    # tie on tf=1 between banana (df=2) and common (df=3): rarer wins
    assert d1[1]["term"] == "banana"
    # tfidf: 3 * (ln(4/2)+1) for apple in a 3-doc corpus
    import math
    assert abs(d1[0]["tfidf"] - round(3 * (math.log(4 / 2) + 1), 6)) < 1e-6
    # rarest-first is doc-local: doc 3's top is date (tf=3)
    d3 = sorted(by_doc[3], key=lambda r: r["term_rank"])
    assert d3[0]["term"] == "date"


def test_ngram_overlap_ratios(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # verbatim
         (11, "zz yy xx ww vv uu tt"),                          # novel
         (12, "the quick brown fox sat on novel words here")],  # partial
        "eval_id bigint, text string")
    got = {r["eval_id"]: r for r in
           X.ngram_overlap(corpus, ev, shingle_n=3).collect()}
    assert got[10]["overlap_ratio"] == 1.0
    assert got[11]["overlap_ratio"] == 0.0 and got[11]["n_matched"] == 0
    # partial: shares exactly the two leading trigrams of doc 1
    assert got[12]["n_matched"] == 2
    assert 0.0 < got[12]["overlap_ratio"] < 1.0


def test_dedup_normalized_collapses_reserializations(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  HELLO\tWORLD \n"),
         (4, "café"), (5, "café"),              # NFC vs NFD compose equal
         (6, "distinct doc"), (7, None)],
        "doc_id bigint, text string")
    kept = {r["doc_id"] for r in X.dedup_normalized(df).collect()}
    assert kept == {1, 4, 6}                    # min id per normalized key
    groups = X.normalized_duplicate_groups(df).collect()
    assert {(g["n_docs"], g["min_doc_id"]) for g in groups} == {(3, 1), (2, 4)}


def test_curation_ledger_matches_sequential_stages(spark, docs):
    """The one-pass ledger must equal literally chaining the standalone
    ops: quality filter -> dedup_normalized -> cap_per_group ->
    stratified_sample -> hash_split (same per-purpose salts)."""
    fr = {"en": 0.8, "de": 0.6}
    led = X.curation_ledger(docs, cap=10, fractions=fr,
                            default_fraction=0.5)
    led_rows = {r["doc_id"]: r for r in led.collect()}
    q = X.corpus_filter(docs).filter(F.col("keep")) \
        .select("doc_id", "text", "lang", "source")
    d = X.dedup_normalized(q)
    c = X.cap_per_group(d, "source", 10, salt="valar:cap")
    s = X.stratified_sample(c, "lang", fr, default_fraction=0.5,
                            salt="valar:sample")
    seq = {r["doc_id"]: r["split"] for r in X.hash_split(s).collect()}
    led_kept = {i: r["split"] for i, r in led_rows.items()
                if r["drop_stage"] is None}
    assert led_kept == seq
    # ledger covers every doc exactly once with a stage or a split
    assert set(led_rows) == {r["doc_id"] for r in docs.collect()}
    stages = {r["drop_stage"] for r in led_rows.values()}
    assert stages <= {None, "quality", "dedup", "cap", "sample"}


def test_curation_ledger_cap_is_two_phase(spark, docs):
    """The cap stage's running count must never sort a whole source
    through ONE window task (VERDICT r4 'What's wrong #1'): every Window
    whose frame is a running sum over the corpus must be partitioned by
    the range bucket (_cbkt), and the only per-group-only window allowed
    is the ≤(groups × buckets)-row prefix-offset table."""
    led = X.curation_ledger(docs, cap=10)
    plan = led._jdf.queryExecution().optimizedPlan().toString()
    assert "_cbkt" in plan  # two-phase machinery present
    import re
    # every windowspecdefinition partitioned by the cap group alone
    # (source/_cgrp without _cbkt) must be the tiny offsets window (its
    # frame sums _cbn, the per-bucket counts), never the corpus rows
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "_cgrp" in spec and "_cbkt" not in spec:
            assert "_cbn" in plan[max(0, m.start() - 300):m.end() + 300]
    # and the ledger itself is unchanged by bucketing granularity
    led1 = {(r["doc_id"], r["drop_stage"], r["split"])
            for r in X.curation_ledger(docs, cap=10,
                                       cap_range_buckets=1).collect()}
    led64 = {(r["doc_id"], r["drop_stage"], r["split"])
             for r in led.collect()}
    assert led1 == led64


def test_curation_report_accounts_for_every_doc(spark, docs):
    led = X.curation_ledger(docs, cap=10, fractions={"en": 0.5},
                            default_fraction=0.3)
    rep = {r["stage"]: r["n_docs"] for r in
           X.curation_report(led).collect()}
    assert sum(rep.values()) == docs.count()
    assert any(k.startswith("kept:") for k in rep)


def test_curation_ledger_near_dup_stage(spark, docs):
    """A caller-supplied near-dup drop set (e.g. dedup_minhash victims)
    slots in between normalized dedup and the cap: already-dropped docs
    keep their earlier stage, survivors in the set become 'near_dup',
    and the cap only counts what remains."""
    base = X.curation_ledger(docs, cap=10)
    rows = {r["doc_id"]: r for r in base.collect()}
    q_dropped = next(i for i, r in rows.items() if r["drop_stage"] == "quality")
    survivor = next(i for i, r in rows.items() if r["drop_stage"] is None)
    nd = spark.createDataFrame([(q_dropped,), (survivor,)], "doc_id bigint")
    led = {r["doc_id"]: r for r in
           X.curation_ledger(docs, cap=10, near_dup_drop_ids=nd).collect()}
    assert led[q_dropped]["drop_stage"] == "quality"   # earlier stage wins
    assert led[survivor]["drop_stage"] == "near_dup"
    # with the real minhash keep-set: victims = ids NOT kept
    kept_mh = X.dedup_minhash(docs, threshold=0.8)
    victims = docs.select("doc_id").exceptAll(kept_mh.select("doc_id"))
    led2 = X.curation_ledger(docs, cap=10, near_dup_drop_ids=victims)
    stages = {r["drop_stage"] for r in led2.collect()}
    assert stages <= {None, "quality", "dedup", "near_dup", "cap", "sample"}


def test_curation_survivors_pre_near_dup_protects_cluster_content(spark):
    """ADVICE r4 (medium): the near-dup drop set must be computed over the
    quality+dedup SURVIVORS. Planted scenario: doc 1 (lowest id) near-dups
    doc 2 but fails the quality gate (one 3000-char token ⇒ long_tokens);
    a raw-corpus MinHash keeps doc 1 as the cluster keeper and drops doc 2
    — the cluster's content then vanishes from the kept set entirely. The
    survivors-first pipeline keeps doc 2."""
    good = ("the quick brown fox jumps over the lazy dog "
            "and runs far away home")
    q_bad = good + " " + ("x" * 3000)
    other = "completely different text about spark engines and data tables"
    df = spark.createDataFrame(
        [(1, q_bad, "en", "web"), (2, good, "en", "web"),
         (3, other, "en", "web")],
        "doc_id bigint, text string, lang string, source string")
    surv = X.curation_survivors_pre_near_dup(df)
    assert {r["doc_id"] for r in surv.collect()} == {2, 3}
    kept = X.dedup_minhash(surv, threshold=0.8)
    nd = surv.select("doc_id").exceptAll(kept.select("doc_id"))
    led = {r["doc_id"]: r for r in
           X.curation_ledger(df, near_dup_drop_ids=nd).collect()}
    assert led[1]["drop_stage"] == "quality"
    assert led[2]["drop_stage"] is None       # cluster content survives
    # the raw-corpus drop set reproduces the bug this fix removes:
    kept_raw = X.dedup_minhash(df, threshold=0.8)
    nd_raw = df.select("doc_id").exceptAll(kept_raw.select("doc_id"))
    led_raw = {r["doc_id"]: r for r in
               X.curation_ledger(df, near_dup_drop_ids=nd_raw).collect()}
    assert led_raw[1]["drop_stage"] == "quality"
    assert led_raw[2]["drop_stage"] == "near_dup"


def test_weighted_sample_proportional_and_stable(spark):
    rows = [(i, 1.0) for i in range(500)] + \
           [(1000 + i, 0.2) for i in range(500)] + \
           [(2000 + i, 0.0) for i in range(100)] + [(3000, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    kept = {r["doc_id"] for r in X.weighted_sample(df, "w").collect()}
    assert all(i in kept for i in range(500))       # w=1 keeps everything
    n_low = sum(1 for i in kept if 1000 <= i < 2000)
    assert 60 <= n_low <= 140                        # ~20% of 500
    assert not any(i >= 2000 for i in kept)          # w=0 and null drop
    kept2 = {r["doc_id"] for r in X.weighted_sample(df, "w").collect()}
    assert kept == kept2                             # deterministic


def test_pack_token_shards_balanced_and_order_invariant(spark):
    rows = [(i, 100 + (i % 7) * 10) for i in range(400)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok int")
    out = X.pack_token_shards(df, "n_tok", 2000)
    got = {r["doc_id"]: r["shard_id"] for r in out.collect()}
    assert len(got) == 401 and got[999] is not None  # null tokens still land
    # every shard except the last is filled to >= shard budget - max doc
    from collections import Counter
    tok = {i: (100 + (i % 7) * 10) for i in range(400)}
    tok[999] = 0
    sums = Counter()
    for d, s in got.items():
        sums[s] += tok[d]
    last = max(sums)
    assert all(2000 - 160 <= sums[s] <= 2000 + 160
               for s in sums if s != last)
    # input order does not matter (content-stable hash order)
    got2 = {r["doc_id"]: r["shard_id"] for r in
            X.pack_token_shards(df.orderBy(F.rand(3)), "n_tok", 2000)
            .collect()}
    assert got == got2


def test_pii_reuse_concentration(spark):
    """Tokens in ≥ min_ids distinct docs surface with distinct-doc and
    total-hit counts; singletons and repeats-within-one-doc fall under
    the threshold; categories keep separate ledgers."""
    from valar_spark.textops import pii_reuse

    rows = [
        (1, "mail a@x.com and again a@x.com plus 10.0.0.1"),
        (2, "a@x.com from 10.0.0.1"),
        (3, "only b@y.org here"),                     # singleton email
        (4, "b@y.org again, and 10.0.0.1 too"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {(r["category"], r["token"]): (r["n_docs"], r["n_hits"],
                                         r["sample_id"])
           for r in pii_reuse(df, min_ids=2).collect()}
    assert out == {
        ("email", "a@x.com"): (2, 3, 1),
        ("email", "b@y.org"): (2, 2, 3),
        ("ipv4", "10.0.0.1"): (3, 3, 1),
    }
    # raising the bar drops the 2-doc tokens
    out3 = {r["token"]
            for r in pii_reuse(df, min_ids=3).collect()}
    assert out3 == {"10.0.0.1"}


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus, exact arithmetic: corpus counts a=3 b=1 c=1,
    N=5, V=3; doc surprise = ln(N+V) - sum(c*ln(C+1))/n."""
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, None), (4, "   ")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in X.unigram_logprob(df).collect()}
    assert set(out) == {1, 2}          # null/blank docs excluded
    assert out[1]["n_tokens"] == 3
    exp1 = math.log(8) - (2 * math.log(4) + math.log(2)) / 3
    assert out[1]["avg_neg_logp"] == round(exp1, 6)
    assert out[1]["rare_frac"] == round(1 / 3, 9)   # b has corpus count 1
    exp2 = math.log(8) - (math.log(4) + math.log(2)) / 2
    assert out[2]["avg_neg_logp"] == round(exp2, 6)
    assert out[2]["rare_frac"] == 0.5               # c rare, a common


def test_unigram_logprob_flags_atypical_doc(spark):
    """A doc made of corpus-unique gibberish scores strictly higher
    surprise and rare_frac 1.0 vs a doc of common tokens."""
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((99, "zxqv wopl brrk jjjx"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in X.unigram_logprob(df).collect()}
    common = max(v["avg_neg_logp"] for k, v in out.items() if k != 99)
    assert out[99]["avg_neg_logp"] > common
    assert out[99]["rare_frac"] == 1.0


def test_zipf_profile_fit_and_ties(spark):
    """Fit matches the closed-form normal equations (numpy check);
    rank ties break on term; r2 is NULL at zero count variance."""
    import math

    import numpy as np

    # counts: x 6, a 3, b 3 -> ranks (count desc, term asc): x,a,b
    df = spark.createDataFrame(
        [(1, "x x x a b"), (2, "x x b a"), (3, "a b x")],
        "doc_id int, text string")
    r = X.zipf_profile(df, k=10).collect()[0]
    assert r["n_terms"] == 3
    assert (r["top_term"], r["top_count"]) == ("x", 6)
    xs = np.log(np.array([1.0, 2.0, 3.0]))
    ys = np.log(np.array([6.0, 3.0, 3.0]))
    slope, intercept = np.polyfit(xs, ys, 1)
    assert r["slope"] == pytest.approx(slope, abs=2e-6)
    assert r["intercept"] == pytest.approx(intercept, abs=2e-6)
    assert 0.0 < r["r2"] < 1.0
    # zero variance in y -> r2 undefined, not a crash
    flat = spark.createDataFrame([(1, "p q r")], "doc_id int, text string")
    assert X.zipf_profile(flat, k=10).collect()[0]["r2"] is None


def test_vocab_coverage_counts(spark):
    """Exact OOV token and distinct-type counts against a fixed vocab;
    null/blank docs excluded; case-folded before the probe."""
    df = spark.createDataFrame(
        [(1, "The cat saw the ZXQ zxq"), (2, "cat cat cat"), (3, None)],
        "doc_id int, text string")
    vocab = spark.createDataFrame([("the",), ("cat",), ("saw",)],
                                  "term string")
    out = {r["doc_id"]: r for r in X.vocab_coverage(df, vocab).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["n_tokens"], r1["n_oov"], r1["n_oov_distinct"]) == (6, 2, 1)
    assert r1["oov_frac"] == round(2 / 6, 9)
    r2 = out[2]
    assert (r2["n_oov"], r2["oov_frac"]) == (0, 0.0)


def test_fit_and_score_unigram_lm_with_oov(spark):
    """Frozen-LM scoring: OOV terms carry the full smoothed surprise
    ln(N+V); hand-checked arithmetic; truncated fit keeps exact totals."""
    import math

    ref = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id int, text string")
    lm, n, v = X.fit_unigram_lm(ref)          # a=3 b=1 c=1, N=5, V=3
    assert (n, v) == (5, 3)
    new = spark.createDataFrame(
        [(10, "a zz"), (11, None)], "doc_id int, text string")
    out = {r["doc_id"]: r
           for r in X.score_unigram_logprob(new, lm, n, v).collect()}
    assert set(out) == {10}
    exp = math.log(8) - (math.log(4) + 0.0) / 2   # zz is OOV: ln(0+1)=0
    assert out[10]["avg_neg_logp"] == round(exp, 6)
    assert out[10]["oov_frac"] == 0.5

    # max_vocab truncation drops tail terms into OOV but keeps N,V exact
    lm2, n2, v2 = X.fit_unigram_lm(ref, max_vocab=1)
    assert (n2, v2) == (5, 3)
    assert [r["term"] for r in lm2.collect()] == ["a"]


def test_compression_features_pinned(spark):
    """zlib ratio plumbing pinned: exact parity with direct zlib on the
    same strings, repetition monotonicity, null/empty -> null."""
    import zlib

    def ref(t, level=6):
        c = zlib.compressobj(level, zlib.DEFLATED, -15)
        return len(c.compress(t.encode("utf-8")) + c.flush())

    rep = "spam " * 200
    prose = ("the quick brown fox jumps over the lazy dog and then "
             "recites an entirely different sentence about barometers")
    rows = [(1, rep), (2, prose), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in X.compression_features(df).collect()}

    for d, t in [(1, rep), (2, prose)]:
        assert out[d]["n_bytes"] == len(t.encode("utf-8"))
        assert out[d]["n_deflate"] == ref(t)
        assert out[d]["compression_ratio"] == round(
            ref(t) / len(t.encode("utf-8")), 9)
    assert out[1]["compression_ratio"] < 0.1          # planted repetition
    assert out[2]["compression_ratio"] > out[1]["compression_ratio"]
    for d in (3, 4):
        assert (out[d]["n_bytes"], out[d]["n_deflate"],
                out[d]["compression_ratio"]) == (None, None, None)


# ---------------------------------------------------------------------------
# containment_pairs — token-aligned subsumption
# ---------------------------------------------------------------------------


def test_containment_pairs_semantics(spark):
    rows = [
        (1, "hello world this is a full document about spark"),
        (2, "this is a full document"),      # token-aligned run of 1/4
        (3, "ello world this"),              # mid-token: NOT contained
        (4, " hello   world\tthis is a full document about spark "),
        (5, "tiny doc"),                     # <3 tokens: excluded
        (6, "a full document about"),        # contained in 1 and 4
        (7, None),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.contained_id, r.container_id)
        for r in X.containment_pairs(df).collect())
    # (1,4): equal normalized text ties by id; mid-token and short docs out
    assert got == [(1, 4), (2, 1), (2, 4), (6, 1), (6, 4)]
    toks = {(r.contained_id, r.container_id):
            (r.contained_tokens, r.container_tokens)
            for r in X.containment_pairs(df).collect()}
    assert toks[(2, 1)] == (5, 9) and toks[(1, 4)] == (9, 9)


def test_containment_pairs_no_all_pairs_plan(spark, docs):
    """The candidate stage is a key-equality join — the physical plan must
    contain no cartesian/nested-loop join even without any guard param."""
    plan = (X.containment_pairs(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_pairs_df_cap_bounds_fanout(spark):
    # every doc shares the same hot shingles; cap excludes all probes
    rows = [(i, "common boiler plate text") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert X.containment_pairs(df, max_candidate_df=2).count() == 0
    # unguarded: 5 equal-text pairs chained by id order (i < j, norm ==)
    assert X.containment_pairs(df).count() == 15


def test_containment_drop_ids_keeps_maximal(spark):
    # chain: 2 ⊑ 1 ⊑ 3 (3 = 1 plus a suffix); transitivity drops {1, 2},
    # keeps only the maximal container 3; unrelated doc 4 untouched
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "beta gamma delta"),
        (3, "alpha beta gamma delta epsilon zeta eta"),
        (4, "totally different content body here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = {r.doc_id for r in X.containment_drop_ids(df).collect()}
    assert dropped == {1, 2}


def test_mixed_script_features(spark):
    rows = [
        # Cyrillic а in "pаypal" (confusable spoof); pure-Latin negative
        (1, "login at pаypal now"),
        # pure Cyrillic text: chars counted, NO mixed token
        (2, "привет мир"),
        # Greek omicron inside a Latin token + a pure-Greek word
        (3, "micrοsoft αβγ"),
        (4, None),
        (5, "plain ascii text only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_mixed_tokens"], r["n_cyrillic"],
                         r["n_greek"], r["has_mixed_script"])
           for r in X.mixed_script_features(df).collect()}
    assert got[1] == (4, 1, 1, 0, True)
    assert got[2] == (2, 0, 9, 0, False)
    assert got[3] == (2, 1, 0, 4, True)
    assert got[4] == (0, 0, 0, 0, False)
    assert got[5] == (4, 0, 0, 0, False)


def test_duplicate_source_attribution(spark):
    rows = [
        # s1: 2 docs sharing text with s2 (cross-source mirror) + 1 unique
        (1, "mirrored article body", "s1"),
        (2, "unique one", "s1"),
        (3, "mirrored article body", "s2"),
        # s2: an internal re-post duplicated only within s2
        (4, "internal repost", "s2"),
        (5, "internal repost", "s2"),
        # null text excluded entirely; null source is its own group
        (6, None, "s1"),
        (7, "null-source doc", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: (r["n_docs"], r["n_dup_docs"], r["n_cross_dup_docs"],
                         r["dup_rate_pct"])
           for r in X.duplicate_source_attribution(df).collect()}
    assert got["s1"] == (2, 1, 1, 50.0)
    assert got["s2"] == (3, 3, 1, 100.0)
    assert got[None] == (1, 0, 0, 0.0)


def test_source_diversity_profile(spark):
    from valar_spark.textops import source_diversity_profile

    rows = [
        # src a: "w1 w2 w3" -> bigrams {w1 w2, w2 w3}
        (1, "w1 w2 w3", "a"),
        # src b repeats one of a's bigrams and adds its own
        (2, "w1 w2 zz", "b"),      # {w1 w2, w2 zz}
        # src c: single token -> one whole-text shingle, exclusive
        (3, "solo", "c"),
        # null text contributes no grams but counts as a doc
        (4, None, "c"),
        # null source profiled as a group
        (5, "w9 w8", None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {r["source"]: (r["n_docs"], r["n_grams_distinct"],
                         r["n_exclusive"], r["exclusivity_pct"])
           for r in source_diversity_profile(df).collect()}
    assert got["a"] == (1, 2, 1, 50.0)       # "w2 w3" exclusive
    assert got["b"] == (1, 2, 1, 50.0)       # "w2 zz" exclusive
    assert got["c"] == (2, 1, 1, 100.0)
    assert got[None] == (1, 1, 1, 100.0)
    assert len(got) == 4


def test_vocab_growth_curve(spark):
    from valar_spark.textops import vocab_growth_curve

    rows = [
        # ids 0..9, 2 buckets of 5; bucket 0 vocab {a,b,c}; bucket 1
        # repeats {a,b} and adds {d}
        (0, "a b"), (1, "b c"), (2, "a"), (3, None), (4, "c"),
        (5, "a b"), (6, "d"), (7, "b d"), (8, None), (9, "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["bucket"]: (r["n_docs"], r["n_grams_distinct"],
                         r["n_new_grams"], r["novelty_pct"],
                         r["vocab_cumulative"])
           for r in vocab_growth_curve(df, n_buckets=2).collect()}
    assert got[0] == (5, 3, 3, 100.0, 3)
    assert got[1] == (5, 3, 1, round(100.0 / 3, 4), 4)
    assert len(got) == 2


@pytest.mark.parametrize("key_bits,ids", [
    (32, [3, 1 << 16]), (32, [-1, 2]),
    (64, [0, 1 << 31]), (64, [-5, 7]),
])
def test_pair_blob_emit_rejects_ids_outside_key_width(key_bits, ids):
    # a posting list outside the packed-key id domain must raise instead
    # of emitting overflowed/truncated pair keys
    import pandas as pd

    from valar_spark.textops import _pair_emit_blob_batches

    batch = pd.DataFrame({"_ids": [[0, 1], ids]})
    with pytest.raises(ValueError, match=f"{key_bits}-bit keys"):
        list(_pair_emit_blob_batches(4, key_bits)(iter([batch])))
    # the largest in-domain ids still pass
    top = (1 << 16) - 1 if key_bits == 32 else (1 << 31) - 1
    ok = pd.DataFrame({"_ids": [[0, top]]})
    assert list(_pair_emit_blob_batches(4, key_bits)(iter([ok])))
