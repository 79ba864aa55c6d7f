"""Text analysis + deduplication operators for large-scale training-data
pipelines, over a ``documents(doc_id, text, lang, source, n_chars)`` table.

Projection-shaped ops (quality, language-ID, token counts, fingerprints)
are native Column expressions. Shingle hashing happens ONCE per doc in the
JVM (``xxhash64`` inside one higher-order ``transform``); the k-fold
signature expansion (MinHash permutations, SimHash bit votes) is
numpy-vectorized inside Arrow-batched pandas UDFs — higher-order functions
are NOT whole-stage-codegen'd in Spark 4 (they evaluate interpreted), so a
64-hash HOF signature is ~1000× slower than the same math over an Arrow
batch. No per-row Python anywhere.

Scale notes per operator are in the docstrings; the governing principles:
never materialize O(docs²) — candidate generation is always a key-equality
join (hash bucket / band hash) — and verification touches ONLY candidate
pairs (two id-equality joins + ``array_intersect``), never an all-pairs
aggregate.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization (shared) — deterministic, engine-portable
# ---------------------------------------------------------------------------


# Explicit ASCII whitespace class == Java's \s == Python's re.ASCII \s.
# Every tokenizer in the engine (this Column path, the Arrow UDFs, and the
# DuckDB oracle SQL) uses THIS class: `\s` differs across dialects (RE2
# lacks \x0B) and built-in trim()s differ even more (Spark strips only
# ' ', DuckDB also strips unicode spaces like NBSP) — a differential
# fuzzer caught both (BENCH/fuzz_oracles.py).
WS_CLASS = r"[ \t\n\f\r\x0B]"
WS_STRIP = rf"(^{WS_CLASS}+)|({WS_CLASS}+$)"


def tokens(col: Column) -> Column:
    """Maximal non-whitespace runs (never empty-string tokens);
    empty/null/whitespace-only text ⇒ empty array."""
    stripped = F.regexp_replace(col, WS_STRIP, "")
    return F.when(
        col.isNull() | (stripped == ""), F.array().cast("array<string>")
    ).otherwise(F.split(stripped, WS_CLASS + "+"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# shared raw (unrounded) signal expressions — single source of truth for
# quality_features / repetition_features / corpus_filter so a threshold
# tweak or null-handling fix lands everywhere at once
def _chars_per_token_raw(col: Column) -> Column:
    return F.length(col).cast("double") / F.greatest(token_count(col),
                                                     F.lit(1))


def _digit_ratio_raw(col: Column) -> Column:
    return (F.length(col) - F.length(F.regexp_replace(col, r"[0-9]", ""))) \
        .cast("double") / F.greatest(F.length(col), F.lit(1))


def _dup_token_frac_raw(col: Column) -> Column:
    t = tokens(col)
    return (F.size(t) - F.size(F.array_distinct(t))) \
        / F.greatest(F.size(t), F.lit(1))


def shingles(col: Column, n: int = 3) -> Column:
    """Token n-gram shingles (space-joined). Fewer than n tokens ⇒ one
    shingle of the whole text (standard MinHash practice so short docs
    still compare)."""
    t = tokens(col)
    k = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(k == 0, F.array().cast("array<string>")).otherwise(grams)


# ---------------------------------------------------------------------------
# Exact deduplication — hash groupBy (one shuffle on the 32-hex-char key)
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Duplicate-content groups: ``(text_hash, n_docs, min_doc_id)``.
    md5 of the raw text — engine-portable (same digest in DuckDB), and the
    shuffle carries only (hash, id), never the text."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per distinct text — the canonical exact-dedup
    pass. Window-free: min-id per hash then semi-join (two shuffles on the
    hash/id, no global sort)."""
    keep = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def normalized_duplicate_groups(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                form: str = "NFC") -> DataFrame:
    """Duplicate groups under :func:`normalize_text` equality (Unicode
    form + lowercase + whitespace collapse) — the "near-exact" dedup key
    most web-corpus pipelines run between exact dedup and MinHash:
    catches case/encoding/whitespace re-serializations that byte-exact
    md5 misses, at exact-dedup cost. Same shape as
    :func:`exact_duplicate_groups`: the shuffle carries (key-hash, id)
    only."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(normalize_text(F.col(text_col), form))
                .alias("norm_hash"), F.col(id_col))
        .groupBy("norm_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_normalized(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", form: str = "NFC") -> DataFrame:
    """Keep the lowest-id doc per distinct NORMALIZED text (see
    :func:`normalized_duplicate_groups`). Window-free like
    :func:`dedup_exact`: min-id per key then semi-join; null-text rows
    are dropped (they carry no content to keep)."""
    keep = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(normalize_text(F.col(text_col), form)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


#: line normalization for cross-document line dedup: the Java-whitespace
#: trim class shared with every other cross-engine text oracle (WS_CLASS)
_LINE_TRIM_RE = r"(^[ \t\n\f\r\x0B]+)|([ \t\n\f\r\x0B]+$)"


def _exploded_lines(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, pos, raw, line)`` — one row per newline-split line of each
    non-null document; ``line`` is the whitespace-trimmed form used as the
    dedup key, ``raw`` the original text reinserted on reconstruction."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col),
                F.posexplode(F.split(F.col(text_col), "\n"))
                .alias("pos", "raw"))
        .withColumn("line", F.regexp_replace("raw", _LINE_TRIM_RE, ""))
    )


def repeated_lines(df: DataFrame, min_docs: int = 2,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Normalized lines occurring in ≥ ``min_docs`` DISTINCT documents —
    the C4/RefinedWeb boilerplate signal (nav menus, cookie banners,
    license footers repeat across pages; prose lines don't). Returns
    ``(line, n_docs)``. One explode + one count-distinct aggregate keyed
    by the line; blank lines never flag. The shuffle carries (line,
    doc_id) pairs — at 100 TB, pre-hash the line (xxhash64) if line text
    dominates shuffle bytes; kept as text here because the output IS the
    reviewable boilerplate list."""
    return (
        _exploded_lines(df, text_col, id_col)
        .filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_repeated_lines(df: DataFrame, min_docs: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Cross-document repeated-line removal (the C4 "discard any line
    shared across documents" curation pass): drops every line whose
    normalized form appears in ≥ ``min_docs`` distinct docs, preserving
    all other lines (including blanks) byte-for-byte in original order.
    Returns ``(id, text, n_removed)`` for each non-null-text document.

    Plan shape: explode → key-equality left join against
    :func:`repeated_lines` (no window over data rows) → one per-doc
    aggregate whose ``collect_list`` skips nulls (un-kept lines), sorted
    and joined driver-free. The per-doc array transform is a higher-order
    function (interpreted, not codegen) — bounded by lines-per-document,
    not by the table."""
    ex = _exploded_lines(df, text_col, id_col)
    flagged = repeated_lines(df, min_docs, text_col, id_col).select("line")
    joined = ex.join(flagged.withColumn("_flag", F.lit(True)),
                     "line", "left")
    kept_struct = F.when(F.col("_flag").isNull(),
                         F.struct(F.col("pos"), F.col("raw")))
    return (
        joined.groupBy(F.col(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["raw"]),
                "\n").alias(text_col),
            F.sum(F.when(F.col("_flag").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Text quality / language-ID / fingerprints — pure projections (no shuffle)
# ---------------------------------------------------------------------------


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, mean token length, punctuation
    ratio, digit ratio, uppercase ratio, whitespace ratio — the standard
    cheap quality gates of a pretraining pipeline. One narrow projection."""
    c = F.col(text_col)
    n_chars = F.length(c)
    safe = F.greatest(n_chars, F.lit(1))
    n_tok = token_count(c)
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        F.round(_chars_per_token_raw(c), 6).alias("chars_per_token"),
        F.round(
            (n_chars - F.length(F.regexp_replace(c, r"[\p{Punct}]", "")))
            .cast("double") / safe, 6).alias("punct_ratio"),
        F.round(_digit_ratio_raw(c), 6).alias("digit_ratio"),
        F.round(
            (n_chars - F.length(F.regexp_replace(c, r"[A-Z]", "")))
            .cast("double") / safe, 6).alias("upper_ratio"),
        F.round(
            (n_chars - F.length(F.regexp_replace(c, WS_CLASS, "")))
            .cast("double") / safe, 6).alias("space_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 5, max_chars_per_token: float = 12.0,
                  max_punct_ratio: float = 0.2) -> DataFrame:
    """Composite 0..1 quality score + keep flag from the features."""
    feat = quality_features(df, text_col)
    score = (
        F.when(F.col("n_tokens") >= min_tokens, F.lit(0.4)).otherwise(0.0)
        + F.when(F.col("chars_per_token") <= max_chars_per_token, F.lit(0.3))
        .otherwise(0.0)
        + F.when(F.col("punct_ratio") <= max_punct_ratio, F.lit(0.3))
        .otherwise(0.0)
    )
    return feat.withColumn("quality_score", F.round(score, 2)).withColumn(
        "keep", F.col("quality_score") >= 0.7)


def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_chars_per_token: float = 12.0,
    max_digit_ratio: float = 0.3,
    max_dup_token_frac: float = 0.9,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
) -> DataFrame:
    """The composed pretraining keep/drop gate: token count, token length,
    digit ratio, token repetition and language-ID evaluated in ONE narrow
    projection, with every failed gate recorded in ``drop_reasons``
    (canonical order) and ``keep = no reasons``. Per-reason accounting is
    what a 100-TB curation run needs to audit its yield; dedup stages
    (exact / MinHash) chain after this filter on the kept subset.

    All signals are engine-portable Column expressions — no UDF, no
    shuffle: the full gate runs at parquet-scan speed."""
    base = language_id(df, text_col)
    c = F.col(text_col)
    n_tok = token_count(c)
    cpt = _chars_per_token_raw(c)
    digit_ratio = _digit_ratio_raw(c)
    dup_tok = _dup_token_frac_raw(c)

    def flag(cond: Column, name: str) -> Column:
        return F.when(cond, F.array(F.lit(name))).otherwise(
            F.array().cast("array<string>"))

    reasons = F.concat(
        flag(n_tok < min_tokens, "too_few_tokens"),
        flag(cpt > max_chars_per_token, "long_tokens"),
        flag(digit_ratio > max_digit_ratio, "digits"),
        flag(dup_tok > max_dup_token_frac, "repetition"),
        flag(~F.col("lang_pred").isin(*allowed_langs), "lang"),
    )
    return (
        base.withColumn("drop_reasons", reasons)
        .withColumn("keep", F.size("drop_reasons") == 0)
    )


# marker-word tables for the n-gram language heuristic; deterministic and
# engine-portable (regexp counts)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}


#: control characters that are NOT tokenizer whitespace (\t\n\v\f\r are
#: legitimate layout; NUL..\x08, \x0E..\x1F and DEL are mojibake/binary
#: leakage signals). Shared with the DuckDB oracle verbatim.
CTRL_CLASS = r"[\x00-\x08\x0E-\x1F\x7F]"


def charset_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document character-set hygiene signals for corpus filtering:
    ``n_control`` (non-whitespace C0/DEL control characters — binary or
    terminal-escape leakage), ``n_replacement`` (U+FFFD — upstream
    decode failures / mojibake), ``n_non_ascii`` and ``non_ascii_ratio``
    (script mix; near-1 on CJK is fine, mid-range on `lang='en'` rows is
    a mis-decode flag). Null text ⇒ zero counts, null ratio.

    Pure shuffle-free projection (counts via length-after-strip deltas,
    no explode); all counts are codepoint-based so they agree across
    engines regardless of internal UTF-8/UTF-16 representation."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    n_ctrl = n - F.length(F.regexp_replace(t, CTRL_CLASS, ""))
    n_repl = n - F.length(F.regexp_replace(t, "�", ""))
    n_na = n - F.length(F.regexp_replace(t, r"[^\x00-\x7F]", ""))
    return df.select(
        id_col,
        n_ctrl.cast("long").alias("n_control"),
        n_repl.cast("long").alias("n_replacement"),
        n_na.cast("long").alias("n_non_ascii"),
        F.when(F.col(text_col).isNull() | (n == 0), F.lit(None))
        .otherwise(F.round(n_na.cast("double") / n, 9))
        .alias("non_ascii_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: count whole-word hits per language,
    argmax wins (ties → lexicographically first; no hits → 'und'). A real
    deployment swaps the marker table for character-n-gram profiles — the
    plumbing (pure projection, no shuffle) is identical."""
    c = F.lower(F.col(text_col))
    scores = []
    for lang, words in sorted(LANG_MARKERS.items()):
        # CJK: no \b — the script has no word boundaries, and Java's \b is
        # Unicode-aware while RE2's is ASCII (they disagree around CJK
        # chars; caught by BENCH/fuzz_oracles.py) — raw occurrence count is
        # both linguistically right and engine-portable
        if lang == "zh":
            pat = "(" + "|".join(words) + ")"
        else:
            pat = r"\b(" + "|".join(words) + r")\b"
        scores.append(F.struct(
            F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0)).alias("hits"),
            F.lit(lang).alias("lang"),
        ))
    # argmax: sort by (hits desc, lang asc) via array_max on (hits, negated
    # lexicographic) — simplest portable form: greatest struct comparison
    best = F.array_max(F.array(*[
        F.struct(s["hits"].alias("hits"),
                 # invert lang ordering so ties pick the FIRST language
                 F.lit(-i).alias("prio"),
                 s["lang"].alias("lang"))
        for i, s in enumerate(scores)
    ]))
    return df.select(
        "*",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
        .alias("lang_pred"),
        best["hits"].alias("lang_hits"),
    )


def normalize_text(col: Column, form: str = "NFC", lowercase: bool = True,
                   collapse_ws: bool = True) -> Column:
    """Canonical text normalization — the standard pre-dedup step (two
    docs differing only in composed-vs-decomposed accents, case, or
    whitespace runs should hash equal): Unicode normalization (``form`` ∈
    NFC/NFKC/NFD/NFKD, Arrow-batched ``unicodedata`` — Spark has no
    built-in normalizer), optional lowercase + whitespace-run collapse
    (native Column ops, same ``WS_CLASS`` as the tokenizers). Null ⇒
    null. Chain before :func:`dedup_exact` / :func:`minhash_signature`
    when the corpus mixes encodings."""
    assert form in ("NFC", "NFKC", "NFD", "NFKD")

    @F.pandas_udf("string")
    def norm(s):  # pd.Series[str] -> pd.Series[str]
        # pandas' vectorized unicodedata wrapper; missing values pass
        # through as missing
        return s.str.normalize(form)

    out = norm(col)
    if lowercase:
        out = F.lower(out)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, WS_CLASS + "+", " "))
    return out


def content_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — catches shuffled/reordered copies that exact-hash misses.
    Pure projection; dedup on it is the same hash-groupBy as exact dedup."""
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(
        tokens(F.col(text_col))))))
    return df.withColumn("fingerprint", fp)


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection — the scale path
# ---------------------------------------------------------------------------

_SIG_MAX = (1 << 63) - 1  # empty-doc sentinel signature value


def _shingle_hash_udf(shingle_n: int):
    """Arrow-batched tokenize → n-gram shingle → hash: text column in,
    per-doc array of DISTINCT shingle hashes (int64) out.

    Tokenization matches :func:`tokens` (maximal ``\\S+`` runs, ASCII
    whitespace — same class as Java's ``\\s``). Each batch hashes its token
    VOCABULARY once (vectorized SplitMix64 fold over the codepoint matrix,
    :func:`_hash_token_vocab` — no per-token Python even on high-entropy
    corpora), then forms shingle hashes
    as a positional SplitMix64 mix of consecutive token hashes — vectorized,
    no per-shingle string materialization. Shingle identity = its token
    tuple, exactly like the string form ``concat_ws(' ', tokens)``.

    Why a UDF and not Column algebra: higher-order functions evaluate
    interpreted in Spark 4 (measured ~3s per pass over 7.5k docs on 32
    cores just to build shingle strings); this path is ~100× cheaper and
    stays Arrow-batched (no per-row Python entering Spark)."""

    @F.pandas_udf("array<bigint>")
    def sh(texts):  # pd.Series[str] -> pd.Series[np.ndarray[int64]]
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\S+", re.ASCII)
        tok_lists = [
            ws.findall(t) if isinstance(t, str) else []
            for t in texts
        ]
        flat = [t for ts in tok_lists for t in ts]
        if flat:
            # hash-based factorize, NOT np.unique: sorting a multi-million
            # element object array of strings measured 5.7s of an 8.1s
            # batch (PyObject comparisons); factorize is O(n) and the
            # token hash is content-deterministic regardless of vocabulary
            # order, so the codes just index the same per-token hashes
            inv, uniq = pd.factorize(np.asarray(flat, dtype=object))
            tok_hash = _hash_token_vocab(
                np.asarray(uniq, dtype=object))[inv]
        else:
            tok_hash = np.empty(0, dtype=np.uint64)
        pos_const = _splitmix64(
            np.arange(1, shingle_n + 1, dtype=np.uint64)) | np.uint64(1)
        out = []
        pos = 0
        empty = np.empty(0, dtype=np.int64)
        for ts in tok_lists:
            k = len(ts)
            if k == 0:
                out.append(empty)
                continue
            th = tok_hash[pos:pos + k]
            pos += k
            if k < shingle_n:
                # fewer than n tokens ⇒ one shingle of the whole text,
                # mirroring shingles()
                sh_h = _splitmix64(
                    (th * pos_const[:k]).sum(dtype=np.uint64, keepdims=True))
            else:
                m = k - shingle_n + 1
                mix = np.zeros(m, dtype=np.uint64)
                for j in range(shingle_n):
                    mix += th[j:j + m] * pos_const[j]
                sh_h = _splitmix64(mix)
            out.append(np.unique(sh_h).view(np.int64))
        return pd.Series(out)

    return sh


_VOCAB_LONG_TOKEN = 64  # chars; beyond this the padded-matrix path degrades


def _hash_token_vocab(uniq):
    """Vectorized 64-bit hashing of a UNIQUE-token vocabulary (numpy object
    array of str → uint64). Short tokens (≤64 chars — essentially all of
    natural text) go through the fully-vectorized path: numpy's own
    fixed-width UTF-32 representation is VIEWED as an (n, k/2) uint64
    word matrix (zero conversion cost — two codepoints per word) and
    folded word-column-by-column with an FNV-style multiply-xor, seeded
    with the token length (so zero-padding can't collide prefixes) and
    finalized with SplitMix64. Cost is O(max_len/2) vectorized passes —
    no per-token Python. Rare long tokens (URLs, base64 blobs) fall back
    to a ``blake2b`` loop so one pathological 1 MB token can't inflate
    the padded matrix for the whole batch. Both paths are deterministic
    per token content across batches/partitions.

    Perf note (BENCH/BASELINE.md "vocab hash" — full history incl. the
    fuzzer-forced batch-invariance fix): on this sandbox's ~0.2 GB/s
    /process bandwidth ceiling the fold is bandwidth-bound and the
    C-level blake2b loop is actually ~2× faster at 1M tokens; on a normal
    memory system the fold is ~20× faster than the loop. Kept as default
    because it is the shape that scales and per-batch vocabularies are
    small; correctness (same token ⇒ same hash in EVERY batch, any batch
    max length) is pinned by the differential fuzzer and a cross-batch
    test."""
    import hashlib

    import numpy as np

    n = len(uniq)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in uniq), dtype=np.int64, count=n)
    out = np.empty(n, dtype=np.uint64)
    short = lens <= _VOCAB_LONG_TOKEN
    if short.any():
        su = np.asarray(uniq[short], dtype=np.str_)  # '<Uk' fixed width
        k = su.dtype.itemsize // 4
        if k % 2:  # pad to an even codepoint count for the uint64 view
            k += 1
            su = su.astype(f"<U{k}")
        w = su.view(np.uint64).reshape(len(su), k // 2)
        # PADDING-INVARIANT fold: the hash must not depend on the BATCH's
        # max token length (k varies per Arrow batch — a sequential
        # multiply-fold gave the same token different hashes in different
        # batches, caught by the differential fuzzer as vanished jaccard
        # pairs). XOR-accumulate a position-keyed mix per word, with
        # all-zero (padding) words contributing exactly nothing; a token
        # is fully determined by its length + its nonzero (position, word)
        # pairs, so equal tokens hash equal in every batch.
        h = _splitmix64(lens[short].astype(np.uint64)
                        + np.uint64(0xA5A5A5A5DEADBEEF))
        # position keys as an ARRAY (scalar uint64 arithmetic raises
        # numpy overflow warnings; array wraparound is silent and intended)
        poskeys = _splitmix64(np.arange(1, w.shape[1] + 1, dtype=np.uint64))
        for j in range(w.shape[1]):
            wj = w[:, j]
            contrib = _splitmix64(wj + poskeys[j])
            h ^= np.where(wj == 0, np.uint64(0), contrib)
        out[short] = _splitmix64(h)
    if (~short).any():
        out[~short] = np.fromiter(
            (int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                "little") for t in uniq[~short]),
            dtype=np.uint64, count=int((~short).sum()))
    return out


def hashed_shingles(col: Column, shingle_n: int = 3) -> Column:
    """Distinct token-n-gram shingles hashed to int64 — the shared input of
    MinHash, SimHash and exact-Jaccard. Every downstream op works on
    fixed-width longs, so no string ever enters a join key."""
    return _shingle_hash_udf(shingle_n)(col)


def shingle_hash_sets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      shingle_n: int = 3, persist: bool = False) -> DataFrame:
    """``(_id, _sh: array<bigint>, n_sh)`` — per-doc distinct shingle-hash
    sets. Narrow projection (no shuffle). ``persist=True`` caches the frame
    (MEMORY_AND_DISK): the pair operators reference it from both sides of a
    self-join plus the size lookups, and Spark would otherwise re-run the
    tokenize+hash pass once per reference. The cached footprint is ≈ the
    token count × 8 bytes — smaller than the input text — and spills to
    disk, so this holds at 100-TB scale too."""
    out = df.select(
        F.col(id_col).alias("_id"),
        hashed_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).withColumn("n_sh", F.size("_sh"))
    if persist:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    return out


def _splitmix64(x):
    """Vectorized SplitMix64 finalizer (public-domain constant mix) — used
    to derive the MinHash permutation constants deterministically."""
    import numpy as np

    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _flatten_hash_arrays(hs):
    """(flat uint64 of all non-empty arrays, reduceat offsets, lens) from a
    pandas Series of int64 arrays."""
    import numpy as np

    lens = np.fromiter((len(a) for a in hs), dtype=np.int64, count=len(hs))
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hs[nonempty]]
        ).view(np.uint64)
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
    else:
        flat = np.empty(0, dtype=np.uint64)
        offsets = np.empty(0, dtype=np.int64)
    return flat, offsets, lens, nonempty


def _minhash_udf(num_hashes: int):
    """Arrow-batched MinHash over shingle-hash arrays: k affine permutations
    ``(a_i·h + b_i) >> 1`` (SplitMix64-derived odd multipliers, uint64
    wraparound, top bit dropped so values are non-negative int64), min per
    doc via ``np.minimum.reduceat``. One pass per hash function keeps peak
    memory at O(batch shingles), not O(shingles × k)."""

    @F.pandas_udf("array<bigint>")
    def mh(hs):  # pd.Series[np.ndarray] -> pd.Series[list[int]]
        import numpy as np
        import pandas as pd

        k = num_hashes
        idx = np.arange(1, 2 * k + 1, dtype=np.uint64)
        mixed = _splitmix64(idx)
        a_const = mixed[:k] | np.uint64(1)
        b_const = mixed[k:]
        flat, offsets, lens, nonempty = _flatten_hash_arrays(hs)
        out = np.full((len(hs), k), _SIG_MAX, dtype=np.int64)
        if len(flat):
            sub = np.empty((len(offsets), k), dtype=np.uint64)
            for j in range(k):
                pj = (flat * a_const[j] + b_const[j]) >> np.uint64(1)
                sub[:, j] = np.minimum.reduceat(pj, offsets)
            out[nonempty] = sub.view(np.int64)
        return pd.Series(list(out))

    return mh


def minhash_signature(col: Column, num_hashes: int = 64,
                      shingle_n: int = 3) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) over distinct
    token-n-gram shingles. Shingle hashing is JVM-side (one ``xxhash64`` per
    shingle); the k permutations run vectorized in numpy over Arrow batches.
    Empty docs get an all-``_SIG_MAX`` sentinel signature.

    Cost: |shingles| JVM hashes + |shingles|·k numpy ops per doc — a narrow
    map over the scan, embarrassingly parallel at any scale."""
    return _minhash_udf(num_hashes)(hashed_shingles(col, shingle_n))


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """``(_id, band_idx, band_hash)`` — the LSH banding of every non-empty
    doc: signature split into ``bands`` bands of ``num_hashes/bands``
    rows, each hashed to one long. This is both the self-join key table of
    :func:`minhash_candidates` and the *static index* side of
    streaming incremental dedup (``streaming.stream_near_dup_flags``).
    Works unchanged on a streaming DataFrame (projection + explode only).
    Empty docs (no shingles) are filtered — sentinel signatures must not
    band together."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n)
    sig_df = sets.filter(F.col("n_sh") > 0).select(
        "_id", _minhash_udf(num_hashes)(F.col("_sh")).alias("_sig"))
    return sig_df.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(F.concat_ws(
                        ",", F.slice("_sig", b * rows_per_band + 1,
                                     rows_per_band))).alias("band_hash"),
                ),
            )
        ).alias("b"),
    ).select("_id", F.col("b.band_idx").alias("band_idx"),
             F.col("b.band_hash").alias("band_hash"))


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    sets: DataFrame | None = None,
    band: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs ``(id_a, id_b, n_bands)`` with id_a < id_b.

    shingle → minhash → split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows → hash each band → explode → self-join on
    ``(band_idx, band_hash)``. Only docs agreeing on a full band meet —
    candidate generation is a key-equality join (shuffle on band hash),
    never a cross product. With r rows/band, P(candidate) ≈ 1-(1-j^r)^b —
    steep S-curve around j ≈ (1/b)^(1/r).

    ``band`` supplies a precomputed (ideally caller-persisted) banding
    table from :func:`minhash_band_table`: the self-join references the
    banding subtree from BOTH sides, so without a persist the
    shingle+minhash UDF pass runs twice. When ``band`` is given, ``df``,
    ``text_col``, ``id_col``, ``num_hashes``, ``bands``, ``shingle_n``
    and ``sets`` are all IGNORED — the caller must build ``band`` with
    the parameters it means (nothing checks that they match)."""
    if band is None:
        band = minhash_band_table(df, text_col, id_col, num_hashes, bands,
                                  shingle_n, sets=sets)
    left = band.alias("l")
    right = band.alias("r")
    return (
        left.join(right,
                  (F.col("l.band_idx") == F.col("r.band_idx"))
                  & (F.col("l.band_hash") == F.col("r.band_hash"))
                  & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


#: ungated all-pairs exact Jaccard refuses corpora larger than this
#: (override with allow_all_pairs=True — oracle/recall harnesses only)
ALL_PAIRS_MAX_DOCS = 20_000


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
    candidates: DataFrame | None = None,
    sets: DataFrame | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Exact shingle-Jaccard similarity pairs ``(id_a, id_b, jaccard)``.

    With ``candidates`` (from :func:`minhash_candidates`) the work is
    O(|candidates|): the pair list joins the per-doc shingle-hash sets twice
    on id (plain equi-joins Catalyst can broadcast/shuffle freely) and the
    intersection is ``size(array_intersect(a, b))`` per candidate pair —
    the production scale path, never an all-pairs aggregate.

    Without ``candidates`` it generates pairs by the hashed-shingle-equality
    self-join (exact, but O(Σ docs_per_shingle²) on hot shingles —
    small-scale / oracle / recall-measurement use only). Because that cost
    would not survive a large corpus, the ungated path is SIZE-GUARDED: it
    raises above :data:`ALL_PAIRS_MAX_DOCS` documents unless the caller
    passes ``allow_all_pairs=True`` (the oracle/recall harnesses do; a
    production near-dup pass should gate through
    :func:`minhash_candidates` instead). Shingles are
    hashed to int64 before the join so the shuffle carries longs, not
    natural-language strings.

    ``sets`` (from :func:`shingle_hash_sets`) lets callers share one cached
    tokenize+hash pass; without it the sets are computed and persisted here,
    the (small) pair result is materialized eagerly and the sets cache is
    unpersisted before returning — no net-new cached corpus blocks outlive
    the call (the returned pair frame stays persisted; callers may
    unpersist it)."""
    own_sets = sets is None
    if own_sets:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n,
                                 persist=True)
    if candidates is not None:
        a = sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"),
                        F.col("n_sh").alias("n_a"))
        b = sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"),
                        F.col("n_sh").alias("n_b"))
        inter = (
            candidates.select("id_a", "id_b")
            .join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b",
                    F.size(F.array_intersect("_sh_a", "_sh_b"))
                    .alias("n_common"), "n_a", "n_b")
        )
    else:
        if not allow_all_pairs:
            n_docs = sets.count()
            if n_docs > ALL_PAIRS_MAX_DOCS:
                if own_sets:
                    sets.unpersist()
                raise ValueError(
                    f"jaccard_pairs without candidates is the ungated "
                    f"all-pairs shingle self-join — O(sum df^2) on hot "
                    f"shingles — and the corpus has {n_docs} documents "
                    f"(> ALL_PAIRS_MAX_DOCS={ALL_PAIRS_MAX_DOCS}). Gate it "
                    "with candidates=minhash_candidates(...) for the "
                    "O(candidates) scale path, or pass "
                    "allow_all_pairs=True for oracle/recall use.")
        ex = sets.select("_id", F.explode("_sh").alias("s"))
        pair_counts = (
            ex.alias("a").join(ex.alias("b"),
                               (F.col("a.s") == F.col("b.s"))
                               & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = sets.select("_id", "n_sh")
        inter = (
            pair_counts
            .join(sizes.select(F.col("_id").alias("id_a"),
                               F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("_id").alias("id_b"),
                               F.col("n_sh").alias("n_b")), "id_b")
        )
    out = (
        inter
        # |union| = 0 only when both docs are empty (guards ANSI div-by-zero)
        .filter((F.col("n_a") + F.col("n_b") - F.col("n_common")) > 0)
        .select(
            "id_a", "id_b",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if own_sets:
        from pyspark import StorageLevel

        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        sets.unpersist()
    return out


def _cc_round_barrier(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Per-round lineage truncation for iterative CC plans. With a
    ``checkpoint_dir`` the round's edge list is written to RELIABLE storage
    (``df.checkpoint``) — an executor death mid-iteration recomputes from
    the checkpoint file, so a 1000-executor run survives node loss. Without
    one, ``localCheckpoint`` (executor-local, non-replicated) is used: fine
    single-process, documented-unsafe on a real cluster. The local variant
    is LAZY: the round's convergence checksum is the first action over the
    barrier, so it materializes the checkpoint and computes the checksum in
    ONE job instead of two (each star round is a handful of tiny stages —
    job-launch latency, not data, dominates at small edge counts)."""
    if checkpoint_dir is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


class _ScopedCheckpointDir:
    """Scoped reliable-checkpoint lifecycle: sets the SESSION-GLOBAL
    checkpoint dir on entry, restores the previous setting on exit (exactly,
    via the SparkContext's internal ``Option[String]`` var — the public
    ``setCheckpointDir`` would append a fresh UUID under the old path), and
    can delete the UUID-scoped subdirectory this run created.
    ``cleanup()`` is called by the owner ONLY on success — on failure the
    round files are kept for post-mortem."""

    def __init__(self, spark, checkpoint_dir: str):
        self._sc = spark.sparkContext
        self._prev = self._sc.getCheckpointDir()
        self._sc.setCheckpointDir(checkpoint_dir)
        #: the <dir>/<uuid> subdir private to this run
        self.scoped_dir = self._sc.getCheckpointDir()

    def restore(self) -> None:
        # exact restore needs the JVM-internal Option var (the public
        # setter appends a fresh UUID under the old path). Guard it: the
        # internals are version-fragile and absent under Spark Connect —
        # there, fall back to the public API and accept the UUID-append
        # semantics (ADVICE r4).
        jsc_attr = getattr(self._sc, "_jsc", None)
        jvm = getattr(self._sc, "_jvm", None)
        if jsc_attr is not None and jvm is not None:
            try:
                jsc = jsc_attr.sc()
                opt = jvm.scala.Option.apply(self._prev)
                getattr(jsc, "checkpointDir_$eq")(opt)
                return
            except Exception:
                pass
        if self._prev is not None:
            self._sc.setCheckpointDir(self._prev)

    def cleanup(self) -> None:
        """Delete this run's UUID-scoped checkpoint files (Hadoop FS API, so
        hdfs:///s3a:// dirs clean up the same as local paths)."""
        if not self.scoped_dir:
            return
        jvm = self._sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.scoped_dir)
        fs = path.getFileSystem(self._sc._jsc.hadoopConfiguration())
        fs.delete(path, True)


def md5_order_key(col: Column, salt: str = "valar") -> Column:
    """Deterministic, engine-portable 32-bit ordering key:
    ``int(md5(id || ':' || salt)[:8], 16)`` as a long in [0, 2³²).

    The one hash every sampling/split operator in the engine keys on —
    content-stable (same id ⇒ same key on every run, engine, cluster
    size, and as the corpus grows) and reproducible bit-for-bit in any
    engine with md5 (the DuckDB oracles recompute it as
    ``('0x' || substr(md5(...), 1, 8))::UBIGINT``). Spark's ``concat_ws``
    SKIPS nulls, so a null id hashes the bare salt — oracles replicate
    that with an explicit CASE (see hash_split_documents)."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws(
            ":", col.cast("string"), F.lit(salt))), 1, 8), 16, 10)
        .cast("long")
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "valar",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment: adds a
    ``split`` column from ``md5(id || ':' || salt)`` bucketed into
    ``buckets`` and cut at the cumulative weight thresholds. Content-
    stable (same id ⇒ same split on every run, engine, cluster size, and
    as the corpus grows — the property random `rand()` splits lack),
    shuffle-free (pure projection), and reproducible in ANY engine with
    md5 — the DuckDB oracle recomputes it bit-for-bit. Weights are
    normalized; assignment order follows the dict order."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = md5_order_key(F.col(id_col), salt) % buckets
    return df.withColumn("split", split_assign_expr(bucket, weights, buckets))


def split_assign_expr(bucket: Column, weights: dict[str, float],
                      buckets: int = 10_000) -> Column:
    """The cumulative-threshold split assignment of :func:`hash_split` as
    a reusable Column over an existing bucket expression (weights
    normalized; assignment order = dict order)."""
    total = sum(weights.values())
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cut = int(round(acc * buckets))
        branch = bucket < cut
        expr = F.when(branch, F.lit(name)) if expr is None \
            else expr.when(branch, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_per_group: int,
    id_col: str = "doc_id",
    salt: str = "valar",
) -> DataFrame:
    """C4-style per-group quota: keep at most ``max_per_group`` rows per
    ``group_col`` value (per-domain / per-language caps that stop one hot
    source from dominating a training mix), adding ``grp_rank`` (1-based
    keep order). Which rows survive is decided by the deterministic
    :func:`md5_order_key` — a content-stable uniform draw, NOT arrival
    order, so the kept subset is reproducible across runs/engines and
    stable under corpus growth (a group's survivors only change where new
    ids hash below the cap boundary). Ties (32-bit hash collisions, null
    ids sharing the bare-salt hash) break on ``id_col`` ascending
    nulls-first — oracles must pin NULLS FIRST (DuckDB defaults last).

    Scale shape: ONE hash-partitioned sort-window shuffle on
    ``group_col`` (rank ≤ cap is a running count, no full-group
    materialization beyond the sort); AQE splits skewed hot groups'
    sort spill, and because the filter is rank ≤ k the window can stop
    serving a group early under whole-stage codegen. The null group is a
    group like any other (capped too)."""
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col)
         .orderBy(md5_order_key(F.col(id_col), salt).asc(),
                  F.col(id_col).asc_nulls_first()))
    return (df.withColumn("grp_rank", F.row_number().over(w))
            .filter(F.col("grp_rank") <= max_per_group))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "valar",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling (language/source rebalancing
    for a training mix): keep a row iff its :func:`md5_order_key` bucket
    falls below ``round(fraction × buckets)`` for its stratum. Unlike
    ``df.sample`` the draw is content-stable — the same id keeps/drops on
    every run, engine and cluster size, kept sets are NESTED across
    fractions (a 10% sample ⊆ the 20% sample — supports reproducible
    scaling-law subsets), and it composes with :func:`hash_split` by
    using a different salt. Strata not in ``fractions`` (including null)
    use ``default_fraction``. Pure shuffle-free projection; fraction
    granularity is 1/``buckets``."""
    bucket = md5_order_key(F.col(id_col), salt) % buckets
    return df.filter(stratum_keep_expr(
        F.col(strata_col), fractions, default_fraction, bucket, buckets))


def stratum_keep_expr(strata: Column, fractions: dict[str, float],
                      default_fraction: float, bucket: Column,
                      buckets: int = 10_000) -> Column:
    """The per-stratum threshold predicate of :func:`stratified_sample`
    as a reusable Column over an existing bucket expression."""
    expr: Column | None = None
    for name, frac in fractions.items():
        cut = int(round(frac * buckets))
        cond = strata == name
        keep_here = bucket < cut
        expr = F.when(cond, keep_here) if expr is None \
            else expr.when(cond, keep_here)
    default_keep = bucket < int(round(default_fraction * buckets))
    return default_keep if expr is None else expr.otherwise(default_keep)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "valar:wsample",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-row Bernoulli sampling with CONTINUOUS keep
    probabilities: keep a row iff its :func:`md5_order_key` bucket falls
    below ``round(weight × buckets)`` — quality-weighted downsampling
    (keep docs with probability ∝ their quality score), the standard mix
    rebalancer between the hard gate and uniform sampling. Weights are
    clamped to [0, 1]; null weights drop. Content-stable like every
    sampler here (same id+salt ⇒ same draw on every run/engine/cluster)
    and nested across weight scalings. Pure shuffle-free projection."""
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)),
                F.lit(1.0))
    bucket = md5_order_key(F.col(id_col), salt) % buckets
    return df.filter(F.col(weight_col).isNotNull()
                     & (bucket < F.round(w * buckets, 0)))


def pack_token_shards(
    df: DataFrame,
    tokens_col: str,
    shard_tokens: int,
    id_col: str = "doc_id",
    salt: str = "valar:pack",
    range_buckets: int = 256,
) -> DataFrame:
    """Token-budget SHARD assignment for training dataloaders: orders the
    corpus by its content-stable :func:`md5_order_key` (a deterministic
    shuffle), computes the running token total in that order, and
    assigns ``shard_id = floor((cumsum − tokens) / shard_tokens)`` — so
    every shard holds ~``shard_tokens`` tokens of hash-shuffled docs.

    Scale shape — the global cumulative sum is TWO-PHASE, never a
    single-partition window: rows land in ``range_buckets`` range
    buckets of the uniform hash key (bucket = key's top bits), the
    within-bucket cumsum is an ordinary partitioned window, and the
    cross-bucket prefix offsets come from a ``range_buckets``-row
    aggregate broadcast back. A naive ``Window.orderBy(key)`` (no
    partition) would sort the corpus on ONE reducer; this plan's widest
    shuffle is the ordinary hash partition on bucket. Output: input rows
    + ``shard_id`` (0-based). Null/negative token counts count as 0
    tokens (the row still lands in a shard)."""
    from pyspark.sql import Window

    key = md5_order_key(F.col(id_col), salt)
    # 32-bit key -> top bits pick the range bucket; within-bucket order
    # is (key, id) — a total order, so the cumsum is deterministic
    shift = 32 - max(range_buckets - 1, 1).bit_length()
    t = F.greatest(F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)),
                   F.lit(0))
    g = df.withColumn("_key", key) \
        .withColumn("_bkt", F.shiftrightunsigned(F.col("_key"), shift)
                    .cast("int")) \
        .withColumn("_t", t)
    wlocal = (Window.partitionBy("_bkt")
              .orderBy(F.col("_key").asc(), F.col(id_col).asc_nulls_first())
              .rowsBetween(Window.unboundedPreceding, 0))
    g = g.withColumn("_local_cum", F.sum("_t").over(wlocal))
    per_bucket = g.groupBy("_bkt").agg(F.sum("_t").alias("_bt"))
    woff = (Window.orderBy(F.col("_bkt").asc())
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_bucket.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(woff), F.lit(0))) \
        .select("_bkt", "_off")
    return (g.join(F.broadcast(offsets), "_bkt")
            .withColumn("shard_id",
                        F.floor((F.col("_off") + F.col("_local_cum")
                                 - F.col("_t"))
                                / F.lit(int(shard_tokens))).cast("long"))
            .drop("_key", "_bkt", "_t", "_local_cum", "_off"))


def curation_survivors_pre_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_form: str = "NFC",
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
) -> DataFrame:
    """The quality-gate + normalized-dedup SURVIVORS — i.e. exactly the
    docs :func:`curation_ledger` (same parameters) still considers live
    when its near-dup stage runs. This is the correct INPUT for computing
    a ``near_dup_drop_ids`` set to feed back into the ledger: a drop set
    computed over the RAW corpus can evict a surviving doc as near-dup of
    a "keeper" that itself failed the quality gate, making the cluster's
    content vanish from the kept set entirely and contradicting the
    ledger's 'later stages only consider prior survivors' invariant
    (ADVICE r4). Returns ``df``'s columns unchanged."""
    from pyspark.sql import Window

    g = corpus_filter(df, text_col, min_tokens=min_tokens,
                      allowed_langs=allowed_langs)
    nkey = F.md5(normalize_text(F.col(text_col), dedup_form))
    g = g.withColumn(
        "_min_id",
        F.min(F.when(F.col("keep"), F.col(id_col)))
        .over(Window.partitionBy(nkey)))
    return (g.filter(F.col("keep") & (F.col(id_col) == F.col("_min_id")))
            .select(*df.columns))


def curation_ledger(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap_group_col: str = "source",
    cap: int | None = None,
    strata_col: str = "lang",
    fractions: dict[str, float] | None = None,
    default_fraction: float = 1.0,
    split_weights: dict[str, float] | None = None,
    dedup_form: str = "NFC",
    salt: str = "valar",
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
    near_dup_drop_ids: DataFrame | None = None,
    cap_range_buckets: int = 64,
) -> DataFrame:
    """The WHOLE curation pipeline — quality gate → normalized dedup →
    per-group cap → stratified sample → split assignment — evaluated as
    ONE window-augmented pass that returns a per-document LEDGER:
    ``(id, drop_stage, drop_reasons, split)`` where ``drop_stage`` ∈
    {quality, dedup, near_dup, cap, sample, NULL=survivor} names the FIRST stage
    that dropped the doc (later stages only consider prior survivors,
    exactly like running the stages sequentially — e.g. a quality-dropped
    doc can never hold a dedup group's keep slot) and survivors get their
    train/val/test ``split``.

    Why a ledger and not five chained filters: a 100-TB curation run
    needs per-stage yield accounting and per-doc drop provenance anyway,
    and chaining filters pays the scan five times. Here the quality
    signals are scan-local, dedup is one window over the normalization
    key, the cap is a TWO-PHASE running count (within-range-bucket window
    + broadcast per-group prefix offsets — a hot source never serializes
    through one task; ``cap_range_buckets`` bounds the offsets table at
    |groups| × buckets rows, so drop it toward 1 if ``cap_group_col`` is
    high-cardinality), and sampling/split are row-local hashes — the
    window shuffles each carry only (id, keys). Hash purposes are salted
    apart
    (``salt:cap`` / ``salt:sample`` / split uses ``salt``), so cap
    survival, sample survival and split assignment are pairwise
    independent draws.

    Fully oracle-able: every stage is an engine-portable expression
    (see the ``curation_ledger_documents`` gate query)."""
    from pyspark.sql import Window

    g = corpus_filter(df, text_col, min_tokens=min_tokens,
                      allowed_langs=allowed_langs)
    # each window's inputs are MATERIALIZED columns from the previous
    # step (Spark forbids nesting a window expression inside another)
    nkey = F.md5(normalize_text(F.col(text_col), dedup_form))
    g = g.withColumn(
        "_min_id",
        F.min(F.when(F.col("keep"), F.col(id_col)))
        .over(Window.partitionBy(nkey)))
    q_keep = F.col("keep")
    dedup_drop = q_keep & (F.col(id_col) != F.col("_min_id"))
    # optional near-dup stage: a caller-supplied drop-id set (e.g. the
    # victims of dedup_minhash / embedding_near_dup_pairs — LSH stages
    # aren't expressible as one window, so they plug in as a broadcast-or-
    # shuffled left join on the id). Applied AFTER exact/normalized dedup,
    # before the cap, mirroring the classic pipeline order.
    if near_dup_drop_ids is not None:
        nd = near_dup_drop_ids.select(
            F.col(near_dup_drop_ids.columns[0]).alias(id_col)) \
            .distinct().withColumn("_nd_hit", F.lit(True))
        g = g.join(nd, id_col, "left")
        near_drop_base = F.coalesce(F.col("_nd_hit"), F.lit(False))
    else:
        near_drop_base = F.lit(False)
    g = (g.withColumn("_s2a", q_keep & ~dedup_drop)
         .withColumn("_ndrop", F.col("_s2a") & near_drop_base))
    near_drop = F.col("_ndrop")
    g = g.withColumn("_s2", F.col("_s2a") & ~near_drop)
    s2_keep = F.col("_s2")
    okey = md5_order_key(F.col(id_col), f"{salt}:cap")
    if cap is not None:
        # TWO-PHASE per-group running survivor count (the pattern
        # pack_token_shards proves): a plain
        # Window.partitionBy(group).orderBy(okey) running SUM does not
        # get Spark's WindowGroupLimit pushdown (that only fires for
        # rank-filter shapes), so a hot source's ENTIRE survivor set
        # would sort through ONE window task — a straggler by
        # construction at 5-10 sources / 100 TB. Instead: rows land in
        # ``cap_range_buckets`` range buckets of the uniform 32-bit hash
        # key (bucket = top bits, so bucket order majorizes key order
        # and concatenating buckets preserves the (okey, id) total
        # order); the within-(group, bucket) running count is an
        # ordinary partitioned window, and the cross-bucket prefix
        # offsets come from a (groups × buckets)-row aggregate broadcast
        # back. Same _crank, bit for bit.
        shift = 32 - max(cap_range_buckets - 1, 1).bit_length()
        # null group = a group like any other: coalesce to a sentinel so
        # the offsets join (null keys never equal) matches the window's
        # null-partition semantics
        cgrp = F.coalesce(F.col(cap_group_col).cast("string"),
                          F.lit("\u0000<null>"))
        g = (g.withColumn("_ckey", okey)
             .withColumn("_cbkt",
                         F.shiftrightunsigned(F.col("_ckey"), shift)
                         .cast("int"))
             .withColumn("_cgrp", cgrp))
        wloc = (Window.partitionBy("_cgrp", "_cbkt")
                .orderBy(F.col("_ckey").asc(),
                         F.col(id_col).asc_nulls_first())
                .rowsBetween(Window.unboundedPreceding, 0))
        g = g.withColumn("_clocal", F.sum(s2_keep.cast("int")).over(wloc))
        per_bkt = (g.groupBy("_cgrp", "_cbkt")
                   .agg(F.sum(s2_keep.cast("int")).alias("_cbn")))
        woff = (Window.partitionBy("_cgrp")
                .orderBy(F.col("_cbkt").asc())
                .rowsBetween(Window.unboundedPreceding, -1))
        offsets = (per_bkt
                   .withColumn("_coff", F.coalesce(F.sum("_cbn").over(woff),
                                                   F.lit(0)))
                   .select("_cgrp", "_cbkt", "_coff"))
        g = (g.join(F.broadcast(offsets), ["_cgrp", "_cbkt"])
             .withColumn("_crank", F.col("_coff") + F.col("_clocal")))
        cap_drop = s2_keep & (F.col("_crank") > cap)
    else:
        cap_drop = F.lit(False)
    s3_keep = s2_keep & ~cap_drop
    if fractions is not None or default_fraction < 1.0:
        sbucket = md5_order_key(F.col(id_col), f"{salt}:sample") % 10_000
        sample_keep = stratum_keep_expr(F.col(strata_col), fractions or {},
                                        default_fraction, sbucket)
        sample_drop = s3_keep & ~sample_keep
    else:
        sample_drop = F.lit(False)
    s4_keep = s3_keep & ~sample_drop
    weights = split_weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    split = split_assign_expr(md5_order_key(F.col(id_col), salt) % 10_000,
                              weights)
    stage = (F.when(~q_keep, F.lit("quality"))
             .when(dedup_drop, F.lit("dedup"))
             .when(near_drop, F.lit("near_dup"))
             .when(cap_drop, F.lit("cap"))
             .when(sample_drop, F.lit("sample")))
    return g.select(
        id_col,
        stage.alias("drop_stage"),
        F.concat_ws(",", "drop_reasons").alias("drop_reasons"),
        F.when(s4_keep, split).alias("split"),
    )


def curation_report(ledger: DataFrame) -> DataFrame:
    """Per-stage yield accounting over a :func:`curation_ledger` —
    ``(stage, n_docs)`` with survivors under their split name. One
    aggregate over the ledger."""
    return (ledger
            .groupBy(F.coalesce(F.col("drop_stage"),
                                F.concat(F.lit("kept:"), F.col("split")))
                     .alias("stage"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy("stage"))


def dedup_minhash_by_priority(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    cc_max_iter: int = 25,
) -> DataFrame:
    """Near-dup dedup keeping the BEST doc per duplicate cluster instead
    of the lowest id — the production keep-rule (a curation pipeline keeps
    the highest-quality copy, not an arbitrary one). Resolves full
    transitive clusters via :func:`connected_components`, then keeps the
    argmax of ``score_col`` per cluster (ties → lowest id, so the result
    is deterministic). Cluster resolution is required for a priority rule:
    greedy pairwise keep-best is not transitively consistent (A beats B,
    B beats C, but A and C never met). Extra cost over id-keep is one
    window over the (small) labelled-cluster table only."""
    from pyspark.sql.window import Window

    sets = shingle_hash_sets(df, text_col, id_col, shingle_n, persist=True)
    cand = minhash_candidates(df, text_col, id_col, num_hashes, bands,
                              shingle_n, sets=sets)
    dup_pairs = jaccard_pairs(df, text_col, id_col, shingle_n, threshold,
                              candidates=cand, sets=sets)
    cc = connected_components(dup_pairs, max_iter=cc_max_iter)
    scored = cc.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score")),
        "id")
    w = Window.partitionBy("component").orderBy(
        F.desc("_score"), F.asc("id"))
    drop = (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col("id").alias(id_col)))
    from pyspark import StorageLevel

    drop = drop.persist(StorageLevel.MEMORY_AND_DISK)
    drop.count()
    sets.unpersist()
    cc.unpersist()
    return df.join(drop, id_col, "left_anti")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over an undirected pair list: returns one row
    ``(id, component)`` per distinct id, where ``component`` is the minimum
    id reachable from it (the canonical cluster label of duplicate-group
    dedup).

    Algorithm: alternating **large-star / small-star** rounds (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond") — each round
    is two groupBy-min aggregations + joins over the EDGE list only (never
    the corpus), and the edge set provably converges to a forest of
    min-rooted stars in **O(log² n) rounds (O(log n) in practice)**,
    independent of graph diameter — an adversarial length-L chain needs
    ~log L rounds, not L (the weakness of plain min-label propagation).
    Per-round state is just the current pair list; with ``checkpoint_dir``
    set it checkpoints to reliable storage every round so executor loss
    mid-iteration cannot kill the run (see :func:`_cc_round_barrier`).
    Driver traffic per round is one (count, checksum) aggregate row.

    ``checkpoint_dir`` is a SCOPED lifecycle (:class:`_ScopedCheckpointDir`):
    the session's previous checkpoint dir is restored on exit (success or
    failure), and on successful convergence this run's UUID-scoped round
    files are deleted — the returned labelling is local-checkpointed first,
    so it stays valid after the files are gone (persist the sink write for
    durability). On non-convergence the files are KEPT for post-mortem.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    convergence (returning a half-converged labelling would silently
    split clusters)."""
    scope: _ScopedCheckpointDir | None = None
    if checkpoint_dir is not None:
        scope = _ScopedCheckpointDir(pairs.sparkSession, checkpoint_dir)
    try:
        out = _connected_components_body(pairs, id_a, id_b, max_iter,
                                         checkpoint_dir)
    finally:
        if scope is not None:
            scope.restore()
    if scope is not None:
        # sever the labelling's lineage from the reliable round files
        # before deleting them (cache eviction could otherwise trigger a
        # recompute into missing checkpoints)
        cp = out.localCheckpoint(eager=True)
        out.unpersist()
        out = cp
        scope.cleanup()
    return out


def _connected_components_body(pairs: DataFrame, id_a: str, id_b: str,
                               max_iter: int,
                               checkpoint_dir: str | None) -> DataFrame:
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # nodes from the UNfiltered pair list: an id appearing only in
    # self-pairs (u, u) must still get its (u, u) labelling row. Null ids
    # are excluded — they can never join an edge (null equality) and a
    # (null, null) labelling row is meaningless
    nodes = (raw.select(F.col("a").alias("id"))
             .union(raw.select(F.col("b").alias("id")))
             .filter(F.col("id").isNotNull()).distinct())
    e0 = raw.filter(F.col("a") != F.col("b"))
    from pyspark import StorageLevel

    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count()

    def large_star(e: DataFrame) -> DataFrame:
        # gather full neighborhoods; connect every LARGER neighbor to the
        # neighborhood minimum (incl. self)
        d = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = d.groupBy("a").agg(F.min("b").alias("_m")).select(
            "a", F.least(F.col("a"), F.col("_m")).alias("_m"))
        return (d.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("_m").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())

    def small_star(e: DataFrame) -> DataFrame:
        # key every edge by its larger endpoint; connect the smaller
        # neighbors AND the node itself to the minimum
        d = e.select(F.greatest("a", "b").alias("a"),
                     F.least("a", "b").alias("b"))
        mins = d.groupBy("a").agg(F.min("b").alias("_m"))
        leaves = (d.join(mins, "a")
                  .filter(F.col("b") != F.col("_m"))
                  .select(F.col("b").alias("a"), F.col("_m").alias("b")))
        centers = mins.select(F.col("a"), F.col("_m").alias("b"))
        return (leaves.union(centers)
                .filter(F.col("a") != F.col("b")).distinct())

    def checksum(e: DataFrame):
        # decimal(38,0) accumulator: a long sum of xxhash64 values
        # overflows under ANSI arithmetic
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    edges = _cc_round_barrier(e0.distinct(), checkpoint_dir)
    prev = checksum(edges)
    converged = False
    for _ in range(max_iter):
        edges = _cc_round_barrier(small_star(large_star(edges)),
                                  checkpoint_dir)
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged and prev[0] > 0:
        # one verification round: a graph converging on exactly round
        # max_iter must not raise spuriously
        cur = checksum(_cc_round_barrier(small_star(large_star(edges)),
                                         checkpoint_dir))
        if cur != prev:
            nodes.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "star rounds — raise max_iter")
    # converged: every edge is (leaf, component-min); centers have no
    # outgoing edge and label themselves
    lab = edges.groupBy(F.col("a").alias("id")).agg(
        F.min("b").alias("_comp"))
    out = (nodes.join(lab, "id", "left")
           .select("id", F.coalesce("_comp", F.col("id")).alias("component")))
    # materialize the (small) labelling so the nodes cache can be freed
    # deterministically; the returned frame stays persisted (LRU-evictable,
    # recomputable lineage) — callers may unpersist it when done
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    nodes.unpersist()
    return out


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    strategy: str = "greedy",
    cc_max_iter: int = 25,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup dedup: LSH candidates → exact-Jaccard verify → drop
    duplicates. One cached tokenize+hash pass feeds both the LSH banding
    and the verify joins.

    ``strategy='greedy'`` (default) drops the higher id of each
    ≥threshold pair in one pass — the standard MinHash-dedup recipe, zero
    extra shuffles. It over-keeps nodes that are the local min of their
    own pairs but not of their transitive cluster (a-5, 2-5 keeps both a
    and 2). ``strategy='components'`` resolves full transitive clusters
    via :func:`connected_components` and keeps exactly one doc (the min
    id) per cluster — a few extra bounded shuffles over the (small) pair
    list only, never over the corpus. ``cc_max_iter`` passes through to
    :func:`connected_components`.

    Cache hygiene: when the shingle sets are created here, the (small)
    drop list is materialized and the corpus-sized caches (sets, cluster
    labelling) are unpersisted before returning — repeated calls in a
    long-lived session accumulate no corpus-sized blocks; only the small
    drop list backing the returned anti-join stays cached (LRU-evictable,
    freed by the ContextCleaner when the result is collected). Pass
    ``sets`` (from :func:`shingle_hash_sets`) to share a caller-managed
    pass instead; then its lifecycle stays with the caller."""
    if strategy not in ("greedy", "components"):
        raise ValueError(f"unknown dedup strategy: {strategy!r}")
    own_sets = sets is None
    if own_sets:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n,
                                 persist=True)
    cand = minhash_candidates(df, text_col, id_col, num_hashes, bands,
                              shingle_n, sets=sets)
    dup_pairs = jaccard_pairs(df, text_col, id_col, shingle_n, threshold,
                              candidates=cand, sets=sets)
    from pyspark import StorageLevel

    if strategy == "components":
        cc = connected_components(dup_pairs, max_iter=cc_max_iter)
        drop = (cc.filter(F.col("id") != F.col("component"))
                .select(F.col("id").alias(id_col))
                .persist(StorageLevel.MEMORY_AND_DISK))
        drop.count()
        cc.unpersist()
    else:
        # materialize the (small) drop list so the corpus-sized shingle
        # cache can be freed deterministically below
        drop = (dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
                .persist(StorageLevel.MEMORY_AND_DISK))
        drop.count()
    if own_sets:
        sets.unpersist()
    # the one frame left cached is the duplicate-id drop list backing the
    # returned anti-join — small by construction, LRU-evictable, and freed
    # by the ContextCleaner when the returned frame is garbage-collected
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash — 64-bit near-dup fingerprint, numpy-vectorized over Arrow batches
# ---------------------------------------------------------------------------


def _simhash_udf():
    """Arrow-batched SimHash over shingle-hash arrays: per bit b, count the
    1-bits per doc (``np.add.reduceat`` of ``(h >> b) & 1``); bit b of the
    fingerprint is 1 iff strictly more shingles vote 1 than 0. 64 light
    passes over the flattened batch — O(batch shingles) memory."""

    @F.pandas_udf("long")
    def sh(hs):  # pd.Series[np.ndarray] -> pd.Series[int64]
        import numpy as np
        import pandas as pd

        flat, offsets, lens, nonempty = _flatten_hash_arrays(hs)
        out = np.zeros(len(hs), dtype=np.uint64)
        if len(flat):
            n_sh = lens[nonempty].astype(np.uint64)
            acc = np.zeros(len(offsets), dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat((flat >> np.uint64(b)) & np.uint64(1),
                                       offsets)
                acc |= (np.uint64(2) * ones > n_sh).astype(np.uint64) \
                    << np.uint64(b)
            out[nonempty] = acc
        return pd.Series(out.view(np.int64))

    return sh


def simhash(col: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash over distinct token n-gram shingles: per bit, majority
    vote of the shingle hashes' bits packs into one bigint; Hamming distance
    approximates set similarity. Shingle hashing is JVM-side, the 64-way
    bit-vote expansion numpy-vectorized (a HOF expression here builds ~4,000
    interpreted nodes per row — measured ~1,000× slower). Empty docs ⇒ 0."""
    return _simhash_udf()(hashed_shingles(col, shingle_n))


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 2,
                  sets: DataFrame | None = None) -> DataFrame:
    """(id, simhash) for non-empty docs — empties are never near-dup
    candidates (and an all-zero fingerprint would pair every empty doc).
    ``sets`` (from :func:`shingle_hash_sets`, same ``shingle_n``) lets
    callers share one cached tokenize+hash pass."""
    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n)
    return (
        sets
        .filter(F.col("n_sh") > 0)
        .select(F.col("_id").alias(id_col),
                _simhash_udf()(F.col("_sh")).alias("simhash"))
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       shingle_n: int = 2,
                       sets: DataFrame | None = None) -> DataFrame:
    """Near pairs by SimHash: block on 4 × 16-bit chunks (two fingerprints
    within Hamming ≤ 3 of 64 bits agree exactly on ≥ 1 of 4 chunks —
    pigeonhole), join per chunk, verify Hamming. Same
    candidates-by-key-join shape as MinHash LSH. The (id, simhash) table —
    16 bytes/doc — is persisted so the signature pass runs once, not once
    per self-join side; the (small) pair result is materialized eagerly and
    that cache unpersisted before returning, so repeated calls don't leak
    cached blocks (the returned pair frame stays persisted; callers may
    unpersist it)."""
    from pyspark import StorageLevel

    t = simhash_table(df, text_col, id_col, shingle_n, sets=sets).persist(
        StorageLevel.MEMORY_AND_DISK)
    chunked = t.select(
        F.col(id_col).alias("_id"), "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), i * 16)
                .bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"))
            for i in range(4)
        ])).alias("c"),
    ).select("_id", "simhash", "c.chunk_idx", "c.chunk_val")
    pairs = (
        chunked.alias("a").join(
            chunked.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash"))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    t.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# Repetition filters — Gopher/MassiveText-style quality signals
# (Rae et al. 2021, "Scaling Language Models", App. A — public paper)
# ---------------------------------------------------------------------------


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals used as pretraining quality gates:
    ``dup_line_frac`` (fraction of lines that are repeats of an earlier
    line) and ``dup_token_frac`` (fraction of tokens that are repeats).
    Pure projection — array_distinct per row, no shuffle, so it runs at
    scan speed on any corpus size."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    n_lines = F.when(c.isNull(), F.lit(0)).otherwise(F.size(lines))
    return df.select(
        "*",
        F.round(_dup_token_frac_raw(c), 6).alias("dup_token_frac"),
        n_lines.alias("n_lines"),
        F.round(F.when(c.isNull(), F.lit(0.0)).otherwise(
            (n_lines - F.size(F.array_distinct(lines)))
            / F.greatest(n_lines, F.lit(1))), 6).alias("dup_line_frac"),
    )


def _gram_strings_udf(n: int):
    """Arrow-batched token n-gram strings (ALL occurrences, not distinct —
    occurrence counts are the point). Same tokenization and short-doc
    semantics as :func:`shingles`, but computed in one vectorized pass: the
    equivalent HOF Column expression evaluates interpreted inside the
    Generate and re-derives the token split per reference (measured ~10×
    slower on 5k docs)."""

    @F.pandas_udf("array<string>")
    def g(texts):  # pd.Series[str] -> pd.Series[list[str]]
        import re

        import pandas as pd

        ws = re.compile(r"\S+", re.ASCII)
        out = []
        for t in texts:
            toks = ws.findall(t) if isinstance(t, str) else []
            k = len(toks)
            if k == 0:
                out.append([])
            elif k < n:
                out.append([" ".join(toks)])
            else:
                out.append([" ".join(toks[i:i + n]) for i in range(k - n + 1)])
        return pd.Series(out)

    return g


def _top_gram_udf(n: int):
    """Arrow-batched per-doc top token n-gram: ``struct<top_gram,
    top_count>`` — the most frequent gram, ties to the lexicographically
    smallest (``np.unique`` sorts ascending in code-point order, which
    equals Spark's UTF-8 binary string order, and ``argmax`` returns the
    FIRST maximum). Same tokenization and short-doc semantics as
    :func:`shingles`/:func:`_gram_strings_udf`."""

    @F.pandas_udf("struct<top_gram: string, top_count: bigint>")
    def tg(texts):
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\S+", re.ASCII)
        grams_out: list = []
        counts_out: list = []
        for t in texts:
            toks = ws.findall(t) if isinstance(t, str) else []
            k = len(toks)
            if k == 0:
                grams = []
            elif k < n:
                grams = [" ".join(toks)]
            else:
                grams = [" ".join(toks[i:i + n]) for i in range(k - n + 1)]
            if not grams:
                grams_out.append(None)
                counts_out.append(None)
                continue
            u, c = np.unique(np.asarray(grams, dtype=object),
                             return_counts=True)
            i = int(np.argmax(c))
            grams_out.append(u[i])
            counts_out.append(int(c[i]))
        return pd.DataFrame({"top_gram": grams_out, "top_count": counts_out})

    return tg


def top_ngram_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Most frequent token n-gram per doc (Gopher's "top n-gram character
    fraction" filter): ``(id, top_gram, top_count, top_frac)`` where
    ``top_frac`` ≈ occurrences × gram length / text length (overlaps
    ignored). Ties break to the lexicographically smallest gram so the
    result is deterministic across engines.

    Shape at scale: ONE narrow Arrow pass — the top gram is a per-doc
    reduction, so it is computed inside the gram UDF itself
    (:func:`_top_gram_udf`) instead of exploding every gram occurrence
    through a (doc, gram) aggregate plus a per-doc window (the r6
    rewrite: two doc-keyed shuffles and a sort removed; the fraction
    arithmetic stays in the JVM, bit-identical)."""
    c = F.col(text_col)
    base = df.filter(c.isNotNull()
                     & (F.regexp_replace(c, WS_STRIP, "") != "")).select(
        F.col(id_col),
        F.length(c).alias("_nc"),
        _top_gram_udf(n)(c).alias("_t"),
    )
    return base.select(
        id_col,
        F.col("_t.top_gram").alias("top_gram"),
        F.col("_t.top_count").cast("long").alias("top_count"),
        F.round(F.col("_t.top_count") * F.length("_t.top_gram")
                / F.greatest(F.col("_nc"), F.lit(1)), 6)
        .alias("top_frac"))


def duplicated_ngram_fraction(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", shingle_n: int = 3,
                              min_df: int = 2,
                              sets: DataFrame | None = None) -> DataFrame:
    """Cross-document SPAN duplication per doc — ``(id, n_grams, n_dup,
    dup_frac)``: the fraction of a document's distinct token n-grams that
    also occur in at least ``min_df`` documents corpus-wide. The signal
    behind substring-level train-set dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a doc
    that is 60% made of corpus-repeated spans is boilerplate/template
    material even when no single WHOLE document matches it (which is why
    doc-level MinHash and line-level dedup both miss it).

    Shape at scale: the per-doc shingle sets (shared cacheable pass,
    ``sets``) explode to (gram-hash, id); gram document-frequencies are
    one long-keyed aggregate (map-side combined; result ≈ unique-gram
    cardinality); flagged grams join back by hash. Never any doc×doc
    comparison."""
    own = sets is None
    if own:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n)
    ex = sets.select("_id", F.explode("_sh").alias("_g"))
    dfreq = (ex.groupBy("_g")
             .agg(F.count(F.lit(1)).alias("_df"))
             .filter(F.col("_df") >= min_df)
             .select("_g", F.lit(1).alias("_dup")))
    return (
        ex.join(dfreq, "_g", "left")
        .groupBy(F.col("_id").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
             F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long")
             .alias("n_dup"))
        .select(id_col, "n_grams", "n_dup",
                F.round(F.col("n_dup").cast("double") / F.col("n_grams"), 9)
                .alias("dup_frac"))
    )


def salient_terms(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-``k`` salient terms per document with tf-idf weights:
    ``(id, term, tf, df, tfidf, term_rank)``. Terms are lowercased
    whitespace tokens; ``tfidf = tf × (ln((N+1)/(df+1)) + 1)`` (smoothed,
    sklearn-style) with N = number of documents containing ≥1 token.

    Ranking is the EXACT integer order ``(tf DESC, df ASC, term ASC)`` —
    most frequent, then rarest — deliberately NOT the float product:
    libm ``ln`` may differ by an ulp across engines and integer-coincident
    scores (tf=2,df+1=3 vs tf=1,df+1=9 at equal N collide exactly in ℝ)
    would make a float rank engine-dependent. The rounded ``tfidf``
    column is informational payload.

    Shape at scale: doc-keyed explode+aggregate (partial map-side
    combine), a term-keyed document-frequency aggregate whose result is
    vocab-sized (Catalyst/AQE broadcasts it back when it fits — hot terms
    skew only the pre-combined partials), and one doc-keyed top-k
    window. The (doc, term, tf) table feeds three plan branches (df
    aggregate, N-docs denominator, the ranked join itself), so it is
    persisted for the call and freed after the small top-k result
    materializes — without it the tokenize+explode+aggregate ran once
    per branch."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    c = F.col(text_col)
    toks = df.filter(
        c.isNotNull() & (F.regexp_replace(c, WS_STRIP, "") != "")
    ).select(F.col(id_col), F.explode(tokens(F.lower(c))).alias("term"))
    tf = (toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = tf.select(F.count_distinct(id_col).alias("_n"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    out = (
        tf.join(dfreq, "term")
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .crossJoin(F.broadcast(ndocs))
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                F.round(F.col("tf") * (F.log((F.col("_n") + 1.0)
                                             / (F.col("df") + 1.0)) + 1.0),
                        6).alias("tfidf"),
                F.col("term_rank").cast("int").alias("term_rank"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    tf.unpersist()
    return out


def ngram_overlap(corpus: DataFrame, eval_df: DataFrame,
                  shingle_n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id",
                  eval_id_col: str = "eval_id") -> DataFrame:
    """Token-n-gram overlap decontamination ratio (the GPT-3-appendix-C
    method, which screened on 13-gram collisions): for every eval item,
    the fraction of its DISTINCT token n-grams that occur anywhere in the
    training corpus — ``(eval_id, n_grams, n_matched, overlap_ratio)``.
    1.0 ⇒ verbatim containment; high partial values catch paraphrase /
    quote leakage that exact-dedup misses. Complements
    :func:`winnow_contamination` (which localizes matches to documents;
    this scores corpus-level saturation per eval item).

    Shape at scale: the corpus side reduces to a DISTINCT shingle-hash
    set (one doc-local dedup + one long-keyed distinct — ≈ unique-token-
    n-gram cardinality, never doc×gram rows), and the eval side (small by
    nature) LEFT-joins it on int64 keys; the ratio is exact integer
    division. Never an all-pairs comparison."""
    corpus_sh = (
        corpus.select(F.explode(
            hashed_shingles(F.col(text_col), shingle_n)).alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = eval_df.select(
        F.col(eval_id_col),
        F.explode(hashed_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    )
    return (
        ev.join(corpus_sh, "_sh", "left")
        .groupBy(eval_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
             F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
             .alias("n_matched"))
        .select(eval_id_col, "n_grams", "n_matched",
                F.round(F.col("n_matched").cast("double") / F.col("n_grams"),
                        9).alias("overlap_ratio"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing — regex redaction (email / IPv4 / intl-phone), pure
# projection; patterns restricted to the Java-regex ∩ RE2 common subset
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d\- ]{7,}\d",  # intl form only — deterministic
}

_PII_ORDER = ("email", "ipv4", "phone")  # emails before ips (dots overlap)


def pii_counts(col: Column) -> Column:
    """Struct of per-category PII match counts (email, ipv4, phone)."""
    return F.struct(*[
        F.coalesce(F.regexp_count(col, F.lit(PII_PATTERNS[k])), F.lit(0))
        .alias(k) for k in _PII_ORDER
    ])


def scrub_pii(col: Column) -> Column:
    """Redact PII in place: emails → ``<EMAIL>``, IPv4 → ``<IP>``,
    international-format phones → ``<PHONE>``. Chained global
    regexp_replace — one JVM projection pass, no Python, no shuffle."""
    out = col
    for k, token in (("email", "<EMAIL>"), ("ipv4", "<IP>"),
                     ("phone", "<PHONE>")):
        out = F.regexp_replace(out, PII_PATTERNS[k], token)
    return out


def pii_reuse(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_ids: int = 2,
    categories: Sequence[str] = _PII_ORDER,
) -> DataFrame:
    """Cross-document PII reuse: identifiers (emails / IPv4s / phones,
    the :data:`PII_PATTERNS` contract) appearing in ≥ ``min_ids``
    DISTINCT documents — ``(category, token, n_docs, n_hits,
    sample_id)``. A single person's email recurring across many training
    documents is the memorization-risk profile a scrub-only pass never
    surfaces (scrubbing redacts each occurrence but reports nothing
    about concentration), and in transcripts it flags identity leakage
    across supposedly-independent conversations.

    Shape at scale: one JVM ``regexp_extract_all`` projection per
    category (no Python), exploded — the exploded frame is
    match-count-sized, a sliver of the corpus — then ONE aggregate on
    (category, token). ``n_docs`` is a distinct count of ids,
    ``n_hits`` total occurrences, ``sample_id`` the MIN id
    (deterministic)."""
    parts = [
        df.select(
            F.lit(cat).alias("category"),
            F.col(id_col).alias("_id"),
            F.explode(
                # idx=0 — whole match (Spark defaults to group 1)
                F.regexp_extract_all(F.col(text_col),
                                     F.lit(PII_PATTERNS[cat]), 0)
            ).alias("token"),
        )
        for cat in categories
    ]
    allm = reduce(DataFrame.unionAll, parts)
    return (
        allm.groupBy("category", "token")
        .agg(F.countDistinct("_id").cast("long").alias("n_docs"),
             F.count(F.lit(1)).cast("long").alias("n_hits"),
             F.min("_id").alias("sample_id"))
        .filter(F.col("n_docs") >= int(min_ids))
        .orderBy("category", "token")
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting — subword-style segmentation count, pure regex
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer, restricted to the RE2∩Java-regex common subset
# (no lookahead): contractions, space-prefixed letter runs, digit runs,
# punctuation runs. Runs of extra whitespace are not counted — a documented
# divergence from GPT-2's trailing-space tokens.
BPE_ISH_PATTERN = (r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
                   r"| ?[^A-Za-z0-9 \t\n\f\r\x0B']+")


def bpe_token_count(col: Column) -> Column:
    """Approximate subword token count via the GPT-2-style pretokenizer
    regex — the standard cheap 'how many LLM tokens is this' estimate for
    pipeline budgeting. One JVM regexp pass, no shuffle; null ⇒ 0."""
    return F.coalesce(F.regexp_count(col, F.lit(BPE_ISH_PATTERN)), F.lit(0))


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash) fingerprints — MOSS-style local document
# fingerprinting over character k-grams
# ---------------------------------------------------------------------------


def winnow_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set (array<bigint>): hash every character
    k-gram (polynomial rolling hash over UTF-8 bytes), slide a window of
    ``w`` hashes, keep each window's minimum — the classic MOSS guarantee:
    any match of length ≥ k + w − 1 between two documents shares a selected
    fingerprint. Arrow-batched numpy, batch-global (round 6): the whole
    batch's bytes are concatenated once, the k-gram rolling hash runs as k
    shifted-add passes over the one array (sum of the same products
    mod 2^64 — bit-identical to the per-doc formulation), the w-window min
    runs once globally, and each doc slices out its valid range (window
    positions spanning a doc boundary are computed but discarded — k+w−2
    wasted lanes per boundary). Texts shorter than k keep the per-doc
    whole-text hash. Measured 2.4× over the per-doc stride-tricks/matmul
    kernel on the bench corpus, outputs equal array-for-array."""

    @F.pandas_udf("array<bigint>")
    def fp(texts):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        # mod-2^64 wraparound is intentional (rolling-hash arithmetic);
        # build via Python ints to avoid numpy's overflow RuntimeWarning
        base = 1099511628211  # FNV prime as the rolling base
        powers = np.array([pow(base, i, 1 << 64) for i in range(k)],
                          dtype=np.uint64)
        empty = np.empty(0, dtype=np.int64)
        out = [empty] * len(texts)
        bufs = []  # (output slot, utf-8 bytes) for docs with ≥ k bytes
        for i, t in enumerate(texts):
            if not isinstance(t, str) or not t.strip(" \t\n\f\r\x0b"):
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(b) < k:
                h = (_splitmix64((b.astype(np.uint64) * powers[:len(b)])
                                 .sum(dtype=np.uint64, keepdims=True)))
                out[i] = h.view(np.int64)
                continue
            bufs.append((i, b))
        if not bufs:
            return pd.Series(out)
        lens = np.fromiter((len(b) for _, b in bufs), dtype=np.int64,
                           count=len(bufs))
        starts = np.zeros(len(bufs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        cat = np.concatenate([b for _, b in bufs]).astype(np.uint64)
        nh = cat.size - k + 1
        hashes = np.zeros(nh, dtype=np.uint64)
        for j in range(k):
            hashes += cat[j:j + nh] * powers[j]
        hashes = _splitmix64(hashes)
        if nh > w:
            mins = sliding_window_view(hashes, w).min(axis=1)
            # adjacent windows usually share their min — a global
            # consecutive-dedup marker shrinks each unique() input ~w×
            keep = np.empty(mins.size, dtype=bool)
            keep[0] = True
            np.not_equal(mins[1:], mins[:-1], out=keep[1:])
        for (slot, _), s, n in zip(bufs, starts, lens):
            hn = int(n) - k + 1  # this doc's hash count
            if hn <= w:
                sel = hashes[s:s + hn].min(keepdims=True)
            else:
                e = s + hn - w + 1
                km = keep[s:e].copy()
                km[0] = True  # the doc's first window is always kept
                sel = mins[s:e][km]
            out[slot] = np.unique(sel).view(np.int64)
        return pd.Series(out)

    return fp(col)


def winnow_fingerprint_table(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 8,
                             w: int = 4) -> DataFrame:
    """(_id, _fp: array<bigint>) — selected winnowing fingerprints per doc."""
    return df.select(F.col(id_col).alias("_id"),
                     winnow_fingerprints(F.col(text_col), k, w).alias("_fp"))


def _pair_emit_blob_batches(n_buckets: int, key_bits: int = 64):
    """Kernel factory — packed-key pair GENERATION with blob-packed
    output: each input row is one fingerprint's posting list of dense
    representative codes in ``[0, n_reps)`` (see
    :func:`winnow_match_pairs`), not the caller's doc ids; every
    co-occurrence event becomes one packed key ``id_a << half | id_b``
    (id_a < id_b; ``half`` = 16 in a uint32 key, 32 in an int64 one).
    The caller sizes ``key_bits`` from ``n_reps``, so the id-domain
    ``ValueError`` below only fires for ``n_reps ≥ 2³¹``, which no key
    width here can pack; it stays as a guard against emitting overflowed
    keys. Events are bucketed by
    ``pk % n_buckets`` (a pure function of the pair, so every occurrence
    of a pair lands in the same bucket no matter which task emits it),
    and each (input-batch, bucket) slice ships as ONE ``binary`` cell of
    raw little-endian key bytes.  Two measured facts drive this shape:
    per-task partial aggregation combined only 0.6% of events (a pair's
    shared prints land in different tasks — the per-task sort bought
    nothing), and a row-per-event exchange of the same 177M events cost
    ~35s of pure row-conversion/shuffle overhead while generation itself
    took 3.5s.  Blob cells move the same bytes through the shuffle as a
    few thousand rows instead of 1.8×10⁸ (guide §2.3 / §4.2: shuffle
    fewer *rows*, keep whole batches in native code)."""
    import numpy as np
    import pandas as pd

    half = key_bits // 2
    dt = np.uint32 if key_bits == 32 else np.int64
    # id_a << half must fit the key: 16 bits in a uint32, 31 in an int64
    id_cap = 1 << half if key_bits == 32 else 1 << 31

    def gen(it):
        for pdf in it:
            ks = []
            for ids in pdf["_ids"]:
                a = np.sort(np.asarray(ids, dtype=np.int64))
                if a.size < 2:
                    continue
                if a[0] < 0 or a[-1] >= id_cap:
                    raise ValueError(
                        f"pair blob kernel: ids must lie in [0, {id_cap}) "
                        f"for {key_bits}-bit keys, got a posting list "
                        f"spanning [{a[0]}, {a[-1]}]")
                ia, ib = np.triu_indices(a.size, k=1)
                ks.append(((a[ia] << half) | a[ib]).astype(dt, copy=False))
            if not ks:
                continue
            kk = np.concatenate(ks)
            del ks
            b = kk % n_buckets
            order = np.argsort(b, kind="stable")
            kk = kk[order]
            b = b[order]
            bounds = np.searchsorted(b, np.arange(n_buckets + 1))
            out_b, out_blob = [], []
            for i in range(n_buckets):
                s, e = bounds[i], bounds[i + 1]
                if s == e:
                    continue
                out_b.append(i)
                out_blob.append(kk[s:e].tobytes())
            yield pd.DataFrame({"bucket": np.asarray(out_b, dtype=np.int64),
                                "blob": out_blob})

    return gen


def _pair_merge_blob_batches(min_shared: int, key_bits: int = 64):
    """Kernel factory for the packed-key pair COUNT: the exchange
    co-locates all blobs of a bucket (and therefore every occurrence of
    a pair); concatenate the partition's blobs, one ``np.sort`` +
    run-length count, apply ``min_shared`` BEFORE emitting — the
    ≥-filter drops ~99.97% of pairs on the profile corpus, so the
    kernel's output is final-result-sized.  Replaces a JVM hash
    aggregate whose ~1.7×10⁸-key state spilled (measured 50s of the 84s
    profile query).

    Invariant: every bucket must be PARTITION-COMPLETE — all of its
    blobs in one call of this kernel — because ``min_shared`` is applied
    per partition.  The caller guarantees it with
    ``repartition(col("bucket"))``; do not replace that with a rebalance
    hint (AQE may split a skewed bucket), a coalesce or any other split,
    or a pair whose events span partitions is dropped or emitted twice
    with partial counts."""
    import numpy as np
    import pandas as pd

    half = key_bits // 2
    dt = np.uint32 if key_bits == 32 else np.int64
    mask = (1 << half) - 1

    def merge(it):
        chunks = []
        for pdf in it:
            for blob in pdf["blob"]:
                chunks.append(np.frombuffer(blob, dtype=dt))
        if not chunks:
            return
        kk = np.concatenate(chunks) if len(chunks) > 1 else chunks[0].copy()
        del chunks
        kk.sort()
        new = np.empty(kk.size, dtype=bool)
        new[0] = True
        np.not_equal(kk[1:], kk[:-1], out=new[1:])
        idx = np.flatnonzero(new)
        cnt = np.diff(np.append(idx, kk.size))
        keep = cnt >= min_shared
        ku = kk[idx][keep].astype(np.int64, copy=False)
        yield pd.DataFrame({"id_a": ku >> half, "id_b": ku & mask,
                            "shared_fp": cnt[keep]})

    return merge


def winnow_match_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 8, w: int = 4,
                       min_shared: int = 2, max_df: int | None = 50,
                       max_df_frac: float | None = None,
                       prints: DataFrame | None = None,
                       exploded: DataFrame | None = None,
                       rare: DataFrame | None = None,
                       groups: DataFrame | None = None) -> DataFrame:
    """Local-similarity pairs ``(id_a, id_b, shared_fp)`` — docs sharing ≥
    ``min_shared`` winnowing fingerprints, i.e. at least one common run of
    ~k+w−1 characters per shared print (the MOSS plagiarism/contamination
    detector). Candidates come from fingerprint-equality co-occurrence
    (keyed on a long), never all-pairs — the same blocking shape as
    MinHash LSH, but sensitive to LOCAL overlap (quotes, boilerplate,
    contamination) rather than whole-document similarity.

    ``max_df`` drops fingerprints appearing in more than that many docs
    before pair counting (standard MOSS stop-gram removal): corpus
    boilerplate prints form quadratic join groups AND carry no similarity
    signal — without this cap a hot 8-gram shared by 10^6 docs would
    expand to 10^12 candidate rows at scale. ``max_df_frac`` sets the cap
    as a fraction of the corpus size instead (one cheap count; an absolute
    cap over-prunes as the corpus — and every template print's df — grows
    10×). ``max_df=None`` disables the cap.

    Execution shape (output unchanged, pinned by the differential test
    against the classic exploded self-join): (1) docs with IDENTICAL
    fingerprint sets are grouped first and only one representative per
    group enters pair counting: exact re-uploads are the dominant
    duplicate class, and k identical docs shrink their every print's
    posting df by k−1, cutting the Σ C(df, 2) candidate volume
    quadratically (411M → 180M on the 75k-doc bench corpus); (2) each
    group gets a dense code in ``[0, n_reps)`` and the codes, not the
    ids, fill the posting lists — so integral, ≥ 2³¹ and string ids all
    take one path, and the packed pair key is uint32 when
    ``n_reps ≤ 2¹⁶`` and int64 otherwise; (3) pair generation packs every
    co-occurrence event into per-bucket binary blobs
    (:func:`_pair_emit_blob_batches`), ``repartition(bucket)`` co-locates
    each pair's events, and one numpy sort/run-length count per bucket
    applies ``min_shared`` before anything is emitted
    (:func:`_pair_merge_blob_batches`) — no JVM hash aggregate over
    Σ C(df, 2) keys (measured 50s of spill at 1.3M exploded rows);
    (4) the small ≥ ``min_shared`` result is expanded back through group
    members by code (inter-group pairs inherit the representative count
    — identical print sets ⇒ identical intersections; intra-group pairs
    share their whole surviving set) and emitted as the original ids,
    cast to the input id type.

    ``prints`` supplies a precomputed ``(_id, _fp)`` fingerprint table;
    ``exploded`` additionally supplies the exploded ``(_id, h)`` rows
    (caller-persisted, caller-owned lifecycle) so a session that already
    materialized them — e.g. to run several screens over one corpus —
    doesn't pay the explode twice; ``rare`` likewise supplies the
    surviving-print table (``h`` rows with df ≤ cap, caller-owned) so
    consumers that need the same df-cap result (e.g. a planted-recall
    gate over the same corpus) share one aggregate instead of re-running
    the corpus-wide groupBy; ``groups`` supplies a precomputed
    identical-print-set grouping ``(_rep, _members)`` (a representative
    id and the non-empty id list it stands for) — ANY partition of the
    corpus into
    groups of identical-set docs is exact (grouping is a performance
    device: k identical docs shrink posting dfs k-fold), so a caller that
    constructed its duplicates (e.g. re-keyed copies) can hand the
    grouping over as an unpersisted projection instead of paying the
    array aggregate — which, fed from an un-persisted prints union,
    re-evaluated the whole fingerprint pass a second time. The group
    codes are numbered once, at the driver, so every plan branch sees
    the same numbering."""
    import numpy as np
    import pyarrow as pa
    from pyspark import StorageLevel

    if max_df_frac is not None:
        max_df = max(2, int(max_df_frac * df.count()))
    t = (prints if prints is not None
         else winnow_fingerprint_table(df, text_col, id_col, k, w))
    # the exploded print table feeds several plan branches (df-cap
    # groupBy, posting lists, surviving-set counts) — persist or the
    # fingerprint UDF runs once per branch. The (small) pair result is
    # materialized eagerly and this cache unpersisted before returning,
    # so per-corpus calls in a long-lived session leave no net-new
    # corpus-sized cached blocks (the returned pair frame stays
    # persisted; callers may unpersist it).
    own_ex = exploded is None
    ex_cached = (exploded if exploded is not None
                 else t.select("_id", F.explode("_fp").alias("h"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    if rare is None:
        rare_agg = ex_cached.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        rare = (rare_agg.filter(F.col("_df") <= max_df).select("h")
                if max_df is not None else rare_agg.select("h"))
    id_type = t.schema["_id"].dataType
    # ---- identical-print-set groups (the _fp array itself is the group
    # key: the fingerprint kernel emits np.unique output, so equal sets ⇒
    # byte-identical arrays — grouping on the array directly drops the
    # md5(to_json(...)) string build, which was most of this aggregate's
    # CPU; the array-keyed exchange is corpus-row-sized and narrow.
    # Empty-set docs form a group that can never pair — no exploded rows,
    # surviving count 0 ----
    if groups is None:
        groups = (t.select(F.col("_fp").alias("_gk"), "_id")
                  .groupBy("_gk")
                  .agg(F.min("_id").alias("_rep"),
                       F.collect_list("_id").alias("_members")))
    # ---- dense group codes in [0, n_reps), numbered at the driver: the
    # group table (already the build side of the member lookup below)
    # is collected once as Arrow and re-emitted as one driver-built
    # frame, so every plan branch reads the same codes. The two member
    # lookups then plan the same broadcast, which AQE reuses; over a
    # cached frame they would not (a table-cache query stage has no
    # canonical form, so two scans of one cache never match) ----
    tbl = groups.select("_rep", "_members").toArrow()
    n_reps = tbl.num_rows
    coded = df.sparkSession.createDataFrame(tbl.append_column(
        "_code", pa.array(np.arange(n_reps, dtype=np.int64))))
    # feeds two branches (posting lists + surviving-set counts): persist,
    # or the df-cap semi-join and rare aggregate run once per branch
    exr = (ex_cached.join(rare, "h", "left_semi")
           .join(F.broadcast(coded.select(F.col("_rep").alias("_id"),
                                          "_code")), "_id")
           .select("h", "_code")
           .persist(StorageLevel.MEMORY_AND_DISK))
    # ---- representative pair counts: packed-key blob exchange (see
    # _pair_emit_blob_batches — a row-per-event exchange measured ~35s
    # of pure row overhead for 3.5s of generation). Key width follows
    # the group count: ≤ 2¹⁶ codes pack into uint32, HALF the event
    # bytes through the shuffle and the kernels. Bucket count = 4×
    # shuffle partitions so hash collisions on the bucket column still
    # balance the merge tasks (balls-in-bins) ----
    key_bits = 32 if n_reps <= 1 << 16 else 64
    try:
        shuffle_parts = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" on managed platforms
        shuffle_parts = df.sparkSession.sparkContext.defaultParallelism
    n_buckets = 4 * max(1, shuffle_parts)
    rep_pairs = (exr.groupBy("h").agg(F.collect_list("_code").alias("_ids"))
                 .mapInPandas(_pair_emit_blob_batches(n_buckets, key_bits),
                              "bucket long, blob binary")
                 .repartition(F.col("bucket"))
                 .mapInPandas(_pair_merge_blob_batches(min_shared, key_bits),
                              "id_a long, id_b long, shared_fp long"))
    # ---- expand through group members. Intra-group pairs share their
    # representative's entire surviving print set (identical sets ⇒
    # intersection = the set itself), so each such group enters as a
    # self-pair (code, code) carrying that count, and only x < y member
    # pairs of it are kept ----
    surv = exr.groupBy("_code").agg(F.count(F.lit(1)).alias("shared_fp"))
    pairs = rep_pairs.unionByName(
        surv.filter(F.col("shared_fp") >= min_shared)
        .select(F.col("_code").alias("id_a"), F.col("_code").alias("id_b"),
                "shared_fp"))
    # explode_outer, though no group is empty: an inner explode lets the
    # optimizer infer a `size(_members) > 0` filter on the member side,
    # which it takes for a selective predicate and answers with a
    # runtime bloom-filter subquery (two extra jobs)
    members = coded.select("_code", "_members")
    ga, gb = members.alias("ga"), members.alias("gb")
    out = (
        pairs
        .join(ga, F.col("id_a") == F.col("ga._code"))
        .join(gb, F.col("id_b") == F.col("gb._code"))
        .select("id_a", "id_b", F.explode_outer("ga._members").alias("_x"),
                F.col("gb._members").alias("_mb"), "shared_fp")
        .select("id_a", "id_b", "_x", F.explode_outer("_mb").alias("_y"),
                "shared_fp")
        .filter((F.col("id_a") != F.col("id_b"))
                | (F.col("_x") < F.col("_y")))
        .select(F.least("_x", "_y").cast(id_type).alias("id_a"),
                F.greatest("_x", "_y").cast(id_type).alias("id_b"),
                "shared_fp"))
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    exr.unpersist()
    if own_ex:
        ex_cached.unpersist()
    return out


def winnow_contamination(corpus: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         eval_id_col: str = "eval_id",
                         eval_text_col: str = "text",
                         k: int = 8, w: int = 4, min_shared: int = 2,
                         max_df: int | None = None,
                         max_df_frac: float | None = None,
                         prints: DataFrame | None = None) -> DataFrame:
    """Eval-set contamination screening — the canonical winnowing use
    (MOSS applied to train/test leakage): flags ``(doc_id, eval_id,
    shared_fp)`` for every corpus doc sharing ≥ ``min_shared`` selected
    fingerprints with an eval item, i.e. at least one common character run
    of ~``k+w−1`` chars per shared print. The winnowing guarantee makes
    detection DETERMINISTIC: a verbatim quote of length ≥ L contributes at
    least ``⌊(L−k+1)/w⌋ − 1`` shared selected prints, so a ~60-char quote
    always clears ``min_shared=2``.

    Shape at corpus scale: the eval-side print table is tiny (eval sets
    are by definition small) and broadcast; candidates come from a print-
    equality join against it — the corpus side is one narrow fingerprint
    projection + one hash join, no self-join, no shuffle of text.
    ``max_df``/``max_df_frac`` drops corpus-boilerplate prints first
    (df computed over the CORPUS) exactly as in
    :func:`winnow_match_pairs` — note a quote planted into more than
    ``max_df`` corpus docs would prune itself, so size the cap above the
    expected contamination rate. ``prints`` supplies a precomputed
    ``(_id, _fp)`` corpus fingerprint table (fingerprints are a pure
    function of text, so one winnow-UDF pass can serve several screens
    over the same corpus)."""
    from pyspark import StorageLevel

    if max_df_frac is not None:
        max_df = max(2, int(max_df_frac * corpus.count()))
    t = (prints if prints is not None
         else winnow_fingerprint_table(corpus, text_col, id_col, k, w))
    ce = t.select("_id", F.explode("_fp").alias("h"))
    ee = (winnow_fingerprint_table(eval_df, eval_text_col, eval_id_col, k, w)
          .select(F.col("_id").alias("_eid"), F.explode("_fp").alias("h")))
    # restrict the corpus print stream to eval-matching prints FIRST (a
    # broadcast semi-join — eval sets are tiny by definition): the df cap
    # only ever matters for prints that reach the eval join, and per-doc
    # print arrays are already deduped, so the per-h row count over the
    # matched stream IS the full-corpus df for those prints. This removes
    # a corpus-print-table-wide groupBy('h') exchange (measured: the df
    # aggregate was most of the screen's cost, shuffling ~9M rows to cap
    # prints of which only ~10⁵ could ever match) and with it the need to
    # persist the full exploded table — one pass over the corpus prints.
    matched = (ce.join(F.broadcast(ee.select("h").distinct()),
                       "h", "left_semi")
               .persist(StorageLevel.MEMORY_AND_DISK))
    side = matched
    if max_df is not None:
        rare = (matched.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df).select("h"))
        side = matched.join(F.broadcast(rare), "h", "left_semi")
    out = (
        side.join(F.broadcast(ee), "h")
        .groupBy(F.col("_id").alias(id_col), F.col("_eid").alias(eval_id_col))
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    matched.unpersist()
    return out


# ---------------------------------------------------------------------------
# Corpus language-model statistics — unigram surprise + Zipf conformity
# ---------------------------------------------------------------------------


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    rare_max_count: int = 2) -> DataFrame:
    """Per-document average surprise under the corpus's own unigram LM
    (add-one smoothing) — ``(id, n_tokens, avg_neg_logp, rare_frac)``.
    The CCNet-style quality signal: documents whose tokens are uniformly
    improbable under the corpus distribution (gibberish, OCR noise, wrong
    language, base64 blobs) score high; boilerplate scores low. Because
    the model is fit on the corpus itself, the score is a RELATIVE
    typicality measure — the standard first-stage perplexity filter in
    training-data pipelines (CCNet, Gopher/MassiveText rules) with the LM
    reduced to its exact-arithmetic unigram core so the verdict is
    oracle-reproducible.

    ``avg_neg_logp = ln(N + V) − (Σ_t c_t·ln(C_t + 1)) / n_doc`` where
    ``c_t`` is the in-doc count, ``C_t`` the corpus count, ``N`` total
    corpus tokens and ``V`` vocabulary size — the counts-only
    formulation (same trick as :func:`~valar_spark.dataset_rules.entropy`)
    so both engines evaluate the identical expression over identical
    integers. ``rare_frac`` is the fraction of doc tokens whose corpus
    count ≤ ``rare_max_count`` — an integer-exact hapax/gibberish signal.

    Shape at scale: explode is immediately reduced by a (doc, term)
    partial-combine aggregate; corpus counts are a vocab-sized second
    aggregate joined back on ``term`` (AQE broadcasts when it fits — hot
    terms skew only pre-combined partials); the final per-doc aggregate
    re-keys on the id. Two data-sized shuffles, one vocab-sized join,
    no Python."""
    c = F.col(text_col)
    toks = df.filter(
        c.isNotNull() & (F.regexp_replace(c, WS_STRIP, "") != "")
    ).select(F.col(id_col), F.explode(tokens(F.lower(c))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    corpus = tf.groupBy("term").agg(F.sum("c").alias("ct"))
    totals = corpus.agg(F.sum("ct").alias("_tot"),
                        F.count(F.lit(1)).cast("double").alias("_vocab"))
    return (
        tf.join(corpus, "term")
        .groupBy(id_col)
        .agg(F.sum("c").alias("_n"),
             F.sum(F.col("c") * F.log(F.col("ct") + 1.0)).alias("_sl"),
             F.sum(F.when(F.col("ct") <= float(rare_max_count), F.col("c"))
                   .otherwise(F.lit(0.0))).alias("_nr"))
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.col("_n").cast("long").alias("n_tokens"),
            F.round(F.log(F.col("_tot") + F.col("_vocab"))
                    - F.col("_sl") / F.col("_n"), 6).alias("avg_neg_logp"),
            F.round(F.col("_nr") / F.col("_n"), 9).alias("rare_frac"))
    )


def zipf_profile(df: DataFrame, text_col: str = "text",
                 k: int = 200) -> DataFrame:
    """Zipf rank–frequency conformity of the corpus over its top-``k``
    terms: one row ``(n_terms, slope, intercept, r2, top_term,
    top_count)`` from the least-squares fit of ``ln(count)`` on
    ``ln(rank)``. Natural text sits near slope −1 (Zipf's law); a corpus
    poisoned by template spam or machine-generated filler flattens or
    steepens the curve, and a collapsing ``r2`` means the rank law broke
    entirely — a one-row corpus-health verdict to trend per snapshot
    alongside the distribution-drift checks.

    Ranking is the exact integer order ``(count DESC, term ASC)``. The
    fit uses the explicit-sums normal equations over the k points so the
    oracle evaluates the identical expression; ``r2`` is NULL when all
    top-k counts are equal (zero variance).

    Shape at scale: one explode + vocab-sized aggregate, a distributed
    TakeOrdered (``orderBy().limit(k)`` — never a full-domain window;
    same fix as ``frequent_values``), then a k-row fit on the driver
    plan side. No Python."""
    from pyspark.sql import Window

    c = F.col(text_col)
    cnt = (
        df.filter(c.isNotNull()
                  & (F.regexp_replace(c, WS_STRIP, "") != ""))
        .select(F.explode(tokens(F.lower(c))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = cnt.orderBy(F.desc("cnt"), F.asc("term")).limit(int(k))
    # the rank window runs over ≤ k rows (post-TakeOrdered), not the domain
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    pts = top.select(
        "term", "cnt",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.max(F.when(F.col("x") == 0.0, F.col("term"))).alias("top_term"),
        F.max(F.when(F.col("x") == 0.0, F.col("cnt"))).alias("top_count"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    slope = (n * sxy - sx * sy) / dx
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(F.when(dy > 0.0,
                       (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / (dx * dy)),
                6).alias("r2"),
        "top_term",
        F.col("top_count").cast("long").alias("top_count"))


def vocab_coverage(df: DataFrame, vocab: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   term_col: str = "term") -> DataFrame:
    """Per-document tokenizer-vocabulary coverage — ``(id, n_tokens,
    n_oov, oov_frac, n_oov_distinct)`` where OOV means the whitespace
    token is absent from the reference ``vocab`` table. The
    pre-training sanity check that catches a corpus/tokenizer mismatch
    (wrong language, mojibake, code dumped into a prose vocab) BEFORE a
    run burns compute mapping half its tokens to <unk>: documents with
    high ``oov_frac`` either need a different tokenizer or don't belong
    in the corpus. Exact-count formulation so the verdict is
    oracle-reproducible.

    Shape at scale: explode is immediately reduced by a (doc, term)
    partial-combined aggregate, so the vocab probe touches DISTINCT
    doc-terms, not raw tokens; the vocab join is a left join against a
    tokenizer-sized table (≤ a few 10^5 rows — AQE broadcasts it, no
    data-sized shuffle); one per-doc aggregate closes. Distinct-OOV
    needs no extra shuffle: the (doc, term) grain is already distinct."""
    c = F.col(text_col)
    toks = df.filter(
        c.isNotNull() & (F.regexp_replace(c, WS_STRIP, "") != "")
    ).select(F.col(id_col), F.explode(tokens(F.lower(c))).alias("_t"))
    tf = toks.groupBy(id_col, "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_c"))
    v = F.broadcast(vocab.select(F.col(term_col).alias("_t"),
                                 F.lit(1).alias("_in_v")).distinct())
    return (
        tf.join(v, "_t", "left")
        .groupBy(id_col)
        .agg(F.sum("_c").alias("n_tokens"),
             F.sum(F.when(F.col("_in_v").isNull(), F.col("_c"))
                   .otherwise(F.lit(0))).alias("n_oov"),
             F.sum(F.when(F.col("_in_v").isNull(), 1).otherwise(0))
             .cast("long").alias("n_oov_distinct"))
        .select(id_col, "n_tokens", "n_oov",
                F.round(F.col("n_oov") / F.col("n_tokens"), 9)
                .alias("oov_frac"),
                "n_oov_distinct")
    )


def fit_unigram_lm(corpus: DataFrame, text_col: str = "text",
                   max_vocab: int = 1 << 18):
    """Fit a bounded add-one-smoothed unigram LM on a REFERENCE corpus:
    returns ``(lm_df, n_tokens, vocab_size)`` where ``lm_df`` is the
    ``(term, ct)`` table of the top ``max_vocab`` terms (count desc,
    term asc — deterministic truncation) and the two totals are EXACT
    over the full corpus (so truncation only moves tail terms into the
    OOV/smoothed mass, it never changes the denominator). The
    fit-once/score-many shape of the CCNet quality filter:
    :func:`unigram_logprob` scores a corpus against itself;
    :func:`score_unigram_logprob` and the streaming scorer rate NEW
    documents against this frozen model.

    Shape at scale: one explode + vocab-sized aggregate; the top-K cut
    is a distributed TakeOrdered. Driver state is bounded by
    ``max_vocab`` (the same FAISS-guideline bounded-fit contract as the
    IVF index), never by corpus size."""
    c = F.col(text_col)
    cnt = (
        corpus.filter(c.isNotNull()
                      & (F.regexp_replace(c, WS_STRIP, "") != ""))
        .select(F.explode(tokens(F.lower(c))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = cnt.agg(F.sum("ct").alias("n"),
                  F.count(F.lit(1)).alias("v")).first()
    lm = cnt.orderBy(F.desc("ct"), F.asc("term")).limit(int(max_vocab))
    return lm, int(tot["n"] or 0), int(tot["v"] or 0)


def score_unigram_logprob(df: DataFrame, lm: DataFrame, n_tokens: int,
                          vocab_size: int, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Score documents against a FROZEN unigram LM (from
    :func:`fit_unigram_lm`) — ``(id, n_tokens, avg_neg_logp,
    oov_frac)``. Unlike :func:`unigram_logprob` (corpus scores itself)
    the model here is a reference distribution, so unseen terms are
    real: an OOV term carries the full smoothed surprise
    ``ln(N + V) − ln(1)`` and ``oov_frac`` is the direct
    new-data-vs-reference vocabulary-shift signal — the batch twin of
    the streaming scorer, and the drift check you run when a new ingest
    source claims to be "the same kind of text".

    Shape at scale: explode → (doc, term) partial-combined tf → LEFT
    join against the vocab-sized LM (AQE-broadcast) → per-doc
    aggregate. Same two data-sized shuffles as the self-scored
    variant."""
    c = F.col(text_col)
    toks = df.filter(
        c.isNotNull() & (F.regexp_replace(c, WS_STRIP, "") != "")
    ).select(F.col(id_col), F.explode(tokens(F.lower(c))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    denom = float(n_tokens + vocab_size)
    return (
        tf.join(lm.select("term", "ct"), "term", "left")
        .groupBy(id_col)
        .agg(F.sum("c").alias("_n"),
             F.sum(F.col("c")
                   * F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1.0))
             .alias("_sl"),
             F.sum(F.when(F.col("ct").isNull(), F.col("c"))
                   .otherwise(F.lit(0.0))).alias("_oov"))
        .select(
            id_col,
            F.col("_n").cast("long").alias("n_tokens"),
            F.round(F.lit(math.log(denom)) - F.col("_sl") / F.col("_n"), 6)
            .alias("avg_neg_logp"),
            F.round(F.col("_oov") / F.col("_n"), 9).alias("oov_frac"))
    )


def compression_features(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         level: int = 6) -> DataFrame:
    """Per-document zlib compressibility — ``(id, n_bytes, n_deflate,
    compression_ratio)`` with ``ratio = deflate_bytes / utf8_bytes``.
    The classic cheap quality gate the n-gram features approximate:
    machine-generated/boilerplate text compresses far below prose
    (ratio ≲ 0.3 ⇒ near-pure repetition; ≳ 1.0 ⇒ already-compressed or
    random bytes masquerading as text), used as a corpus filter in the
    RefinedWeb/Dolma/Gopher lineage of pretraining pipelines.

    Determinism contract: raw DEFLATE stream (``wbits=-15`` — no
    zlib/gzip container, so no OS/header variance), pinned ``level``,
    default ``memLevel``/strategy; zlib's output for a given (input,
    parameters) is stable across CPython builds because it vendors a
    single zlib implementation. Null/empty text ⇒ null metrics (the
    quality gate owns emptiness).

    No SQL twin exists (DuckDB exposes no compression function), so the
    gate entry is rows-only by contract; the arithmetic is pinned by
    exact unit tests (known strings, planted repetition monotonicity,
    batch-shape invariance) and the UDF is the same Arrow-batched
    one-pass projection shape as :func:`charset_features` — shuffle-free,
    runs at scan speed."""
    import zlib

    @F.pandas_udf("long")
    def deflate_len(s):  # pd.Series[str] -> pd.Series[Int64]
        import pandas as pd

        def one(t):
            if t is None or not isinstance(t, str) or t == "":
                return None
            c = zlib.compressobj(level, zlib.DEFLATED, -15)
            return len(c.compress(t.encode("utf-8")) + c.flush())

        return pd.Series([one(t) for t in s], dtype="Int64")

    c = F.col(text_col)
    n_bytes = F.octet_length(c)
    base = df.select(
        id_col,
        F.when(c.isNull() | (n_bytes == 0), F.lit(None))
        .otherwise(n_bytes).cast("long").alias("n_bytes"),
        deflate_len(c).alias("n_deflate"),
    )
    return base.select(
        id_col, "n_bytes", "n_deflate",
        F.round(F.col("n_deflate").cast("double") / F.col("n_bytes"), 9)
        .alias("compression_ratio"),
    )


# ---------------------------------------------------------------------------
# Invisible-character hygiene — zero-width + bidi-control scan (the Trojan
# Source / homoglyph-smuggling class: CVE-2021-42574), pure projection
# ---------------------------------------------------------------------------

#: zero-width characters (ZWSP/ZWNJ/ZWJ/word-joiner/ZWNBSP-BOM): invisible
#: in rendered text, but they split tokens, defeat exact dedup, and are the
#: classic smuggling channel for hidden instructions in training corpora.
#: Shared verbatim with the DuckDB oracle (Java ∩ RE2 \x{...} classes).
ZERO_WIDTH_CLASS = r"[\x{200B}-\x{200D}\x{2060}\x{FEFF}]"

#: every Unicode bidi control (marks + embeddings + overrides + isolates)
BIDI_CLASS = r"[\x{200E}\x{200F}\x{202A}-\x{202E}\x{2066}-\x{2069}]"

#: bidi scopes that PUSH rendering state (LRE/RLE/LRO/RLO + LRI/RLI/FSI) …
BIDI_OPEN_CLASS = r"[\x{202A}\x{202B}\x{202D}\x{202E}\x{2066}-\x{2068}]"

#: … and the two POPs (PDF/PDI). An unbalanced push/pop count is the
#: Trojan-Source reordering signature (Boucher & Anderson 2021): rendered
#: text keeps reading in the overridden direction past where the author
#: claims the override ends.
BIDI_CLOSE_CLASS = r"[\x{202C}\x{2069}]"


def invisible_char_features(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-document invisible-character scan: ``n_zero_width`` (ZWSP
    family — dedup/tokenizer poison), ``n_bidi`` (all direction
    controls), ``n_bidi_open`` / ``n_bidi_close`` (pushed vs popped bidi
    scopes) and ``bidi_unbalanced`` (push ≠ pop — the Trojan-Source
    source-code-reordering signature), plus ``has_invisible`` for the
    corpus gate. Null text ⇒ zero counts, false flags (emptiness belongs
    to the quality gate).

    Same execution shape as :func:`charset_features`: codepoint-count
    deltas after ``regexp_replace`` — one shuffle-free JVM projection, no
    explode, no Python; the character classes are the module constants
    above, shared verbatim with the SQL oracle."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)

    def _cnt(cls: str) -> Column:
        return (n - F.length(F.regexp_replace(t, cls, ""))).cast("long")

    n_zw = _cnt(ZERO_WIDTH_CLASS)
    n_bidi = _cnt(BIDI_CLASS)
    n_open = _cnt(BIDI_OPEN_CLASS)
    n_close = _cnt(BIDI_CLOSE_CLASS)
    return df.select(
        id_col,
        n_zw.alias("n_zero_width"),
        n_bidi.alias("n_bidi"),
        n_open.alias("n_bidi_open"),
        n_close.alias("n_bidi_close"),
        (n_open != n_close).alias("bidi_unbalanced"),
        ((n_zw + n_bidi) > 0).alias("has_invisible"),
    )


def strip_invisible(col: Column) -> Column:
    """Remove zero-width and bidi-control characters in place — the
    normalization companion to :func:`invisible_char_features`, chained
    before :func:`dedup_exact` so smuggled invisibles can't split
    duplicate groups. Null ⇒ null; one JVM projection."""
    return F.regexp_replace(
        F.regexp_replace(col, ZERO_WIDTH_CLASS, ""), BIDI_CLASS, "")


# ---------------------------------------------------------------------------
# Credential / secret scanning — high-precision prefix-anchored battery
# (the gitleaks/trufflehog pattern class), Java-regex ∩ RE2 subset
# ---------------------------------------------------------------------------

#: secret detectors keyed by category. High precision comes from vendor
#: prefixes (AKIA…, ghp_…, xox?-, eyJ…) rather than entropy, so every
#: pattern is a plain regex BOTH engines execute identically: no \b (Java
#: and RE2 disagree on word-boundary semantics around non-ASCII — caught
#: by BENCH/fuzz_oracles.py for language_id), no lookaround (RE2 has
#: none), no backreferences. Greedy bounded quantifiers match
#: leftmost-longest-available in both engines.
CREDENTIAL_PATTERNS: dict[str, str] = {
    # AWS access key id: fixed AKIA prefix + 16 uppercase base-32 chars
    "aws_key": r"AKIA[0-9A-Z]{16}",
    # GitHub fine/classic tokens: ghp_/gho_/ghu_/ghs_/ghr_ + 36 base-62
    "github_token": r"gh[pousr]_[A-Za-z0-9]{36}",
    # Slack bot/user/app tokens
    "slack_token": r"xox[baprs]-[0-9A-Za-z-]{10,}",
    # PEM private-key header (RSA/EC/OPENSSH/PGP/blank)
    "private_key": r"-----BEGIN [A-Z ]{0,20}PRIVATE KEY-----",
    # JWT: three dot-joined base64url segments, first decoding to '{"…'
    "jwt": r"eyJ[A-Za-z0-9_-]{10,}\.[A-Za-z0-9_-]{10,}\.[A-Za-z0-9_-]{5,}",
    # long hex blob (sha1-length and up): API secrets, auth digests
    "hex_secret": r"[0-9a-f]{40,}",
}

_CREDENTIAL_ORDER = tuple(sorted(CREDENTIAL_PATTERNS))


def credential_counts(col: Column) -> Column:
    """Struct of per-category credential match counts (alphabetical
    category order — the serialization contract)."""
    return F.struct(*[
        F.coalesce(F.regexp_count(col, F.lit(CREDENTIAL_PATTERNS[k])),
                   F.lit(0)).alias(k)
        for k in _CREDENTIAL_ORDER
    ])


def credential_scan(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document secret scan — ``(id, <category counts…>, n_secrets,
    flagged)``. Leaked credentials in a pretraining corpus are the
    highest-severity PII class (a model can memorize and replay a live
    AWS key verbatim), and the scan doubles as an operational gate for
    transcript logs where tool outputs echo auth headers. One JVM
    ``regexp_count`` projection per category over a single scan — no
    Python, no shuffle, runs at scan speed like :func:`pii_counts`."""
    c = credential_counts(F.col(text_col))
    base = df.select(id_col, c.alias("_c"))
    total = reduce(lambda a, b: a + b,
                   [F.col(f"_c.{k}").cast("long") for k in _CREDENTIAL_ORDER])
    return base.select(
        id_col,
        *[F.col(f"_c.{k}").cast("long").alias(f"n_{k}")
          for k in _CREDENTIAL_ORDER],
        total.alias("n_secrets"),
        (total > 0).alias("flagged"),
    )


def scrub_credentials(col: Column) -> Column:
    """Redact every :data:`CREDENTIAL_PATTERNS` match to
    ``<SECRET:category>`` — the remediation companion to
    :func:`credential_scan`, chained after :func:`scrub_pii` in the
    curation pipeline. One chained-``regexp_replace`` JVM projection."""
    out = col
    for k in _CREDENTIAL_ORDER:
        out = F.regexp_replace(out, CREDENTIAL_PATTERNS[k],
                               f"<SECRET:{k}>")
    return out


# ---------------------------------------------------------------------------
# Truncation-artifact profiling — length-spike detection at per-group caps
# ---------------------------------------------------------------------------

def truncation_profile(df: DataFrame, text_col: str = "text",
                       group_col: str = "source",
                       near_frac: float = 0.9,
                       min_at_cap: int = 5,
                       spike_factor: int = 4) -> DataFrame:
    """Detect upstream clipping: a scraper/ETL stage that truncates text
    at a byte/char budget leaves a probability-mass spike at EXACTLY the
    group's maximum length — documents that would have been longer all
    pile up on the cap. Silent truncation is a classic training-data
    defect (mid-sentence endings teach the model to stop arbitrarily)
    that per-document quality filters cannot see; it is only visible in
    the length DISTRIBUTION.

    Per group: ``n_docs``, ``cap`` (max length), ``n_at_cap`` (docs at
    exactly ``cap``), ``n_near`` (docs in ``[floor(near_frac·cap),
    cap)`` — the tail window), ``span`` (integer width of that window),
    ``cap_mass`` and ``truncated``: flagged when ``n_at_cap ≥
    min_at_cap`` and the at-cap count exceeds ``spike_factor`` × the
    tail window's per-length density — in exact INTEGER arithmetic
    (``n_at_cap · span ≥ spike_factor · n_near``), so the verdict is
    bit-reproducible across engines with no float thresholds.

    Shape at scale: ONE map-side-combining shuffle builds the per-group
    length histogram (rows = distinct lengths per group — thousands, not
    the corpus); the cap join and the conditional sums then run on the
    histogram, never re-scanning the data. Null/empty text is excluded
    (emptiness belongs to the quality gate)."""
    ln = F.length(F.col(text_col))
    hist = (df.filter(F.col(text_col).isNotNull() & (ln > 0))
            .groupBy(F.col(group_col).alias("grp"), ln.alias("_len"))
            .agg(F.count(F.lit(1)).alias("_n")))
    caps = hist.groupBy("grp").agg(F.max("_len").alias("cap"))
    near_lo = F.floor(F.col("cap") * float(near_frac)).cast("long")
    j = hist.join(F.broadcast(caps), "grp")
    out = (j.groupBy("grp", "cap")
           .agg(F.sum("_n").cast("long").alias("n_docs"),
                F.sum(F.when(F.col("_len") == F.col("cap"), F.col("_n"))
                      .otherwise(F.lit(0))).cast("long").alias("n_at_cap"),
                F.sum(F.when((F.col("_len") >= near_lo)
                             & (F.col("_len") < F.col("cap")), F.col("_n"))
                      .otherwise(F.lit(0))).cast("long").alias("n_near")))
    span = F.greatest(F.col("cap") - near_lo, F.lit(1)).cast("long")
    return out.select(
        F.col("grp").alias(group_col),
        F.col("cap").cast("long").alias("cap"),
        "n_docs", "n_at_cap", "n_near",
        span.alias("span"),
        F.round(F.col("n_at_cap").cast("double") / F.col("n_docs"), 9)
        .alias("cap_mass"),
        ((F.col("n_at_cap") >= int(min_at_cap))
         & (F.col("n_at_cap") * span >= int(spike_factor) * F.col("n_near")))
        .alias("truncated"),
    )


# ---------------------------------------------------------------------------
# Edit-distance verification — Levenshtein refinement of near-dup candidates
# ---------------------------------------------------------------------------

def edit_verified_pairs(pairs: DataFrame, df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.5,
                        prefix_len: int = 400) -> DataFrame:
    """Second-stage near-duplicate verification by normalized edit
    similarity: for each candidate pair (from MinHash banding, SimHash
    blocking, …) compute ``edit_sim = 1 − levenshtein(a, b) /
    max(len(a), len(b))`` over the first ``prefix_len`` codepoints and
    keep pairs at ``edit_sim ≥ threshold``. Jaccard over shingles is
    order-insensitive (two docs with the same sentences shuffled score
    high); edit distance restores the sequence sensitivity dedup
    pipelines want before dropping a document.

    Scale contract: Levenshtein is O(len²) per pair, so this NEVER runs
    corpus-wide — only over the candidate-pair table (LSH output,
    |pairs| ≪ n²) and only on a bounded prefix (``prefix_len``, the
    gross-cost cap; near-identical docs agree on prefixes). Execution is
    two broadcast-or-shuffle hash joins to fetch the texts plus one JVM
    ``levenshtein`` projection — no Python. Output preserves the pair
    columns and appends ``edit_sim`` (round 6)."""
    t = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1,
                    int(prefix_len))
    texts = df.select(F.col(id_col).alias("_eid"), t.alias("_t"))
    j = (pairs
         .join(texts.withColumnRenamed("_eid", "id_a")
                    .withColumnRenamed("_t", "_ta"), "id_a")
         .join(texts.withColumnRenamed("_eid", "id_b")
                    .withColumnRenamed("_t", "_tb"), "id_b"))
    sim = F.round(
        F.lit(1.0) - F.levenshtein("_ta", "_tb").cast("double")
        / F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1)), 6)
    return (j.withColumn("edit_sim", sim)
            .filter(F.col("edit_sim") >= float(threshold))
            .drop("_ta", "_tb"))


# ---------------------------------------------------------------------------
# Tokenizer fertility — subword-per-word expansion by corpus slice
# ---------------------------------------------------------------------------

def token_fertility(df: DataFrame, text_col: str = "text",
                    group_col: str = "lang") -> DataFrame:
    """Per-slice tokenizer fertility: BPE-ish subword tokens per
    whitespace word (``fertility = Σ bpe_tokens / Σ ws_tokens``). The
    standard multilingual-tokenizer health metric — a language whose
    fertility drifts high is being shredded into characters (under-
    represented in the tokenizer's merges), which silently multiplies
    its effective sequence length and cost in training. Emitted per
    group with both raw sums so downstream gates can re-weight.

    One aggregate over two pure-regex projections (:func:`token_count`
    + :func:`bpe_token_count`) — single map-side-combining shuffle on
    the (few-valued) group key."""
    nn = F.col(text_col).isNotNull()
    return (df.groupBy(group_col)
            .agg(F.count(F.when(nn, F.lit(1))).cast("long").alias("n_docs"),
                 F.sum(F.when(nn, token_count(F.col(text_col)))
                       .otherwise(F.lit(0))).cast("long").alias("n_words"),
                 F.sum(F.when(nn, bpe_token_count(F.col(text_col)))
                       .otherwise(F.lit(0))).cast("long").alias("n_bpe"))
            .select(group_col, "n_docs", "n_words", "n_bpe",
                    F.round(F.col("n_bpe").cast("double")
                            / F.greatest(F.col("n_words"), F.lit(1)), 9)
                    .alias("fertility")))


# ---------------------------------------------------------------------------
# Cross-split near-dup contamination — eval leakage through duplicates
# ---------------------------------------------------------------------------

def cross_split_contamination(pairs: DataFrame, splits: DataFrame,
                              id_col: str = "doc_id",
                              split_col: str = "split") -> DataFrame:
    """Evaluation-set contamination via NEAR-duplicates: exact de-dup and
    :func:`hash_split` keep train/val/test disjoint by id, but a test
    document that is a near-copy of a train document still leaks the
    answer (Lee et al. 2022 measure the benchmark inflation this causes).
    Joins a verified near-dup pair table (MinHash/SimHash/winnowing
    output — any frame with ``id_a``/``id_b``) against a split
    assignment and keeps only pairs whose endpoints land in DIFFERENT
    splits, appending ``split_a``/``split_b`` so the operator doubles as
    the delete-list for "drop the train twin, keep the eval doc".

    Shape at scale: the pair table is LSH-verified output (≪ corpus);
    the split table is a shuffle-free projection of the corpus
    (:func:`hash_split`). Two id-equality hash joins — AQE broadcasts
    the pair side when it is small, and no stage ever touches document
    text."""
    sa = splits.select(F.col(id_col).alias("id_a"),
                       F.col(split_col).alias("split_a"))
    sb = splits.select(F.col(id_col).alias("id_b"),
                       F.col(split_col).alias("split_b"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .filter(F.col("split_a") != F.col("split_b")))


# ---------------------------------------------------------------------------
# URL / domain profile — provenance audit of in-text links
# ---------------------------------------------------------------------------

#: Java∩RE2-identical URL matcher: scheme + host[:port]. The host class
#: is explicit ASCII (letters/digits/dot/dash/underscore) and the match
#: stops at the first path/query character, so no dialect-dependent
#: constructs (\b, \w, lookahead) appear — same contract as the semantic-
#: type battery. Port group is non-capturing; extraction takes match 0.
URL_RE = r"https?://[A-Za-z0-9._-]+(?::[0-9]+)?"


def url_domain_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-registered-domain link census over in-text URLs — the
    provenance signal web-curation pipelines gate on (C4 and RefinedWeb
    both apply URL/domain filters before any content filter). Extracts
    every ``URL_RE`` match, lowercases the host, strips the scheme and
    port, and rolls up to the registrable domain (last two dot-labels;
    bare-IP hosts keep the full address — a reverse-proxy/scraper-farm
    smell worth its own row). Emits per domain: ``n_urls``, ``n_docs``
    (distinct documents linking it), ``n_hosts`` (distinct subdomain
    fan-out), ``n_bare_ip`` and ``n_nonstd_port`` URL counts — link
    farms show high n_urls/n_docs, crawler misconfigurations show IP
    and port spikes.

    Shape at scale: one JVM regexp projection + explode (rows = URLs,
    not chars, and docs with no URL emit nothing), then one aggregate
    on the domain key. The two distinct counts use Spark's expand-based
    multi-distinct rewrite — partial aggregation still applies, and the
    shuffled key space is domains (small), never documents. No Python,
    no second scan of text, no per-group collected arrays."""
    url = F.explode(
        F.expr(f"regexp_extract_all({text_col}, '{URL_RE}', 0)")
    ).alias("url")
    u = (df.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col), url))
    host_port = F.lower(F.regexp_replace(F.col("url"), r"^https?://", ""))
    host = F.regexp_replace(host_port, r":[0-9]+$", "")
    bare_ip = F.col("host").rlike(r"^[0-9]+(\.[0-9]+){3}$")
    nonstd_port = F.col("url").rlike(r":[0-9]+$")
    labels = F.split(F.col("host"), r"\.")
    domain = F.when(bare_ip | (F.size(labels) < 2), F.col("host")) \
        .otherwise(F.concat_ws(".", F.slice(labels, -2, 2)))
    return (u.select(id_col, "url", host.alias("host"))
            .groupBy(domain.alias("domain"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                 F.countDistinct(id_col).cast("long").alias("n_docs"),
                 F.countDistinct("host").cast("long").alias("n_hosts"),
                 F.sum(F.when(bare_ip, 1).otherwise(0)).cast("long")
                 .alias("n_bare_ip"),
                 F.sum(F.when(nonstd_port, 1).otherwise(0)).cast("long")
                 .alias("n_nonstd_port")))


# ---------------------------------------------------------------------------
# Markdown / code-fence structure hygiene — assistant-output well-formedness
# ---------------------------------------------------------------------------

def markdown_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row markdown structure census from pure string arithmetic —
    no regex backtracking, no Python: ``n_fences`` (count of \\`\\`\\`
    markers via length-difference), ``fences_balanced`` (every opener
    closed — an odd count means a truncated or malformed code block,
    the classic sign of a generation cut off mid-answer), ``n_links``
    (markdown ``](`` joints), ``n_headers`` / ``n_bullets`` (lines
    opening with ``#`` / ``- `` or ``* ``). All columns are exact
    integer counts, reproducible in any engine with length/replace.

    Scale: a single narrow projection — the fence/link counts are
    codegen'd length/replace arithmetic; the header/bullet line scans
    split on \\n once and count with a higher-order filter (interpreted
    but O(lines) with no row explosion and no Python)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_fences = ((F.length(t) - F.length(F.replace(t, F.lit("```"),
                                                  F.lit("")))) / 3)
    n_links = ((F.length(t) - F.length(F.replace(t, F.lit("]("),
                                                 F.lit("")))) / 2)
    lines = F.split(t, "\n")
    n_headers = F.size(F.filter(lines, lambda ln: ln.startswith("#")))
    n_bullets = F.size(F.filter(
        lines, lambda ln: ln.startswith("- ") | ln.startswith("* ")))
    return df.select(
        "*",
        n_fences.cast("long").alias("n_fences"),
        (n_fences.cast("long") % 2 == 0).alias("fences_balanced"),
        n_links.cast("long").alias("n_links"),
        n_headers.cast("long").alias("n_headers"),
        n_bullets.cast("long").alias("n_bullets"),
    )


def markdown_hygiene(df: DataFrame, group_cols: Sequence[str],
                     text_col: str = "text") -> DataFrame:
    """Grouped rollup of :func:`markdown_features` — for transcripts,
    group by conversation to get the per-conversation structural-health
    verdict: ``n_rows``, total fences/links/headers/bullets, and
    ``n_unbalanced`` (rows whose code fences never close). A transcript
    with unbalanced fences teaches the model that answers may stop
    mid-code-block; corpora routinely gate on ``n_unbalanced = 0``.

    One projection + ONE map-side-combining aggregate on the group
    key — the feature columns are computed inline, never materialized."""
    feats = markdown_features(df, text_col=text_col)
    return (feats.groupBy(*[F.col(c) for c in group_cols])
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("n_fences").cast("long").alias("n_fences"),
                 F.sum(F.when(~F.col("fences_balanced"), 1).otherwise(0))
                 .cast("long").alias("n_unbalanced"),
                 F.sum("n_links").cast("long").alias("n_links"),
                 F.sum("n_headers").cast("long").alias("n_headers"),
                 F.sum("n_bullets").cast("long").alias("n_bullets")))


# ---------------------------------------------------------------------------
# Containment dedup — token-aligned full-document subsumption
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_candidate_df: int | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Documents whose whitespace-normalized token sequence appears as a
    contiguous run inside another document — the "quoted in full" /
    subsumption duplicates that Jaccard-style near-dup misses (a short doc
    embedded in a long one has LOW Jaccard: |A|/|B|, not ~1) and that a
    curation pass wants to drop in favour of the superset doc (mirrors the
    reference's accumulated-violation reporting shape: one row per
    offending doc with the evidence columns; Valar ValidationError carries
    field+message the same way, valar-core Validator.scala:~40).

    Containment is TOKEN-ALIGNED and WHITESPACE-NORMALIZED: A ⊑ B iff
    ``' '||norm(A)||' '`` is a substring of ``' '||norm(B)||' '`` where
    ``norm`` joins :func:`tokens` with single spaces. This is the curation-
    relevant notion (content equality up to whitespace), is symmetric-safe
    (padding spaces force whole-token matches, so "ello world" ⊄
    "hello world"), and — crucially for scale — has an EXACT-recall
    candidate generator:

      if A ⊑ B then every token ``shingle_n``-gram of A is a token n-gram
      of B, so in particular A's globally RAREST shingle is in B's shingle
      set. One probe row per doc (its rarest shingle, ties broken by hash)
      joined against the full shingle posting table therefore finds every
      true container — a key-equality int64 join whose fan-out per probe is
      that shingle's document frequency, MINIMAL by construction.

    Plan at 100 TB: one Arrow shingling pass (shared via ``sets`` with the
    MinHash/Jaccard family), one groupBy(shingle) for global df, one
    groupBy(doc) argmin for the probe, one shuffled equi-join probe→postings,
    then ``contains()`` verification ONLY on candidates (JVM string op, no
    Python). No all-pairs path exists in this operator at any scale. Docs
    whose every shingle is hot (pure boilerplate) make the probe join skew;
    ``max_candidate_df`` excludes such probes from the join (trading those
    docs' recall for bounded fan-out; set it to ~1000 on boilerplate-heavy
    corpora) — the default None keeps exact semantics for oracle parity.

    Docs with fewer than ``shingle_n`` tokens have no shingle and are
    excluded from the CONTAINED side (they can still contain nothing) —
    mirrored in the oracle contract. Output: one row per proven pair
    ``(contained_id, container_id, contained_tokens, container_tokens)``
    with direction = shorter-into-longer (equal normalized text ties break
    by id) so exact duplicates report exactly once.
    """
    from pyspark import StorageLevel

    toks = tokens(F.col(text_col))
    # base feeds BOTH sides of the verification join — persist, or the
    # tokenize+join projection over the whole corpus runs twice (measured
    # 2 x 6.3s at 50k docs; the cache holds one normalized string per doc
    # and spills to disk, so this holds at corpus scale too)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_join(toks, " ").alias("_norm"),
        F.size(toks).alias("_ntok"),
    ).where(F.col("_ntok") > 0).persist(StorageLevel.MEMORY_AND_DISK)

    if sets is None:
        sets = shingle_hash_sets(df, text_col, id_col, shingle_n)
    # post feeds THREE plan branches (df aggregate, rarest-probe join,
    # posting side of the candidate join) — persist, or the shingle pass
    # runs once per branch (3 x the UDF cost when sets are not shared)
    post = (sets.where(F.size("_sh") > 0)
            .select(F.col("_id").alias("_pid"), F.explode("_sh").alias("_s"))
            .persist(StorageLevel.MEMORY_AND_DISK))

    dfreq = post.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    rarest = (
        post.join(dfreq, "_s")
        .groupBy("_pid")
        .agg(F.min(F.struct(F.col("_df"), F.col("_s"))).alias("_m"))
        .select(F.col("_pid").alias("_aid"), F.col("_m._s").alias("_s"),
                F.col("_m._df").alias("_min_df"))
    )
    if max_candidate_df is not None:
        rarest = rarest.where(F.col("_min_df") <= int(max_candidate_df))

    cand = (rarest.join(post, "_s")
            .where(F.col("_aid") != F.col("_pid"))
            .select(F.col("_aid"), F.col("_pid").alias("_bid"))
            .distinct())

    a = base.select(F.col("_id").alias("_aid"), F.col("_norm").alias("_na"),
                    F.col("_ntok").alias("contained_tokens"))
    b = base.select(F.col("_id").alias("_bid"), F.col("_norm").alias("_nb"),
                    F.col("_ntok").alias("container_tokens"))
    verified = (
        cand.join(a, "_aid").join(b, "_bid")
        .where(
            F.contains(F.concat(F.lit(" "), F.col("_nb"), F.lit(" ")),
                       F.concat(F.lit(" "), F.col("_na"), F.lit(" ")))
            & (
                (F.length("_na") < F.length("_nb"))
                | ((F.col("_na") == F.col("_nb"))
                   & (F.col("_aid") < F.col("_bid")))
            )
        )
    )
    out = verified.select(
        F.col("_aid").alias("contained_id"),
        F.col("_bid").alias("container_id"),
        F.col("contained_tokens").cast("long").alias("contained_tokens"),
        F.col("container_tokens").cast("long").alias("container_tokens"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # materialize the (small) pair result so the corpus-sized base/post
    # caches can be freed deterministically; the returned frame stays
    # persisted (callers may unpersist it)
    out.count()
    base.unpersist()
    post.unpersist()
    return out


def containment_drop_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_candidate_df: int | None = None,
) -> DataFrame:
    """The drop set induced by :func:`containment_pairs`: every doc that
    is token-aligned contained in some OTHER doc of ``df`` — keeping
    exactly the MAXIMAL documents. Containment is transitive, so if a
    doc's container is itself dropped, the doc is also contained in that
    container's container and stays dropped for the right reason; equal-
    text clusters keep their highest id (the pair direction ties
    equal-norm text by id), which exact/normalized dedup upstream makes
    moot in the ledger composition. Feed the result of running this over
    :func:`curation_survivors_pre_near_dup` into
    :func:`curation_ledger`'s ``near_dup_drop_ids`` (optionally unioned
    with the MinHash victim set) so a surviving doc is only ever dropped
    in favour of a KEEPER (the survivor-scoping invariant, ADVICE r4).
    Returns a single distinct ``id_col`` column."""
    return (containment_pairs(df, text_col, id_col, shingle_n,
                              max_candidate_df)
            .select(F.col("contained_id").alias(id_col))
            .distinct())


# ---------------------------------------------------------------------------
# Mixed-script / confusable-token screen (Unicode TS #39 class: Latin
# letters interleaved with Cyrillic/Greek homoglyphs inside ONE token —
# spoofed brand names, SEO cloaking, tokenizer poisoning)
# ---------------------------------------------------------------------------

#: Latin letters — ASCII plus the Latin-1/Extended-A/B letter ranges,
#: EXCLUDING the two non-letters embedded in Latin-1 (× U+00D7, ÷ U+00F7).
#: Shared verbatim with the DuckDB oracle (Java ∩ RE2 \x{...} classes).
LATIN_CLASS = r"[A-Za-z\x{C0}-\x{D6}\x{D8}-\x{F6}\x{F8}-\x{24F}]"

#: the Cyrillic block — а/е/о/р/с/х and friends are pixel-identical to
#: their Latin counterparts in most fonts, the classic confusable set
CYRILLIC_CLASS = r"[\x{400}-\x{4FF}]"

#: the Greek and Coptic block (ο/ν/Α/Β… confusables); block-range
#: definition, so the few in-block punctuation marks (U+037E, U+0387)
#: count as Greek — documented, engine-exact, and irrelevant to the
#: mixed-with-Latin signal this screen exists for
GREEK_CLASS = r"[\x{370}-\x{3FF}]"


def mixed_script_features(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document mixed-script confusable scan: ``n_tokens``
    (whitespace tokens), ``n_mixed_tokens`` (tokens containing BOTH a
    Latin letter AND a Cyrillic-or-Greek block character — the Unicode
    TS #39 mixed-script confusable signature: "pаypal" with a Cyrillic
    а survives every ASCII filter, splits exact-dedup groups, and maps
    to garbage BPE tokens), ``n_cyrillic`` / ``n_greek`` whole-text
    codepoint counts (an all-Cyrillic document is legitimate text — only
    the WITHIN-TOKEN mix is the spoof signal), and ``has_mixed_script``
    for the corpus gate. Null text ⇒ zero counts, false flag.

    Execution shape: one shuffle-free JVM projection — ``split`` on
    ASCII whitespace + two higher-order ``filter``/``size`` calls (no
    explode: the per-doc token array never leaves the row), plus the
    :func:`invisible_char_features`-style codepoint-delta counts. The
    character classes are the module constants above, shared verbatim
    with the SQL oracle; ``\\s`` is ASCII on both engines (Java default
    and RE2 agree), so tokenization is engine-exact."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)

    def _cnt(cls: str) -> Column:
        return (n - F.length(F.regexp_replace(t, cls, ""))).cast("long")

    toks = F.split(t, r"\s+")
    mixed = F.filter(
        toks,
        lambda x: x.rlike(LATIN_CLASS)
        & (x.rlike(CYRILLIC_CLASS) | x.rlike(GREEK_CLASS)))
    n_mixed = F.size(mixed).cast("long")
    n_toks = F.size(F.filter(toks, lambda x: x != "")).cast("long")
    return df.select(
        id_col,
        n_toks.alias("n_tokens"),
        n_mixed.alias("n_mixed_tokens"),
        _cnt(CYRILLIC_CLASS).alias("n_cyrillic"),
        _cnt(GREEK_CLASS).alias("n_greek"),
        (n_mixed > 0).alias("has_mixed_script"),
    )


def duplicate_source_attribution(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 source_col: str = "source") -> DataFrame:
    """Per-source exact-duplicate accounting — WHERE the dupes come from:
    for each ``source_col`` value, the number of docs whose exact content
    (md5 of the raw text, the :func:`exact_duplicate_groups` key) occurs
    more than once in the WHOLE corpus, split into within- and
    cross-source membership. A source with a high ``dup_rate_pct`` ships
    re-posts; a high ``n_cross_dup_docs`` means two sources mirror each
    other (scraper overlap) and one of them should be dropped wholesale —
    the attribution step between "the corpus is 12% duplicate" and an
    actionable ingest fix. Null-text docs are excluded entirely (no
    content to duplicate; the null-rate stats own them); a null source is
    profiled as its own group.

    Execution shape: a TWO-LEVEL aggregate — (md5, source) counts first
    (map-side combined: identical texts collapse BEFORE anything
    shuffles, so a million-copy boilerplate cluster crosses the wire as
    one row per source, not a million rows), rolled up to per-cluster
    size + source fan-out, joined back to the tiny (md5, source) frame
    on the md5 key, then one map-side-combined rollup onto the source
    key space. No window, no driver state, and no re-join against the
    raw corpus; skew is bounded by a cluster's distinct-SOURCE count,
    strictly tighter than exact dedup's per-cluster row bound.

    Columns: ``(source, n_docs, n_dup_docs, n_cross_dup_docs,
    dup_rate_pct)`` ordered by source."""
    per = (df.filter(F.col(text_col).isNotNull())
           .select(F.col(source_col).alias("source"),
                   F.md5(F.col(text_col)).alias("_h"))
           .groupBy("_h", "source")
           .agg(F.count(F.lit(1)).alias("_c")))
    # _ns mirrors COUNT(DISTINCT source): null sources form their own
    # (profiled) group but never count toward cross-source fan-out
    clusters = (per.groupBy("_h")
                .agg(F.sum("_c").alias("_n"),
                     F.sum(F.when(F.col("source").isNotNull(), 1)
                           .otherwise(0)).alias("_ns")))
    joined = per.join(clusters, "_h")
    dup = F.col("_n") > 1
    return (joined.groupBy("source")
            .agg(F.sum("_c").cast("long").alias("n_docs"),
                 F.sum(F.when(dup, F.col("_c")).otherwise(0))
                 .cast("long").alias("n_dup_docs"),
                 F.sum(F.when(dup & (F.col("_ns") > 1), F.col("_c"))
                       .otherwise(0))
                 .cast("long").alias("n_cross_dup_docs"))
            .select("source", "n_docs", "n_dup_docs", "n_cross_dup_docs",
                    F.round(F.col("n_dup_docs") * 100.0 / F.col("n_docs"),
                            4).alias("dup_rate_pct"))
            .orderBy(F.col("source").asc_nulls_first()))


def source_diversity_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingle_n: int = 2,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Marginal-diversity profile per source: for each value of
    ``group_col``, how many distinct token ``shingle_n``-grams its
    documents contribute and how many are EXCLUSIVE to it (appear in no
    other source). The source-mixing question behind every corpus recipe
    (C4 → The Pile → RefinedWeb/Dolma ablations): a source whose grams
    are ~all shared is redundant mass — dropping it changes nothing a
    dedup pass wouldn't; a high-exclusivity source is irreplaceable
    coverage. Complements :func:`duplicate_source_attribution` (which
    counts duplicated DOCS; this measures overlap at span grain, which
    catches sources that paraphrase/re-chunk each other without byte
    duplication).

    Shape at scale: per-doc distinct gram HASHES from the shared
    Arrow-batched shingle pass (:func:`hashed_shingles` — the same
    :func:`shingles` contract: <n tokens ⇒ one whole-text shingle; gram
    identity = its token tuple via the 64-bit hash, exactly the identity
    the MinHash/Jaccard family already keys on), explode, distinct
    (gram-hash, source) pairs, then per-gram source-count and per-source
    rollups — every step a long-keyed aggregate with map-side partial
    combine; output bounded by |sources|. Never doc×doc, never a window.
    (The r6 rewrite replaced the interpreted higher-order-function gram
    strings + md5 keys with this path: 6× less per-doc work and an
    8-byte shuffle key instead of 32 chars, same distinct counts.)
    ``sets`` accepts a precomputed :func:`shingle_hash_sets` frame of the
    SAME corpus and shingle size (``(_id, _sh)``) so one cached tokenize+
    hash pass can feed this profile alongside the near-dup operators.

    Collision bound of the 64-bit gram identity: G distinct grams give
    about G²/2⁶⁵ expected colliding pairs — about 3·10⁻⁴ at G = 10⁸,
    0.03 at 10⁹ and 3 at 10¹⁰. Each collision undercounts
    ``n_grams_distinct`` by one for a source that holds both grams. A
    collision can also turn two exclusive grams of different sources into
    one shared gram, which undercounts ``n_exclusive`` by up to 2. Counts
    are never inflated.

    Columns: ``(<group_col>, n_docs, n_grams_distinct, n_exclusive,
    exclusivity_pct)``; ``n_docs`` counts ALL rows of the source (text
    or not), gram columns are 0 and ``exclusivity_pct`` NULL for
    sources with no tokenizable text. Null sources are profiled as a
    group (null-safe joins)."""
    if sets is not None:
        gs = (sets.select("_id", "_sh")
              .join(df.select(F.col(id_col).alias("_id"),
                              F.col(group_col).alias("_src")), "_id")
              .select("_src", F.explode("_sh").alias("_g"))
              .distinct())
    else:
        gs = (df.filter(F.col(text_col).isNotNull())
              .select(F.col(group_col).alias("_src"),
                      hashed_shingles(F.col(text_col), shingle_n)
                      .alias("_sh"))
              .select("_src", F.explode("_sh").alias("_g"))
              .distinct())
    per_gram = gs.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_ns"), F.min("_src").alias("_only"))
    excl = (per_gram.filter(F.col("_ns") == 1)
            .groupBy(F.col("_only").alias("_es"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_exclusive")))
    per_src = (gs.groupBy(F.col("_src").alias("_gs"))
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_grams_distinct")))
    docs = (df.groupBy(F.col(group_col).alias("_src"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    out = (docs
           .join(per_src, F.col("_src").eqNullSafe(F.col("_gs")), "left")
           .join(excl, F.col("_src").eqNullSafe(F.col("_es")), "left"))
    n_grams = F.coalesce("n_grams_distinct", F.lit(0)).cast("long")
    n_excl = F.coalesce("n_exclusive", F.lit(0)).cast("long")
    return (out.select(
        F.col("_src").alias(group_col),
        "n_docs",
        n_grams.alias("n_grams_distinct"),
        n_excl.alias("n_exclusive"),
        F.when(n_grams > 0,
               F.round(n_excl * 100.0 / n_grams, 4))
        .alias("exclusivity_pct"))
        .orderBy(F.col(group_col).asc_nulls_first()))


def vocab_growth_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
    shingle_n: int = 1,
) -> DataFrame:
    """Marginal-vocabulary (Heaps-law) curve over ingest order: split the
    id range into ``n_buckets`` equal-width buckets and report, per
    bucket, how many distinct token ``shingle_n``-grams appear at all and
    how many appear for the FIRST time corpus-wide. The is-more-data-
    still-new question every corpus-size decision rests on (Heaps 1978;
    the dedup papers' "fraction novel" curves): a healthy growing corpus
    keeps a roughly power-law novelty tail — a flat-lining curve says
    additional ingest is re-crawling what you have, and a novelty SPIKE
    in one bucket says a new domain (or a corruption episode) landed
    there. Complements :func:`source_diversity_profile`: that slices
    exclusivity by source, this orders marginal novelty by ingest
    position.

    Bucketing is exact integer arithmetic over the id range
    (``(id - min) * n_buckets DIV (max - min + 1)``, broadcast single-row
    min/max — no ntile, no single-partition window). Gram work is the
    same md5-keyed aggregate algebra as :func:`source_diversity_profile`
    (per-gram MIN bucket = one map-side-combined aggregate); the final
    cumulative sum is a window over ≤ ``n_buckets`` rows. Never doc×doc.

    Columns: ``(bucket, n_docs, n_grams_distinct, n_new_grams,
    novelty_pct, vocab_cumulative)`` ordered by bucket."""
    bounds = df.select(F.min(id_col).alias("_mn"),
                       F.max(id_col).alias("_mx"))
    with_b = (df.crossJoin(F.broadcast(bounds))
              .withColumn(
                  "_b",
                  F.expr(f"(({id_col} - _mn) * {int(n_buckets)}) "
                         f"DIV (_mx - _mn + 1)").cast("long")))
    gb = (with_b.filter(F.col(text_col).isNotNull())
          .select("_b",
                  F.explode(F.array_distinct(
                      shingles(F.col(text_col), shingle_n))).alias("_gram"))
          .select("_b", F.md5("_gram").alias("_g"))
          .distinct())
    first = (gb.groupBy("_g").agg(F.min("_b").alias("_fb"))
             .groupBy(F.col("_fb").alias("_b"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_new_grams")))
    per_b = gb.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams_distinct"))
    docs = with_b.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    out = (docs.join(per_b, "_b", "left").join(first, "_b", "left"))
    from pyspark.sql import Window

    n_grams = F.coalesce("n_grams_distinct", F.lit(0)).cast("long")
    n_new = F.coalesce("n_new_grams", F.lit(0)).cast("long")
    # global-order window over <= n_buckets rows — bounded, never data-scaled
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    return (out.select(
        F.col("_b").alias("bucket"), "n_docs",
        n_grams.alias("n_grams_distinct"),
        n_new.alias("n_new_grams"),
        F.when(n_grams > 0, F.round(n_new * 100.0 / n_grams, 4))
        .alias("novelty_pct"),
        F.sum(n_new).over(w).cast("long").alias("vocab_cumulative"))
        .orderBy("bucket"))


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Pointwise-mutual-information collocation profile over adjacent
    token bigrams — the phrase-mining / boilerplate lens the frequency
    censuses can't give: raw bigram counts (``top_ngram_stats``) surface
    whatever common words collide, while PMI
    ``ln(p(xy) / (p(x)·p(y)))`` surfaces pairs that co-occur far MORE
    than their unigram frequencies predict — templated legalese,
    navigation chrome, and multiword entities ("los angeles") that a
    tokenizer-vocabulary or boilerplate-strip decision needs
    (Church & Hanks 1990's association-ratio measure).

    Determinism contract: all counts are exact integers;
    ``p(xy) = c(xy)/P`` over bigram occurrences and ``p(x) = c(x)/N``
    over unigram occurrences, algebraically rearranged so the ONLY
    floating-point work is one fixed-order multiply chain + one ``ln``
    + one round — bit-reproducible against the DuckDB oracle. Pairs
    below ``min_pair_count`` are floored out BEFORE the join (PMI is
    meaningless at count 1 — a typo pair scores arbitrarily high).

    Shape at scale: explode → two map-side-combined hash aggregates
    (bounded by vocab / distinct-bigram cardinality, never doc×doc),
    two key-equality joins of the floored pair table against the
    unigram table (AQE picks broadcast vs shuffle by actual vocab
    size), totals via broadcast 1-row aggregates. (An r6 experiment
    persisting the unigram table measured SLOWER at 50k docs — the
    vocab aggregate is cheap enough that cache materialization costs
    more than the re-evaluations it saves; left as-is.)
    Output: ``(w1, w2, pair_count, w1_count, w2_count, pmi)``, one row
    per surviving bigram."""
    c = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(tokens(c).alias("_t"))
    uni = (toks.select(F.explode("_t").alias("w"))
           .groupBy("w")
           .agg(F.count(F.lit(1)).cast("long").alias("w_count")))
    pairs_arr = F.expr(
        "transform(sequence(1, size(_t) - 1), "
        "i -> struct(_t[i-1] AS w1, _t[i] AS w2))")
    pr = (toks.filter(F.size("_t") >= 2)
          .select(F.explode(pairs_arr).alias("p"))
          .select("p.w1", "p.w2")
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
          .filter(F.col("pair_count") >= int(min_pair_count)))
    n_tok = uni.agg(F.sum("w_count").cast("long").alias("_n"))
    n_pair = (toks.filter(F.size("_t") >= 2)
              .select((F.size("_t") - 1).cast("long").alias("_k"))
              .agg(F.sum("_k").cast("long").alias("_p")))
    j = (pr.join(uni.withColumnRenamed("w", "w1")
                 .withColumnRenamed("w_count", "w1_count"), "w1")
         .join(uni.withColumnRenamed("w", "w2")
               .withColumnRenamed("w_count", "w2_count"), "w2")
         .crossJoin(F.broadcast(n_tok))
         .crossJoin(F.broadcast(n_pair)))
    # + 0.0 canonicalizes IEEE negative zero (Spark's BigDecimal round
    # drops the sign of zero, DuckDB's keeps it — a tiny negative PMI
    # would otherwise hash as -0.0 vs 0.0 across engines)
    pmi = F.round(F.log(
        (F.col("pair_count").cast("double") * F.col("_n") * F.col("_n"))
        / (F.col("_p").cast("double") * F.col("w1_count")
           * F.col("w2_count"))), 4) + F.lit(0.0)
    return j.select("w1", "w2", "pair_count", "w1_count", "w2_count",
                    pmi.alias("pmi"))
