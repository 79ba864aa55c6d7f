"""Seeded benchmark inputs, stored as parquet before anything is timed.

Each input set lives in its own directory keyed by (workload, seed,
size). ``meta.json`` is written last, once every table of the set is
complete; a later run with the same key finds it, reads it back and
reuses the set instead of building it again. Only the ``KEEP_SETS`` most
recently used sets are kept. The workloads read only these stored tables;
the generators run nowhere else.

- transcripts: ``synth_transcripts`` + ``synth_registry`` (planted
  violations, hot conversations) at ``seed``.
- drift baseline: ``synth_transcripts`` at ``seed + 1`` with a shifted
  text-length distribution.
- changed snapshot: the transcripts with the text of about 2% of the
  conversations edited, all of them in a few lineage buckets (a day's
  edits that land in a few partitions).
- documents: a word-salad corpus with the profile of the sf0.1
  ``documents`` table (30 equiprobable words, 10-99 words per doc, 5% of
  docs a copy of an earlier doc with `` dup`` appended).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

#: bump when a generator changes, so stale input sets are not reused
FORMAT = 2
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
NEAR_DUP_FRACTION = 0.05
CHANGED_FRACTION = 0.02
#: input sets kept under ``<root>/data``; older ones are deleted
KEEP_SETS = 8


def input_dir(root: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(root, "data", f"{workload}-seed{seed}-n{size}")


def load_or_build(root: str, workload: str, seed: int, size: int,
                  params: dict, build) -> dict:
    """The meta of the input set of (workload, seed, size), with its
    directory under ``"dir"``. A complete set built with the same
    generator ``params`` is reused; otherwise the set is built with
    ``build(dir, seed, size) -> meta``."""
    out = input_dir(root, workload, seed, size)
    meta_path = os.path.join(out, "meta.json")
    meta = None
    if os.path.isfile(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if (meta.get("format"), meta.get("params")) != (FORMAT, params):
            meta = None
    if meta is None:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        meta = dict(build(out, seed, size), format=FORMAT, params=params)
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    os.utime(meta_path)  # marks the set as the most recently used
    _evict(os.path.dirname(out))
    meta["dir"] = out
    return meta


def _evict(data: str) -> None:
    """Delete all but the ``KEEP_SETS`` most recently used input sets."""
    def used(d: str) -> float:
        try:
            return os.path.getmtime(os.path.join(data, d, "meta.json"))
        except OSError:
            return 0.0  # incomplete: an interrupted build

    sets = sorted(os.listdir(data), key=used, reverse=True)
    for d in sets[KEEP_SETS:]:
        shutil.rmtree(os.path.join(data, d), ignore_errors=True)


def build_transcripts(spark, out: str, seed: int, turns: int) -> dict:
    from valar_spark.synth import synth_registry, synth_transcripts

    path = os.path.join(out, "transcripts")
    synth_transcripts(spark, total_turns=turns, seed=seed).write.parquet(path)
    synth_registry(spark, total_turns=turns, seed=seed).write.parquet(
        os.path.join(out, "registry"))
    return {}


def build_drift_baseline(spark, out: str, seed: int, turns: int,
                         len_shift: int) -> dict:
    from valar_spark.synth import synth_transcripts

    path = os.path.join(out, "baseline")
    synth_transcripts(spark, total_turns=turns, seed=seed + 1,
                      len_shift=len_shift).write.parquet(path)
    return {}


def build_changed_snapshot(spark, out: str, seed: int, num_buckets: int,
                           n_dirty: int) -> dict:
    """Write ``changed``: the stored transcripts with the text of every
    turn of ``CHANGED_FRACTION`` of the conversations edited. The edited
    conversations all hash to ``n_dirty`` of the ``num_buckets`` lineage
    buckets, drawn from ``seed``."""
    from pyspark.sql import functions as F

    from valar_spark.validate import bucket_expr

    rng = np.random.default_rng(seed)
    dirty = sorted(int(b) for b in
                   rng.choice(num_buckets, size=n_dirty, replace=False))
    df = spark.read.parquet(os.path.join(out, "transcripts"))
    # within the dirty buckets, the share that makes CHANGED_FRACTION of
    # all conversations
    share = CHANGED_FRACTION * num_buckets / n_dirty
    u = (F.pmod(F.xxhash64(F.lit(seed), F.lit(11), "conv_id"), F.lit(10_000))
         / F.lit(10_000.0))
    edited = bucket_expr(["conv_id"], num_buckets).isin(dirty) & (u < share)
    changed = df.withColumn(
        "text", F.when(edited & F.col("text").isNotNull(),
                       F.concat("text", F.lit(" edited")))
        .otherwise(F.col("text")))
    path = os.path.join(out, "changed")
    changed.write.parquet(path)
    touched = (spark.read.parquet(path)
               .filter(edited & F.col("text").endswith(" edited"))
               .groupBy(bucket_expr(["conv_id"], num_buckets).alias("b"))
               .agg(F.countDistinct("conv_id").alias("n")).collect())
    return {"changed_conversations": sum(r["n"] for r in touched),
            "dirty_buckets": sorted(r["b"] for r in touched)}


def build_documents(out: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` in the schema the curation queries read:
    ``(doc_id, text, lang, source, n_chars)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(WORDS, dtype=object)
    lens = rng.integers(10, 100, size=n_docs)
    texts = [" ".join(rng.choice(words, size=n)) for n in lens]
    # near-duplicates: a later doc repeats an earlier one plus " dup"
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_FRACTION):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(np.array(LANGS, dtype=object),
                                    size=n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))
    return {"rows": n_docs}
