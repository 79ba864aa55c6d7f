"""spark-submit entrypoint (BASELINE.json:6 "ships as a spark-submit
--py-files package").

Usage:
    spark-submit --py-files valar_spark.zip -m valar_spark.cli ...  # or
    python -m valar_spark.cli --input /path/to/transcripts.parquet \
        --work-dir /tmp/valar_run --run-id run1 [--resume]

Validates a transcript table (schema per BASELINE.json:15) with the
standard rule set + dataset rules, checkpointing per-bucket lineage so an
interrupted run resumes where it stopped.

Exactly one analysis mode runs per invocation in place of the validation
run; ``--curate --containment`` is the one composition (the subsumption
drop set feeds the ledger's near-dup stage). ``python -m valar_spark.cli
--help`` lists the modes. An option the invocation would not read (a
validation-run option next to a mode, a ``--curate`` option without it,
``--rules-out`` without ``--auto``) is a parser error.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time


def _budgets(text: str) -> dict[str, float]:
    """``--budget``'s comma-separated ``rule_id=rate`` pairs."""
    budgets = {}
    for part in text.split(","):
        rid, sep, rate = part.rpartition("=")
        try:
            if not sep:
                raise ValueError(part)
            budgets[rid.strip()] = float(rate)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"{part!r} is not RULE=RATE with a numeric RATE") from None
    return budgets


def _persist(frame, work_dir: str, name: str):
    """Write ``frame`` as parquet to ``work_dir/name`` and read it back, so
    the mode's rollup scans the written table instead of recomputing the
    plan. Returns ``(path, frame)``."""
    out = os.path.join(work_dir, name)
    frame.write.mode("overwrite").parquet(out)
    return out, frame.sparkSession.read.parquet(out)


def _census(run_id: str, frame, label: str, key: str, view=None, *,
            show_n: int = 20, truncate: bool | int = False, note: str = "",
            extra: dict | None = None, gate: bool = False) -> int:
    """The block a census mode ends with: count ``frame``, print
    ``<label>: n`` followed by ``note``, show ``view`` (the mode's ordered,
    limited rows; ``frame`` itself by default) and print the JSON line
    (``key`` holds the count, then ``extra``). Returns the exit code: 1 on
    any hit for a ``gate`` mode, so a scheduler can block the batch, else
    0."""
    n = frame.count()
    print(f"{label}: {n}{note}")
    (frame if view is None else view).show(show_n, truncate=truncate)
    print(json.dumps({"run_id": run_id, key: n, **(extra or {})}))
    return 1 if gate and n else 0


def _section(sections: dict[str, int], name: str, frame, title: str) -> int:
    """One section of a health report: count ``frame`` into
    ``sections[name]``, print ``== <title>: n`` and show up to 10 rows."""
    n = frame.count()
    sections[name] = n
    print(f"== {title}: {n}")
    if n:
        frame.limit(10).show(truncate=60)
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="valar_spark")
    group = p.add_argument_group(
        "analysis modes",
        "each runs in place of the validation run, one per invocation; "
        "--containment also composes with --curate")
    modes: list[argparse.Action] = []

    def mode(*flags: str, **kw) -> None:
        modes.append(group.add_argument(*flags, **kw))

    p.add_argument("--input", required=True,
                   help="transcript table path (parquet) or "
                        "'synth:<turns>' for the generator")
    p.add_argument("--registry", help="conversation registry path (parquet); "
                                      "enables the referential check")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--run-id", default="run0")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--salt", type=int, default=4)
    p.add_argument("--buckets-per-job", type=int, default=8)
    p.add_argument("--master", default=None)
    p.add_argument("--report", action="store_true",
                   help="print the per-rule summary table")
    mode("--suggest", action="store_true",
         help="profile the input and print a suggested rule set "
              "(evidence report) instead of validating")
    p.add_argument("--history-anomalies", action="store_true",
                   help="after the run, flag rules whose violation rate "
                        "deviates >3 sigma from prior runs in this work-dir")
    mode("--curate", action="store_true",
         help="treat --input as a documents-shaped table "
              "(doc_id, text, lang, source) and run the "
              "curation LEDGER (quality -> normalized dedup "
              "[-> MinHash near-dup] -> per-source cap -> "
              "split): writes the per-doc ledger parquet to "
              "the work-dir and prints the per-stage yield")
    p.add_argument("--cap", type=int, default=None,
                   help="per-source document cap for --curate")
    p.add_argument("--minhash", action="store_true",
                   help="add the MinHash near-dup stage to --curate")
    p.add_argument("--semantic", metavar="EMB_PATH", default=None,
                   help="add the SemDeDup embedding near-dup stage to "
                        "--curate: parquet with (vec_id, embedding) "
                        "where vec_id aligns with doc_id; drop ids are "
                        "computed over the quality+dedup survivors only")
    # NOTE: --containment (defined below) composes with --curate the same
    # way: the subsumption drop set (computed over the survivors) joins
    # the ledger's near_dup stage alongside the MinHash victims
    mode("--curate-conversations", action="store_true",
         help="run the CONVERSATION curation ledger over the "
              "transcript input (degenerate -> exact "
              "fingerprint -> transitive near-dup, survivor-"
              "scoped): writes the per-conversation ledger "
              "parquet to the work-dir and prints the "
              "per-stage yield")
    p.add_argument("--min-turns", type=int, default=0,
                   help="quality-stage minimum conversation length for "
                        "--curate-conversations (0 disables)")
    p.add_argument("--max-blank-frac", type=float, default=0.0,
                   help="quality-stage blank-turn fraction ceiling for "
                        "--curate-conversations (0 disables)")
    p.add_argument("--min-degenerate-run", type=int, default=4,
                   help="degenerate-stage run length for "
                        "--curate-conversations (0 disables)")
    p.add_argument("--near-dup-threshold", type=float, default=0.8,
                   help="turn-token Jaccard threshold for "
                        "--curate-conversations (0 disables)")
    mode("--latency", action="store_true",
         help="as-of response-latency check: per assistant turn, "
              "seconds since the latest user turn at-or-before "
              "it; writes flagged rows and prints a per-reason "
              "rollup")
    p.add_argument("--max-latency-s", type=int, default=60,
                   help="latency above this flags too_slow (--latency)")
    mode("--canned", action="store_true",
         help="canned/templated response census over a "
              "transcripts-shaped input: top-k exact assistant "
              "texts recurring across >= --min-canned-convs "
              "conversations, with turn count, conversation "
              "fan-out and share of assistant turns — the "
              "over-weighted refusal/greeting/degenerate "
              "templates a training-data curation run "
              "downweights")
    p.add_argument("--min-canned-convs", type=int, default=2,
                   help="conversation fan-out threshold for --canned")
    mode("--divergent-dups", action="store_true",
         help="duplicate-key triage over a transcripts-shaped "
              "input: groups duplicated (conv_id, turn_idx) "
              "keys into exact_replay (all copies byte-equal — "
              "safe to auto-dedup) vs divergent (copies "
              "disagree — branched regeneration/corruption, "
              "needs review); writes the flagged keys and "
              "prints the per-kind rollup")
    p.add_argument("--budget", metavar="RULE=RATE,...", type=_budgets,
                   default=None,
                   help="error-budget gate applied after the run: "
                        "comma-separated rule_id=tolerated_violation_rate "
                        "pairs (unlisted rules get zero tolerance); any "
                        "breach prints the offending rules and exits 1 so "
                        "a scheduler can block the publish step")
    p.add_argument("--prev-run", metavar="RUN_ID", default=None,
                   help="incremental revalidation: fingerprint-diff the "
                        "input against RUN_ID's stored per-bucket "
                        "fingerprints in the same work dir, carry forward "
                        "unchanged buckets' verdicts and violations, and "
                        "revalidate only added/changed buckets")
    p.add_argument("--estimate", metavar="FRACTION", type=float,
                   default=None,
                   help="pre-flight sampled validation: run the rule set "
                        "on a deterministic md5-bucket sample of this "
                        "fraction and print per-rule violation rates with "
                        "Wilson 95%% bands extrapolated to the full table "
                        "— the cheap estimate before paying for the full "
                        "pass (composes with --rules)")
    p.add_argument("--rules", metavar="SUITE.json", default=None,
                   help="validate with a serialized rule suite (the JSON "
                        "document suite_to_json writes / --rules-out "
                        "exports) instead of the built-in transcript rule "
                        "set — rules deploy as reviewed config, not code")
    p.add_argument("--rules-out", metavar="SUITE.json", default=None,
                   help="with --auto: also export the suggested rule set "
                        "as a suite document for review and later --rules "
                        "runs")
    mode("--tool-latency", action="store_true",
         help="per-tool round-trip health profile: pairs every "
              "tool-result turn with the latest assistant turn "
              "at-or-before it and rolls up per tool name — "
              "call/conversation counts, results with no prior "
              "caller, timestamp-causality breaks, and latency "
              "mean/max; the which-tool-is-slow-or-flaky "
              "dashboard")
    mode("--file-balance", action="store_true",
         help="physical-layout audit of a parquet input: rows "
              "per part file and each file's share of the "
              "table, surfacing hot files and small-files "
              "problems before they cap scan parallelism")
    mode("--heavy-hitters", metavar="COL", default=None,
         help="mergeable Misra-Gries frequency sketch of COL: "
              "prints the top surviving counters and the "
              "undercount bound (use on key columns too wide "
              "for an exact value-count table)")
    p.add_argument("--sketch-capacity", type=int, default=64,
                   help="counters per partition for --heavy-hitters")
    mode("--context-budget", type=int, default=None,
         metavar="TOKENS",
         help="context-window budget check: conversations whose "
              "running whitespace-token total crosses TOKENS, "
              "with the first offending turn; writes the "
              "overflow table and prints the worst offenders")
    mode("--drift-timeline", metavar="COL", default=None,
         help="rolling drift: PSI of each day's COL distribution "
              "vs the previous present day (quantile edges "
              "derived once over the whole input)")
    p.add_argument("--ts-col", default="ts",
                   help="timestamp column for --drift-timeline / --cusum")
    mode("--cusum", action="store_true",
         help="CUSUM level-shift chart on daily ingest volume "
              "(phase-I baseline = first --cusum-baseline days); "
              "pages on small persistent shifts a trailing "
              "z-monitor never sees")
    p.add_argument("--cusum-baseline", type=int, default=7,
                   help="baseline days for --cusum (default 7)")
    mode("--k-anonymity", metavar="COL,...", default=None,
         help="k-anonymity release gate over the given "
              "quasi-identifier columns (k from --k-threshold, "
              "sensitive column from --sensitive)")
    p.add_argument("--k-threshold", type=int, default=5,
                   help="class-size floor for --k-anonymity (default 5)")
    p.add_argument("--sensitive", default=None,
                   help="sensitive column for --k-anonymity l-diversity")
    mode("--null-patterns", metavar="COL,...", default=None,
         help="missingness-pattern profile over the given "
              "columns (co-occurring null masks)")
    mode("--semantic-types", metavar="COL", default=None,
         help="semantic-type inference profile of a string "
              "column (email/url/uuid/date/number/ipv4/json "
              "battery ratios + the dominant type, if any)")
    mode("--ri-bloom", action="store_true",
         help="Bloom-filter RI pre-screen of conv_id against "
              "--registry: orphans the parent-key filter PROVES "
              "absent, without shuffling the input against the "
              "registry (sized by bloom_parameters at fpp 1e-6)")
    mode("--token-drift-against", metavar="PATH", default=None,
         help="corpus-language drift: JS divergence of the "
              "token unigram distribution vs the baseline "
              "snapshot at PATH, attributed to the top moving "
              "tokens (template floods, vocabulary washout)")
    mode("--diff-against", metavar="PATH", default=None,
         help="snapshot reconciliation: exact keyed diff of the "
              "input vs a baseline snapshot at PATH — prints the "
              "schema evolution, the added/removed/changed/"
              "unchanged verdict and per-column changed counts, "
              "and writes the row-attributed diff (non-unchanged "
              "rows) to the work-dir")
    p.add_argument("--diff-keys", default="conv_id,turn_idx",
                   help="comma-separated key columns for --diff-against")
    p.add_argument("--diff-cols", default=None,
                   help="comma-separated compare columns for "
                        "--diff-against (default: all shared non-key "
                        "columns)")
    mode("--corpus-lm", action="store_true",
         help="corpus language-model statistics over a "
              "documents-shaped input: Zipf rank-frequency fit "
              "(slope/r2) + the 20 most atypical docs by unigram "
              "surprise (high avg_neg_logp = gibberish/OCR noise/"
              "wrong language under the corpus's own LM)")
    mode("--vocab", metavar="PATH", default=None,
         help="tokenizer-vocabulary coverage: parquet with a "
              "'term' column; prints corpus OOV mass and the 20 "
              "worst-covered docs (high oov_frac = corpus/"
              "tokenizer mismatch)")
    mode("--compression", action="store_true",
         help="zlib compressibility screen over a "
              "documents-shaped input: prints the 20 most "
              "compressible docs (ratio <~0.3 = boilerplate/"
              "template repetition) and the 20 least (ratio "
              ">~1.0 = already-compressed or binary-ish text)")
    mode("--urls", action="store_true",
         help="URL/domain census over a documents-shaped "
              "input: per-registrable-domain URL counts, "
              "distinct linking docs, subdomain fan-out, and "
              "bare-IP / non-standard-port flags (link-farm and "
              "scraper-misconfig signals)")
    mode("--markdown", metavar="GROUP_COL", default=None,
         help="markdown/code-fence hygiene rollup grouped by "
              "the given column (conv_id for transcripts, "
              "source for documents); exits 1 if any group has "
              "unclosed code fences (truncated generations)")
    mode("--containment", action="store_true",
         help="token-aligned subsumption scan over a "
              "documents-shaped input: docs whose whitespace-"
              "normalized token run appears verbatim inside a "
              "longer doc (truncation/quoted-in-full duplicates "
              "Jaccard under-scores); exact-recall rarest-"
              "shingle candidates, contains() verification. "
              "With --curate: adds the subsumption drop set "
              "(over survivors) to the ledger's near_dup stage")
    mode("--mixed-script", action="store_true",
         help="mixed-script confusable scan over a "
              "documents-shaped input: tokens mixing Latin with "
              "Cyrillic/Greek block characters (the Unicode "
              "TS #39 homoglyph-spoof class that survives ASCII "
              "filters and splits dedup groups); exit 1 when "
              "any flagged doc exists")
    mode("--dup-sources", action="store_true",
         help="per-source exact-duplicate attribution over a "
              "documents-shaped input: which source ships the "
              "dupes, split into within- and cross-source "
              "(mirror/scraper-overlap) membership")
    mode("--diversity", action="store_true",
         help="marginal-diversity profile over a "
              "documents-shaped input: per-source distinct and "
              "EXCLUSIVE token n-grams — a near-zero "
              "exclusivity source is redundant mass, a high "
              "one is irreplaceable coverage")
    mode("--quarantine", action="store_true",
         help="conversation-grain security quarantine over a "
              "transcripts-shaped input: per-conv injection/"
              "special-token/echo/ungrounded counts with a "
              "reasons csv; writes the quarantined convs "
              "parquet and exits 1 if any conversation is "
              "quarantined")
    mode("--corpus-report", action="store_true",
         help="one-stop corpus health report over a "
              "documents-shaped input: quality gate, exact/"
              "normalized dup mass, charset+invisible+mixed-"
              "script hygiene, credential/PII counts, source "
              "diversity, vocabulary-growth tail — section "
              "counts plus ONE JSON line; exits 1 if "
              "credentials are found")
    mode("--transcript-report", action="store_true",
         help="one-stop corpus health report over a "
              "transcripts-shaped input: shape, terminal "
              "grammar, language mix, cadence, the three "
              "pattern censuses (refusal / injection / "
              "special-token), tool echo+grounding, intra-conv "
              "loops — section counts plus ONE machine-readable "
              "JSON line; exits 1 if any security census fires")
    mode("--depth-profile", action="store_true",
         help="turn-depth x role length profile over a "
              "transcripts-shaped input: mean token length and "
              "blank share by depth bucket — the context-rot "
              "curve (shrinking tails, serving-limit cliffs, "
              "blank ramps)")
    mode("--pack", metavar="MAX_TOKENS", type=int, default=None,
         help="conversation -> training-sequence packing over a "
              "transcripts-shaped input: assign whole "
              "conversations to fixed-token context windows "
              "(never splitting a dialogue) and report the "
              "window fill / supervised-token-share rollup")
    mode("--verbosity-trend", action="store_true",
         help="per-conversation regression slope of assistant "
              "reply length vs turn depth (integer-exact sums): "
              "names WHICH conversations exhibit the "
              "context-rot decay the depth profile averages")
    mode("--parrot", action="store_true",
         help="parroting census over a transcripts-shaped "
              "input: assistant turns whose token set contains "
              ">=80%% of the preceding user turn's tokens — "
              "near-zero-signal replies at full token cost")
    mode("--pmi", action="store_true",
         help="PMI collocation profile over a documents-shaped "
              "input: adjacent-bigram association scores for "
              "phrase-mining / boilerplate triage")
    mode("--false-callbacks", action="store_true",
         help="hallucinated-context scan over a "
              "transcripts-shaped input: assistant turns "
              "claiming 'as I mentioned earlier' with no "
              "earlier turn to reference — the synthetic-"
              "template tripwire")
    mode("--response-variants", action="store_true",
         help="same-prompt/different-response miner over a "
              "transcripts-shaped input: repeated user "
              "prompts with >=2 distinct replies — "
              "preference-pair candidates")
    mode("--pii-roles", action="store_true",
         help="role-attributed PII census over a "
              "transcripts-shaped input: user turns = "
              "disclosure, tool turns = leaking connector, "
              "assistant turns = memorization tripwire "
              "(exit 1 on any assistant-side hit)")
    mode("--corrections", action="store_true",
         help="corrected-assistant-turn miner over a "
              "transcripts-shaped input: user turns opening "
              "with a correction marker right after an "
              "assistant reply, attributed to that reply — "
              "exclusion/preference-mining candidates")
    mode("--conv-leakage", action="store_true",
         help="conversation-grain train/eval leakage audit "
              "over a transcripts-shaped input: exact-content "
              "conversation clusters spanning >=2 hash splits "
              "(exit 1 on any leak)")
    mode("--intra-repeats", action="store_true",
         help="within-conversation repeated-turn scan over a "
              "transcripts-shaped input: the model-loop class "
              "between degenerate runs (consecutive) and "
              "template turns (cross-conversation)")
    mode("--special-tokens", action="store_true",
         help="serving-artifact census over assistant turns: "
              "literal stop tokens / ChatML markers / template "
              "tags / role-prefix double-wraps leaking into "
              "text — self-reinforcing corpus defects; exits 1 "
              "if any class fires")
    mode("--vocab-growth", action="store_true",
         help="Heaps-law marginal-vocabulary curve over a "
              "documents-shaped input by ingest (id) bucket: "
              "a flat-lining novelty tail means additional "
              "ingest is re-crawling what you already have")
    mode("--cadence", action="store_true",
         help="automation/replay cadence scan over a "
              "transcripts-shaped input: conversations whose "
              "every inter-turn gap is identical (scripted "
              "traffic, replayed logs, timer-stamped synthesis)")
    mode("--tool-echo", action="store_true",
         help="regurgitation scan over a transcripts-shaped "
              "input: assistant turns containing the preceding "
              "tool turn's output verbatim (near-zero training "
              "signal at full token cost)")
    mode("--grounding", action="store_true",
         help="numeric-grounding scan over a transcripts-shaped "
              "input: assistant turns right after a tool call "
              "whose stated numbers the tool never returned "
              "(hallucinated-statistic shape) — the complement "
              "of --tool-echo")
    mode("--language-mix", action="store_true",
         help="per-conversation language-consistency census: "
              "conversations whose turns classify to >=2 "
              "languages (corrupted merge / code-switching)")
    mode("--refusals", action="store_true",
         help="refusal-pattern battery census over assistant "
              "turns: per-pattern turn and conversation counts "
              "plus share — the paraphrase-tolerant companion "
              "of --canned")
    mode("--injections", action="store_true",
         help="prompt-injection battery census over user and "
              "tool turns (direct + indirect injection "
              "surfaces): per-(pattern, role) turn and "
              "conversation counts plus role share; exits 1 if "
              "any pattern fires so a curation scheduler can "
              "quarantine the batch")
    mode("--split-leakage", action="store_true",
         help="eval-set contamination scan: MinHash-LSH near-dup "
              "pairs joined against the deterministic hash "
              "split — reports pairs whose endpoints land in "
              "different splits; exits 1 if any leak is found")
    p.add_argument("--auto", action="store_true",
                   help="end-to-end pipeline: profile the input and PROPOSE "
                        "a rule set (Deequ-style suggestion), validate with "
                        "it (checkpointed/resumable), then anomaly-check "
                        "this run's violation rates against the work-dir's "
                        "run history — the whole engine in one invocation")
    args = p.parse_args(argv)
    chosen = [a for a in modes if getattr(args, a.dest) != a.default]
    if args.curate:
        # the one composition: --containment feeds the ledger's near-dup
        # stage instead of running its own scan
        chosen = [a for a in chosen if a.dest != "containment"]
    if len(chosen) > 1:
        p.error(f"{chosen[0].option_strings[0]} and "
                f"{chosen[1].option_strings[0]} are separate analysis "
                "modes; run one per invocation")
    if args.ri_bloom and not args.registry:
        p.error("--ri-bloom requires --registry")

    def given(*flags: str) -> list[str]:
        """The ``flags`` this invocation set away from their defaults."""
        dests = [f[2:].replace("-", "_") for f in flags]
        return [f for f, d in zip(flags, dests)
                if getattr(args, d) != p.get_default(d)]

    # an option no branch of this invocation reads would drop silently
    # (a budget gate added to a census run would gate nothing)
    if chosen:
        for flag in given("--budget", "--estimate", "--rules", "--auto",
                          "--prev-run", "--report", "--history-anomalies"):
            p.error(f"{flag} does not apply to the analysis mode "
                    f"{chosen[0].option_strings[0]}")
    if not args.curate:
        for flag in given("--cap", "--minhash", "--semantic"):
            p.error(f"{flag} requires --curate")
    if args.rules_out and not args.auto:
        p.error("--rules-out requires --auto")

    from valar_spark.session import get_spark

    spark = get_spark(app_name=f"valar:{args.run_id}", master=args.master)
    try:
        return _run(args, spark)
    finally:
        spark.stop()


def _run(args: argparse.Namespace, spark) -> int:
    """Load ``--input`` and run the analysis mode ``args`` selects, or the
    validation run when it selects none. Returns the exit code."""
    from pyspark.sql import functions as F

    from valar_spark import (GateError, RuleSet, ValidationConfig, ann,
                             assert_within_budget, drift, pretty_print,
                             sampled_validation, suite_from_json,
                             suite_to_json)
    from valar_spark import dataset_rules as D
    from valar_spark import textops as X
    from valar_spark.runner import (RunnerConfig, _read_state,
                                    history_anomalies, run_incremental)
    from valar_spark.suggest import suggest_rules
    from valar_spark.suite import rule_to_dict
    from valar_spark.synth import synth_transcripts

    if args.input.startswith("synth:"):
        df = synth_transcripts(spark, total_turns=int(args.input[6:]), seed=42)
    else:
        df = spark.read.parquet(args.input)

    if args.curate:
        nd = None
        if args.minhash or args.containment or args.semantic:
            # compute the near-dup drop sets over the quality+dedup
            # SURVIVORS, not the raw corpus — otherwise a surviving doc
            # can be dropped as near-dup of a keeper that itself failed
            # the quality gate, and the cluster's content vanishes from
            # the kept set entirely (ADVICE r4)
            surv = X.curation_survivors_pre_near_dup(df)
            parts = []
            if args.minhash:
                kept = X.dedup_minhash(surv, threshold=0.8)
                parts.append(
                    surv.select("doc_id").exceptAll(kept.select("doc_id")))
            if args.containment:
                # subsumed docs drop in favour of their maximal container
                parts.append(X.containment_drop_ids(surv))
            if args.semantic:
                # SemDeDup stage: paraphrase-grade duplicates no token
                # fingerprint can see; keep=false ids drop in favour of
                # the minimum-id representative of each cosine component
                emb = spark.read.parquet(args.semantic)
                emb_s = emb.join(
                    surv.select(F.col("doc_id").alias("vec_id")),
                    "vec_id")
                sd = ann.semantic_dedup(emb_s)
                parts.append(sd.filter(~F.col("keep"))
                             .select(F.col("vec_id").alias("doc_id")))
            nd = parts[0]
            for extra in parts[1:]:
                nd = nd.unionByName(extra)
        led = X.curation_ledger(df, cap=args.cap, near_dup_drop_ids=nd)
        out, led = _persist(led, args.work_dir, f"ledger_{args.run_id}")
        X.curation_report(led).show(50, truncate=False)
        print(json.dumps({"run_id": args.run_id, "ledger": out}))
        return 0

    if args.curate_conversations:
        led = D.conversation_curation_ledger(
            df,
            min_turns=args.min_turns or None,
            max_blank_frac=args.max_blank_frac or None,
            min_degenerate_run=args.min_degenerate_run or None,
            near_dup_threshold=args.near_dup_threshold or None,
            checkpoint_dir=os.path.join(args.work_dir, "_cc_ck"))
        out, led = _persist(led, args.work_dir,
                            f"conv_ledger_{args.run_id}")
        (led.groupBy("drop_reason")
         .agg(F.count(F.lit(1)).alias("n_conversations"),
              F.sum("n_turns").alias("n_turns"))
         .orderBy(F.col("drop_reason").asc_nulls_first())
         .show(truncate=False))
        print(json.dumps({"run_id": args.run_id, "conv_ledger": out}))
        return 0

    if args.latency:
        out, viol = _persist(
            D.response_latency_violations(
                df, max_latency_s=args.max_latency_s),
            args.work_dir, f"latency_{args.run_id}")
        (viol.groupBy("reason")
         .agg(F.count(F.lit(1)).alias("n_turns"),
              F.min("latency_s").alias("min_latency_s"),
              F.max("latency_s").alias("max_latency_s"))
         .orderBy("reason").show(truncate=False))
        print(json.dumps({"run_id": args.run_id, "latency": out}))
        return 0

    if args.canned:
        prof = D.canned_response_profile(
            df, min_convs=args.min_canned_convs).cache()
        return _census(args.run_id, prof,
                       f"canned response templates (fan-out >= "
                       f"{args.min_canned_convs} convs)",
                       "canned_templates", show_n=50, truncate=80)

    if args.context_budget is not None:
        out, over = _persist(
            D.context_overflow(df, max_tokens=args.context_budget),
            args.work_dir, f"context_overflow_{args.run_id}")
        n = over.count()
        print(f"conversations over {args.context_budget} tokens: {n}")
        (over.orderBy(F.col("total_tokens").desc(), "conv").limit(20)
         .show(truncate=False))
        print(json.dumps({"run_id": args.run_id, "context_overflow": out,
                          "n_over": n}))
        return 0

    if args.drift_timeline:
        tl = drift.psi_timeline(df, args.drift_timeline, args.ts_col)
        tl.show(100, truncate=False)
        return 0

    if args.cusum:
        chart = drift.cusum_shift(df, args.ts_col,
                                  baseline=args.cusum_baseline)
        chart.show(100, truncate=False)
        alarms = chart.filter(F.col("alarm")).count()
        print(json.dumps({"run_id": args.run_id, "cusum_alarms": alarms}))
        return 0 if alarms == 0 else 1

    if args.k_anonymity:
        prof = D.k_anonymity_profile(
            df, args.k_anonymity.split(","), k=args.k_threshold,
            sensitive_col=args.sensitive)
        row = prof.collect()[0]
        prof.show(truncate=False)
        print(json.dumps({"run_id": args.run_id,
                          "risk_rate": row.risk_rate,
                          "risky_rows": row.risky_rows,
                          "l_min": row.l_min}))
        return 0 if row.risky_rows == 0 else 1

    if args.null_patterns:
        D.null_pattern_profile(df, args.null_patterns.split(",")) \
            .show(100, truncate=False)
        return 0

    if args.semantic_types:
        prof = D.semantic_type_profile(df, args.semantic_types)
        rows = prof.collect()
        prof.show(truncate=False)
        dom = [r.type for r in rows if r.dominant]
        print(json.dumps({"run_id": args.run_id,
                          "column": args.semantic_types,
                          "dominant": dom}))
        return 0

    if args.ri_bloom:
        reg = spark.read.parquet(args.registry)
        n_parent = reg.select("conv_id").distinct().count()
        m, k = D.bloom_parameters(n_parent, 1e-6)
        orphans = D.bloom_orphan_keys(df, "conv_id", reg,
                                      num_bits=m, num_hashes=k)
        got = orphans.orderBy("conv_id").collect()
        print(f"bloom RI screen: {len(got)} orphan conv_ids "
              f"({m} bits, {k} hashes over {n_parent} parent keys)")
        for r in got[:20]:
            print(f"  {r['conv_id']}  ({r['orphan_rows']} rows)")
        return 0

    if args.divergent_dups:
        out, flagged = _persist(D.divergent_duplicates(df), args.work_dir,
                                f"divergent_dups_{args.run_id}")
        (flagged.groupBy("kind")
         .agg(F.count(F.lit(1)).alias("n_keys"),
              F.sum(F.col("dup_count") - 1).alias("n_extra_rows"))
         .orderBy("kind")
         .show(truncate=False))
        print(json.dumps({"run_id": args.run_id, "divergent_dups": out}))
        return 0

    if args.tool_latency:
        flagged = D.tool_roundtrip_profile(df).orderBy("tool")
        flagged.show(truncate=False)
        print(json.dumps({
            "run_id": args.run_id,
            "tools": {r["tool"]: r["n_calls"]
                      for r in flagged.collect()}}))
        return 0

    if args.file_balance:
        prof = D.file_balance_profile(df)
        prof.orderBy(F.desc("n_rows")).show(20, truncate=False)
        summary = prof.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.min("n_rows").alias("min_rows"),
            F.max("n_rows").alias("max_rows"),
            F.round(F.avg("n_rows"), 1).alias("avg_rows")).first()
        print(json.dumps({"run_id": args.run_id,
                          "n_files": summary["n_files"],
                          "min_rows": summary["min_rows"],
                          "max_rows": summary["max_rows"],
                          "avg_rows": summary["avg_rows"]}))
        return 0

    if args.heavy_hitters:
        sk = D.heavy_hitters_sketch(df, args.heavy_hitters,
                                    capacity=args.sketch_capacity)
        dec = sk.filter(F.col("value").isNull()).agg(
            F.coalesce(F.sum("est"), F.lit(0)).alias("d")).first()["d"]
        print(f"undercount bound (sum of partition decrements): {dec}")
        (sk.filter(F.col("value").isNotNull())
         .orderBy(F.col("est").desc(), "value").limit(20)
         .show(truncate=False))
        return 0

    if args.token_drift_against:
        base = spark.read.parquet(args.token_drift_against)
        movers = drift.token_drift(base, df).cache()
        n = movers.count()
        js = movers.select("js_total").first()["js_total"] if n else 0.0
        print(f"token-drift JS (nats): {js} — top {n} movers:")
        movers.show(truncate=False)
        print(json.dumps({"run_id": args.run_id, "token_drift_js": js,
                          "movers": n}))
        return 0

    if args.diff_against:
        old = spark.read.parquet(args.diff_against)
        keys = [k.strip() for k in args.diff_keys.split(",") if k.strip()]
        if args.diff_cols:
            cols = [c.strip() for c in args.diff_cols.split(",")
                    if c.strip()]
        else:
            cols = [c for c in old.columns
                    if c in df.columns and c not in keys]
        print("schema evolution (baseline -> input):")
        D.schema_evolution(old, df).show(200, truncate=False)
        print(f"value diff on keys {keys}, columns {cols}:")
        D.snapshot_diff_summary(old, df, keys, cols).show(truncate=False)
        out = os.path.join(args.work_dir, f"snapshot_diff_{args.run_id}")
        (D.snapshot_diff(old, df, keys, cols)
         .where(F.col("status") != "unchanged")
         .write.mode("overwrite").parquet(out))
        print(json.dumps({"run_id": args.run_id, "snapshot_diff": out}))
        return 0

    if args.corpus_lm:
        print("Zipf rank-frequency fit (natural text: slope near -1):")
        X.zipf_profile(df).show(truncate=False)
        print("20 most atypical docs by unigram surprise:")
        (X.unigram_logprob(df)
         .orderBy(F.col("avg_neg_logp").desc(), "doc_id").limit(20)
         .show(truncate=False))
        return 0

    if args.compression:
        feats = X.compression_features(df).where(
            F.col("compression_ratio").isNotNull()).cache()
        print("20 most compressible docs (boilerplate suspects):")
        (feats.orderBy("compression_ratio", "doc_id").limit(20)
         .show(truncate=False))
        print("20 least compressible docs (binary/pre-compressed "
              "suspects):")
        (feats.orderBy(F.col("compression_ratio").desc(), "doc_id")
         .limit(20).show(truncate=False))
        return 0

    if args.vocab:
        cov = X.vocab_coverage(df, spark.read.parquet(args.vocab))
        tot = cov.agg(F.sum("n_tokens").alias("t"),
                      F.sum("n_oov").alias("o")).first()
        frac = (tot["o"] / tot["t"]) if tot["t"] else 0.0
        print(f"corpus OOV mass: {tot['o']}/{tot['t']} tokens "
              f"({frac:.4f})")
        (cov.orderBy(F.col("oov_frac").desc(),
                     F.col("n_tokens").desc(), "doc_id")
         .limit(20).show(truncate=False))
        return 0

    if args.urls:
        prof = X.url_domain_profile(df).cache()
        (prof.orderBy(F.col("n_urls").desc(), "domain")
         .limit(50).show(truncate=False))
        tot = prof.agg(F.sum("n_urls").alias("u"),
                       F.sum("n_bare_ip").alias("ip"),
                       F.sum("n_nonstd_port").alias("p")).first()
        print(json.dumps({"run_id": args.run_id,
                          "n_urls": int(tot["u"] or 0),
                          "n_bare_ip": int(tot["ip"] or 0),
                          "n_nonstd_port": int(tot["p"] or 0)}))
        return 0

    if args.markdown:
        h = X.markdown_hygiene(df, [args.markdown]).cache()
        bad = h.filter(F.col("n_unbalanced") > 0)
        return _census(args.run_id, bad, "groups with unclosed code fences",
                       "unbalanced_groups",
                       bad.orderBy(F.col("n_unbalanced").desc(),
                                   args.markdown).limit(20), gate=True)

    if args.containment:
        pairs = X.containment_pairs(df).cache()
        return _census(args.run_id, pairs,
                       "containment pairs (contained -> container)",
                       "containment_pairs",
                       pairs.orderBy(F.col("container_tokens").desc(),
                                     "contained_id", "container_id")
                       .limit(50))

    if args.mixed_script:
        feats = X.mixed_script_features(df).cache()
        bad = feats.filter("has_mixed_script")
        return _census(args.run_id, bad,
                       "docs with mixed-script confusable tokens",
                       "mixed_script_docs",
                       bad.orderBy(F.col("n_mixed_tokens").desc(), "doc_id")
                       .limit(50), gate=True)

    if args.dup_sources:
        prof = X.duplicate_source_attribution(df).cache()
        return _census(args.run_id, prof,
                       "sources profiled for duplicate attribution",
                       "dup_sources", show_n=50)

    if args.diversity:
        prof = X.source_diversity_profile(df).cache()
        return _census(args.run_id, prof,
                       "sources profiled for gram diversity",
                       "diversity_sources", show_n=50)

    if args.quarantine:
        ledger = D.conversation_quarantine(df).cache()
        bad = ledger.filter("quarantine").cache()
        out = os.path.join(args.work_dir, f"quarantine_{args.run_id}")
        bad.write.mode("overwrite").parquet(out)
        return _census(args.run_id, bad, "quarantined conversations",
                       "quarantined", bad.orderBy("conv").limit(50),
                       note=f" of {ledger.count()}",
                       extra={"quarantine_path": out}, gate=True)

    if args.corpus_report:
        df = df.cache()
        sections: dict[str, int] = {}
        sec = functools.partial(_section, sections)
        sections["docs"] = df.count()
        print(f"== documents: {sections['docs']}")
        sec("quality_dropped", X.corpus_filter(df).filter("NOT keep"),
            "quality-gate dropped docs")
        sec("exact_dup_groups", X.exact_duplicate_groups(df),
            "exact duplicate groups")
        sec("normalized_dup_groups", X.normalized_duplicate_groups(df),
            "normalization-key duplicate groups")
        sec("mojibake_docs",
            X.charset_features(df).filter("n_replacement > 0"),
            "docs with U+FFFD replacement chars")
        sec("invisible_char_docs",
            X.invisible_char_features(df)
            .filter("has_invisible OR bidi_unbalanced"),
            "docs with invisible/bidi controls")
        sec("mixed_script_docs",
            X.mixed_script_features(df).filter("has_mixed_script"),
            "docs with mixed-script (homoglyph) tokens")
        cred = sec("credential_docs",
                   X.credential_scan(df).filter("flagged"),
                   "docs with leaked credentials")
        sec("diversity_sources", X.source_diversity_profile(df),
            "sources profiled (exclusive-gram diversity)")
        curve = X.vocab_growth_curve(df).cache()
        sections["vocab_buckets"] = curve.count()
        tail = curve.orderBy(F.col("bucket").desc()).first()
        sections["tail_novelty_pct"] = (
            float(tail["novelty_pct"]) if tail and
            tail["novelty_pct"] is not None else None)
        print(f"== vocab-growth tail novelty: "
            f"{sections['tail_novelty_pct']}%")
        # high-PMI collocations with a high pair count = templated
        # boilerplate phrases worth a strip rule; top-10 shown, count
        # of floored collocations recorded
        sec("collocations", X.pmi_collocations(df)
            .orderBy(F.desc("pmi"), "w1", "w2"),
            "collocations above the count floor (top by PMI)")
        print(json.dumps({"run_id": args.run_id, **sections}))
        return 1 if cred else 0

    if args.transcript_report:
        # ONE cached scan feeds every section; each section is its own
        # bounded-output aggregate, so the report costs ~the sum of the
        # individual CLI surfaces minus the repeated input scans
        df = df.cache()
        sections = {}
        sec = functools.partial(_section, sections)
        stats = D.conversation_stats(df).cache()
        print(f"== conversations: {stats.count()}, "
              f"turns: {df.count()}")
        sections["conversations"] = stats.count()
        sections["turns"] = df.count()
        sec("shape_violations", D.conversation_violations(df, stats=stats),
            "conversation-shape violations")
        sec("mixed_language",
            D.conversation_language_profile(df).filter("mixed"),
            "mixed-language conversations")
        sec("constant_cadence",
            D.conversation_cadence_profile(df)
            .filter("constant_cadence"), "constant-cadence conversations")
        sec("refusal_patterns", D.refusal_pattern_census(df),
            "refusal patterns firing")
        inj = sec("injection_patterns", D.prompt_injection_census(df),
                  "injection patterns firing")
        tok = sec("special_token_classes", D.special_token_leakage(df),
                  "special-token classes firing")
        sec("tool_echoes", D.tool_output_echo(df),
            "assistant turns echoing tool output")
        sec("ungrounded_turns",
            D.tool_grounding_check(df).filter("n_ungrounded > 0"),
            "assistant turns with ungrounded numbers")
        sec("intra_repeats", D.intra_conversation_repeats(df),
            "repeated texts within conversations")
        sec("parrot_turns", D.parrot_census(df),
            "assistant turns parroting the preceding user turn")
        sec("corrected_turns", D.correction_pairs(df),
            "assistant turns the user corrected")
        sec("split_leaks", D.conversation_split_leakage(df),
            "identical conversations spanning train/eval splits")
        asst_pii = sec("assistant_pii_cells",
                       D.pii_role_census(df)
                       .filter("role = 'assistant'"),
                       "assistant-side PII cells (memorization)")
        print(json.dumps({"run_id": args.run_id, **sections}))
        return 1 if (inj or tok or asst_pii) else 0

    if args.depth_profile:
        prof = D.conversation_depth_profile(df).cache()
        return _census(args.run_id, prof, "depth x role buckets profiled",
                       "depth_buckets", show_n=50)

    if args.pack is not None:
        packed = D.conversation_sequence_packing(
            df, max_tokens=args.pack).cache()
        stats = D.sequence_packing_stats(packed, max_tokens=args.pack)
        n_conv = packed.count()
        n_over = packed.filter("overflow").count()
        n_seq = stats.count()
        # the product a dataloader consumes: the conv -> window
        # assignment, persisted like the curation ledger
        out = os.path.join(args.work_dir, f"packing_{args.run_id}")
        packed.write.mode("overwrite").parquet(out)
        print(f"{n_conv} conversations packed into {n_seq} "
              f"{args.pack}-token windows ({n_over} overflow)")
        stats.orderBy("seq_id").show(30)
        print(json.dumps({"run_id": args.run_id, "conversations": n_conv,
                          "windows": n_seq, "overflow": n_over,
                          "packing": out}))
        return 0

    if args.verbosity_trend:
        tr = D.verbosity_trend(df).cache()
        dec = tr.filter("declining").count()
        return _census(args.run_id, tr, "conversations regressed",
                       "regressed", tr.orderBy("slope").limit(30),
                       note=f" ({dec} declining)", extra={"declining": dec})

    if args.parrot:
        hits = D.parrot_census(df).cache()
        return _census(args.run_id, hits, "parroting assistant turns",
                       "parrot_turns",
                       hits.orderBy(F.desc("containment_pct"), "conv",
                                    "turn_idx").limit(30))

    if args.pmi:
        col = X.pmi_collocations(df).cache()
        return _census(args.run_id, col, "collocations above floor",
                       "collocations",
                       col.orderBy(F.desc("pmi"), "w1", "w2").limit(30))

    if args.false_callbacks:
        hits = D.false_callbacks(df).cache()
        return _census(args.run_id, hits, "false callbacks",
                       "false_callbacks",
                       hits.orderBy("conv", "turn_idx").limit(50))

    if args.response_variants:
        buckets = D.response_variants(df).cache()
        return _census(args.run_id, buckets,
                       "repeated prompts with divergent replies",
                       "variant_buckets",
                       buckets.orderBy(F.desc("n_variants"), "user_md5")
                       .limit(30))

    if args.pii_roles:
        census = D.pii_role_census(df).cache()
        asst = census.filter("role = 'assistant'") \
            .agg(F.sum("n_hits")).first()[0] or 0
        _census(args.run_id, census, "(role, category) cells with PII",
                "pii_cells", note=f" ({asst} assistant-side hits)",
                extra={"assistant_hits": int(asst)})
        return 1 if asst else 0

    if args.corrections:
        pairs = D.correction_pairs(df).cache()
        n_conv = pairs.select("conv").distinct().count()
        return _census(args.run_id, pairs, "corrected assistant turns",
                       "corrected_turns",
                       pairs.orderBy("conv", "user_turn_idx").limit(50),
                       note=f" in {n_conv} conversations",
                       extra={"conversations": n_conv})

    if args.conv_leakage:
        leaks = D.conversation_split_leakage(df).cache()
        n_cl = leaks.select("fingerprint").distinct().count()
        return _census(args.run_id, leaks, "split-spanning conversations",
                       "leaked_convs",
                       leaks.orderBy("fingerprint", "conv").limit(50),
                       note=f" in {n_cl} clusters",
                       extra={"leaked_clusters": n_cl}, gate=True)

    if args.intra_repeats:
        reps = D.intra_conversation_repeats(df).cache()
        loops = reps.filter("span > n_turns - 1").count()
        return _census(args.run_id, reps,
                       "repeated texts within conversations",
                       "intra_repeats",
                       reps.orderBy("conv", "text_hash").limit(50),
                       note=f" ({loops} non-adjacent loops)",
                       extra={"non_adjacent_loops": loops})

    if args.special_tokens:
        census = D.special_token_leakage(df).cache()
        return _census(args.run_id, census, "special-token classes firing",
                       "special_token_classes", gate=True)

    if args.vocab_growth:
        curve = X.vocab_growth_curve(df).cache()
        return _census(args.run_id, curve, "ingest buckets profiled",
                       "vocab_buckets", show_n=50)

    if args.cadence:
        prof = D.conversation_cadence_profile(df).cache()
        bad = prof.filter("constant_cadence")
        return _census(args.run_id, bad,
                       "constant-cadence (scripted/replayed) conversations",
                       "constant_cadence", bad.orderBy("conv").limit(50))

    if args.tool_echo:
        echoes = D.tool_output_echo(df).cache()
        return _census(args.run_id, echoes,
                       "assistant turns echoing tool output", "tool_echoes",
                       echoes.orderBy("conv", "turn_idx").limit(50))

    if args.grounding:
        checked = D.tool_grounding_check(df).cache()
        bad = checked.filter("n_ungrounded > 0").cache()
        return _census(args.run_id, bad,
                       "assistant turns with ungrounded numbers",
                       "ungrounded_turns",
                       bad.orderBy("conv", "turn_idx").limit(50),
                       note=f" (of {checked.count()} checked)")

    if args.language_mix:
        prof = D.conversation_language_profile(df).cache()
        mixed = prof.filter("mixed")
        return _census(args.run_id, mixed, "mixed-language conversations",
                       "mixed_language", mixed.orderBy("conv").limit(50),
                       note=f" of {prof.count()}")

    if args.refusals:
        census = D.refusal_pattern_census(df).cache()
        return _census(args.run_id, census, "refusal patterns firing",
                       "refusal_patterns")

    if args.injections:
        census = D.prompt_injection_census(df).cache()
        return _census(args.run_id, census, "injection patterns firing",
                       "injection_patterns", gate=True)

    if args.split_leakage:
        pairs = X.jaccard_pairs(
            df, threshold=0.8,
            candidates=X.minhash_candidates(df, num_hashes=64, bands=32))
        leaks = X.cross_split_contamination(pairs, X.hash_split(df))
        return _census(args.run_id, leaks, "cross-split near-dup pairs",
                       "cross_split_pairs",
                       leaks.orderBy("id_a", "id_b").limit(50), gate=True)

    if args.suggest:
        _, report = suggest_rules(df)
        report.orderBy("column", "rule").show(200, truncate=False)
        return 0

    if args.auto:
        # stage 1: profile → proposed rule set (with printed evidence)
        rules, sreport = suggest_rules(df)
        print("suggested rule set (profile evidence):")
        sreport.orderBy("column", "rule").show(200, truncate=False)
        args.report = True
        args.history_anomalies = True
        if args.rules_out:
            # export the declarative subset as a reviewable suite doc;
            # Column-bearing candidates (none today — suggest emits only
            # declarative leaves) would be skipped with a note
            exportable, skipped = {}, []
            for k, r in rules.items():
                try:
                    rule_to_dict(r, path=k)
                    exportable[k] = r
                except ValueError:
                    skipped.append(k)
            with open(args.rules_out, "w") as fh:
                fh.write(suite_to_json(exportable))
            print(f"suite written: {args.rules_out} "
                  f"({len(exportable)} columns"
                  + (f", skipped non-declarative: {skipped}" if skipped
                     else "") + ")")
    elif args.rules:
        # a reviewed suite document is the rule set — config, not code
        with open(args.rules) as fh:
            rules = suite_from_json(fh.read())
        print(f"loaded suite: {args.rules} ({len(rules)} columns)")
        args.report = True
    else:
        # the default transcript rule set lives in the driver-contract
        # module; imported only past the --suggest/--auto branches so those
        # runs work without __spark_entry__.py on the path
        sys.path.insert(0, ".")
        from __spark_entry__ import transcript_ruleset

        rules = transcript_ruleset()

    cfg = ValidationConfig(num_buckets=args.buckets, salt=args.salt)
    rs = RuleSet(rules, cfg)
    rc = RunnerConfig(work_dir=args.work_dir, run_id=args.run_id,
                      buckets_per_job=args.buckets_per_job)
    # keys/partitioning: transcript-shaped tables use the standard
    # (conv_id, turn_idx); any other table (reachable via --auto, which
    # proposes rules for ARBITRARY schemas) falls back to its first
    # column as row key + partition key, and the transcript-specific
    # dataset checks are skipped
    cols = set(df.columns)
    transcript_shaped = {"conv_id", "turn_idx"} <= cols
    if transcript_shaped:
        keys: tuple[str, ...] = ("conv_id", "turn_idx")
    else:
        keys = (df.columns[0],)

    if args.estimate is not None:
        # pre-flight: rule pass on the deterministic hash sample only,
        # Wilson bands extrapolated to the full table — composes with
        # --rules (estimate a reviewed suite before the full run)
        est = sampled_validation(df, rules, fraction=args.estimate,
                                 keys=keys)
        est.show(200, truncate=False)
        rows = est.collect()
        print(json.dumps({
            "run_id": args.run_id,
            "sample_rows": rows[0]["sample_rows"] if rows else 0,
            "total_rows": rows[0]["total_rows"] if rows else 0,
            "est": {r["rule_id"]: [r["est_violations_lo"],
                                   r["est_violations_hi"]]
                    for r in rows}}))
        return 0

    t0 = time.perf_counter()
    # always run through the incremental wrapper: without --prev-run it is
    # a full run that ALSO stores this run's per-bucket fingerprints, so
    # tomorrow's --prev-run has something to diff against (one extra
    # hash-aggregate pass, no window)
    res = run_incremental(df, rs, rc, prev_run_id=args.prev_run,
                          keys=keys, partition_cols=(keys[0],))
    if args.prev_run:
        print(f"incremental vs {args.prev_run}: revalidated "
              f"{len(res.buckets_processed)} buckets, carried "
              f"{len(res.buckets_skipped)}")
    n_viol = res.violations.count()
    dataset_viol = 0
    if transcript_shaped:
        # uniqueness + ordering fused into ONE window pass (same operator
        # the bench measures; two separate checks would pay a second full
        # shuffle)
        dataset_viol = D.transcript_integrity_violations(df).count()
        if args.registry:
            reg = spark.read.parquet(args.registry)
            dataset_viol += D.referential_violations(df, "conv_id",
                                                     reg).count()
    dt = time.perf_counter() - t0

    print(json.dumps({
        "run_id": args.run_id,
        "buckets_processed": res.buckets_processed,
        "buckets_resumed_from_checkpoint": res.buckets_skipped,
        "row_violations": n_viol,
        "dataset_violations": dataset_viol,
        "seconds": round(dt, 2),
    }))
    if args.report:
        (res.verdicts.groupBy("rule_id")
         .agg({"violation_count": "sum", "rows_checked": "sum"})
         .orderBy("rule_id").show(100, truncate=False))
        sample = pretty_print(res.violations, limit=20)
        if sample:
            print("sample violations (reference show/prettyPrint format):")
            print(sample)
    if args.history_anomalies:
        (history_anomalies(_read_state(spark, rc)).filter("anomalous")
         .orderBy("rule_id", "run_id").show(100, truncate=False))
    if args.budget is not None:
        # data-contract gate: exit nonzero on breach so a scheduler can
        # block the publish step on it
        summary = (res.verdicts.groupBy("rule_id")
                   .agg(F.sum("violation_count").alias("violation_count"),
                        F.sum("rows_checked").alias("rows_checked")))
        try:
            gate = assert_within_budget(summary, args.budget)
            gate.show(100, truncate=False)
        except GateError as ge:
            print(ge)
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
