"""A/B evidence for the hugeMethodLimit=8000 codegen scoping (session.py).

Claim under test: with whole-stage codegen ON, a WIDE rule projection
fuses into one generated method that exceeds HotSpot's 8000-byte JIT
huge-method limit; Spark's `spark.sql.codegen.hugeMethodLimit=8000` makes
it fall back to per-expression codegen for exactly those stages (logged as
"Found too long generated codes"), keeping fusion everywhere else.

One subprocess per (n_leaves, mode) cell so each Spark session is clean:

  mode wscg_on   : wholeStage=true, hugeMethodLimit=65535 (Spark default)
  mode wscg_8000 : wholeStage=true, hugeMethodLimit=8000  (engine default)
  mode wscg_off  : wholeStage=false                        (round-1 mode)

Per cell: row-rule validation of the stored 2M-turn transcript table,
REPEAT× after one warmup, printing one JSON line with the times and the
count of huge-method fallback log events (scraped from log4j on stderr —
the fallback fires 0 times in wscg_on, >0 in wscg_8000 iff the projection
genuinely overflows the JIT limit).

Usage:  python BENCH/wscg_ab.py            # driver: runs all 6 cells
        python BENCH/wscg_ab.py CELL n m   # one cell (internal)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

TURNS = int(os.environ.get("VALAR_WSCG_AB_TURNS", "2000000"))
REPEAT = int(os.environ.get("VALAR_WSCG_AB_REPEAT", "3"))
FALLBACK_RE = re.compile(r"Found too long generated codes")


def build_ruleset(n_leaves: int):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from valar_spark import rules as R

    # leaves stack per column via & — declared count is exact
    leaves = {
        "text": [R.non_empty(), R.max_length(8000), R.min_length(1),
                 R.max_length(9000), R.min_length(0), R.max_length(10000)],
        "conv_id": [R.non_empty(), R.min_length(3), R.max_length(64),
                    R.matches(r"c[0-9]+")],
        "turn_idx": [R.non_negative(), R.in_range(0, 1 << 30),
                     R.in_range(-1, 1 << 31)],
        "role": [R.one_of(["system", "user", "assistant", "tool"]),
                 R.min_length(2), R.max_length(16), R.non_empty()],
        "tool": [R.optional(R.one_of(["search", "code", "browser", "none"]))],
        "ts": [R.required(), R.required()],
    }
    order = [("text", 3), ("turn_idx", 1), ("role", 1), ("tool", 1),
             ("conv_id", 2), ("ts", 1), ("text", 3), ("role", 3),
             ("conv_id", 2), ("turn_idx", 2), ("ts", 1)]
    out: dict = {}
    consumed = {c: 0 for c in leaves}
    count = 0
    for col, take in order:
        if count >= n_leaves:
            break
        pool = leaves[col]
        avail = pool[consumed[col]:consumed[col] + take]
        avail = avail[:n_leaves - count]
        if not avail:
            continue
        consumed[col] += len(avail)
        rule = avail[0]
        for r in avail[1:]:
            rule = rule & r
        out[col] = (out[col] & rule) if col in out else rule
        count += len(avail)
    assert count == n_leaves, (count, n_leaves)
    return out


def run_cell(n_leaves: int, mode: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from valar_spark import validate
    from valar_spark.session import get_spark

    extra = {}
    if mode == "wscg_off":
        extra["spark.sql.codegen.wholeStage"] = "false"
    if mode == "wscg_on":
        extra["spark.sql.codegen.hugeMethodLimit"] = "65535"
    spark = get_spark(app_name=f"wscg_{mode}_{n_leaves}",
                      master="local[16]", shuffle_partitions=16,
                      extra_conf=extra)
    # the huge-method fallback is logged at INFO by WholeStageCodegenExec —
    # raise just that logger so the driver can count fallback events from
    # stderr without drowning in task-level INFO noise
    jvm = spark._jvm
    jvm.org.apache.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.WholeStageCodegenExec"
    ).setLevel(jvm.org.apache.log4j.Level.INFO)
    stored = spark.read.parquet(f"/tmp/valar_bench/turns{TURNS}")
    ruleset = build_ruleset(n_leaves)
    times = []
    for i in range(REPEAT + 1):  # first is warmup
        t0 = time.perf_counter()
        n = validate(stored, ruleset).violations.count()
        dt = time.perf_counter() - t0
        if i:
            times.append(round(dt, 2))
    print(json.dumps({"cell": f"{mode}/{n_leaves}", "times": times,
                      "median": sorted(times)[len(times) // 2],
                      "violations": n}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "CELL":
        run_cell(int(sys.argv[2]), sys.argv[3])
        return
    results = []
    for n_leaves in (10, 20):
        for mode in ("wscg_on", "wscg_8000", "wscg_off"):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "CELL",
                 str(n_leaves), mode],
                capture_output=True, text=True, timeout=1800)
            line = [ln for ln in p.stdout.splitlines()
                    if ln.startswith("{")][-1]
            rec = json.loads(line)
            rec["fallback_events"] = len(FALLBACK_RE.findall(p.stderr))
            results.append(rec)
            print(json.dumps(rec), flush=True)
    print(json.dumps({"table": results}))


if __name__ == "__main__":
    main()
