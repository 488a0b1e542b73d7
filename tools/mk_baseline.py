#!/usr/bin/env python3
"""Render BASELINE.md from graft.Bench / bench_duckdb.py JSON outputs.

Usage: mk_baseline.py sf1=<spark.json>,<duck.json> [sf10=...] > BASELINE.md
Local tooling; keeps the baseline document mechanically in sync with
the measured numbers.
"""
import json
import sys

ENGINE_GATES = ("c_",)
TEST_GATES = ("t_",)
# r9 companion recall gates: the Spark side recomputes exact ground
# truth to grade an approximate operator; the oracle merely asserts
# the verdict (a count + TRUE). Like c_ gates, their ratio measures
# nothing — kept in their own category.
RECALL_GATES = ("s3b_ivf_recall_gate", "s4b_knn_recall_gate")

HEADER = """# BASELINE — reference (DuckDB) vs graft (Spark) on identical data

The reference adapter (AlexanderVR/dbt-parquet) delegates every query
to an in-process DuckDB over parquet files, so its best-case
single-node throughput is a **warm DuckDB replay of the oracle SQLs**
(`tools/bench_duckdb.py`; the reference's real runs additionally pay
dbt's python/Jinja orchestration per model, ~0.1-0.3 s each). The
Spark side is `graft.Bench`: same machine, `local[32]`,
`spark.sql.shuffle.partitions=32`, AQE on, warm.

Both sides report the **median of 3 measured passes per query** after
an untimed warm-up pass (round 2 proved single-pass numbers swing
2-15x on unchanged code). Data is the driver's sf0.1 tables scaled by
key-shifted replication (`tools/gen_scale.py` — distributions,
FK structure, and parquet schemas preserved exactly): sf1 = 6M
lineitem rows / 151 MB, sf10 = 60M / 1.5 GB, sf100 = 600M / 17 GB
(written replica-streamed so generation is O(replica) resident).

## Category summaries

Query categories:
- **read queries** (q*, d*, s*, m1): pure reads — apples-to-apples.
- **t_ data tests**: reads expressed via the DataTests API.
- **c_ engine gates**: lifecycle/CTAS/compaction/roundtrip gates whose
  Spark side performs real writes and catalog operations; the DuckDB
  oracle replay only re-reads the equivalent result, so these ratios
  overstate DuckDB (kept for completeness, not comparability).

Round-12 protocol notes:
- Timing action is the FULL physical plan (`df.queryExecution.toRdd
  .count()`, since r10): Catalyst cannot prune aggregate inputs or
  windows out of the timed work, matching what DuckDB executes for
  the same SQL. r1-r9 rows used `count()` and are not comparable.
- The sandbox VM is a shared-host guest whose effective core count
  swings (tools/canary.py measured 5-28 of 32 within an hour).
  Spark and DuckDB legs run back-to-back per SF
  (tools/run_baseline_r12.sh) and each leg's canary reading is
  logged, so the RATIO columns stay meaningful under host
  throttling; absolute seconds are only comparable across rounds
  when the canary trail says quiet.
- Four driver gates (d2, d4, d5b, d11) verify approximate
  operators by recomputing the exact answer QUADRATICALLY in the
  oracle; they are correctness-gate-only (sf0.01) and excluded from
  the DuckDB timing replay at protocol SFs (they appear as Spark-only
  keys). s2's oracle is s1's brute-force SQL — an honest equivalent,
  since a SQL engine's only exact top-k is brute force.

Round-13 leg provenance:
- The sf100 / sf100c / sf10 leg pairs are the r12 protocol run's own
  output (archived under bench_legs/r12/ with its canary trail): that
  run completed those legs on r12-final code but was cut off before
  it reached sf1/sf0.1. r13 measured the two missing legs with the
  identical method
  (tools/run_baseline_r13.sh, bench_legs/r13).
- Keys changed in r13: q62 + q25 (scaled-long aggregates), q9 + q3
  (post-limit date formatting), q27 (Expand-free split aggregates),
  t1 + t2 + t11 (native word-set scans), and four c_ gate
  verification sums. Their sf100/sf10 cells (and t-keys' sf1
  cells) are pre-change; sf0.1 legs ran after the first change
  batch.
- q61_stream_join is PERMANENTLY annotated structurally
  non-comparable: the oracle is a batch join replay while the Spark
  side runs a real stateful stream-stream join (r10 RocksDB, r12
  state-partition A/Bs both directions, and a batch-DataFrame
  equivalent all measured no better; q67's 0.74x pins the ingest
  shape). The ratio measures the oracle's shortcut, not a plan
  defect.
"""


def load(p):
    return json.load(open(p))


def classify(name):
    if name.startswith(ENGINE_GATES):
        return "engine"
    if name.startswith(TEST_GATES):
        return "test"
    if name in RECALL_GATES:
        return "recall"
    return "read"


def section(sf, spark, duck):
    # a failed query reports null on its side — keep it out of every
    # sum (it would crash or silently shrink the total) and call it out
    nulled = sorted(q for q in set(spark["queries"]) | set(duck["queries"])
                    if spark["queries"].get(q) is None
                    or (q in duck["queries"] and duck["queries"][q] is None))
    common = sorted((set(spark["queries"]) & set(duck["queries"]))
                    - set(nulled))
    rows = []
    sums = {}
    for cat in ("read", "test", "engine", "recall"):
        qs = [q for q in common if classify(q) == cat]
        sp = sum(spark["queries"][q] for q in qs)
        du = sum(duck["queries"][q] for q in qs)
        sums[cat] = (len(qs), sp, du)
    out = [f"\n## {sf}: summary\n"]
    out.append("| category | queries | Spark s | DuckDB s | ratio |")
    out.append("|---|---|---|---|---|")
    total_sp = total_du = 0.0
    for cat, label in (("read", "read queries"), ("test", "t_ data tests"),
                       ("engine", "c_ engine gates (Spark writes, DuckDB reads)"),
                       ("recall", "recall gates (Spark grades itself, oracle asserts)")):
        n, sp, du = sums[cat]
        if n == 0:  # category excluded at this sf (e.g. c_ at sf100)
            continue
        total_sp += sp
        total_du += du
        out.append(f"| {label} | {n} | {sp:.2f} | {du:.2f} | "
                   f"{sp / du:.2f}x |")
    out.append(f"| **all oracled** | {len(common)} | {total_sp:.2f} | "
               f"{total_du:.2f} | {total_sp / total_du:.2f}x |")
    nsp = [q for q in spark["queries"]
           if q not in duck["queries"] and spark["queries"][q] is not None
           and q not in nulled]
    out.append(
        f"\nSpark additionally runs {len(nsp)} no-oracle queries "
        f"({', '.join(sorted(nsp))}) totalling "
        f"{sum(spark['queries'][q] for q in nsp):.2f} s, with no DuckDB "
        f"equivalent to compare against.\n")
    if nulled:
        out.append(f"FAILED at this SF (excluded from every sum): "
                   f"{', '.join(nulled)}.\n")
    out.append(f"Spark bench spread (max over queries of (max-min)/median): "
               f"{spark.get('spread', 0):.2f}; DuckDB replay spread: "
               f"{duck.get('spread', 0):.2f}. Failed queries: "
               f"{spark.get('failed', [])}.\n")
    out.append(f"\n## {sf}: per-query medians (seconds)\n")
    out.append("| query | Spark | DuckDB | ratio | category |")
    out.append("|---|---|---|---|---|")
    for q in common:
        sp, du = spark["queries"][q], duck["queries"][q]
        out.append(f"| {q} | {sp:.3f} | {du:.3f} "
                   f"| {sp / max(du, 1e-9):.2f}x | {classify(q)} |")
    return "\n".join(out)


def main(args):
    print(HEADER)
    for arg in args:
        sf, paths = arg.split("=")
        spark_p, duck_p = paths.split(",")
        print(section(sf, load(spark_p), load(duck_p)))


if __name__ == "__main__":
    main(sys.argv[1:])
