#!/usr/bin/env python3
"""Dev tool: compare per-query Spark bench times (bench_out.json) with
DuckDB running the SAME oracle SQL on the same parquet — writes PERF.md.

Usage: python3 tools/benchcmp.py <sfDir> <verifyOutDir> [benchJson] [--first-sweep SWEEP.json]

benchJson defaults to bench_out.json; pass an explicit sweep's saved
JSON to regenerate PERF.md from it (e.g. the best of several full
sweeps on a noisy shared host — PERF.md records which file was used).

--first-sweep: a SINGLE sweep's bench_out.json (typically sweep #1 of
the merge) whose oracle-checked total is published next to the merged
total — the driver grades ONE sweep, so this is the number the round
is actually judged on; publishing both catches a merged-vs-graded gap
like r11's 5x before the driver sees it (VERDICT r11 #7).
"""
import json
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    args = sys.argv[1:]
    first_sweep = None
    if "--first-sweep" in args:
        i = args.index("--first-sweep")
        if i + 1 >= len(args):
            sys.exit("--first-sweep requires a value")
        first_sweep = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir, out_dir = args[0], args[1]
    bench_json = args[2] if len(args) > 2 else "bench_out.json"
    bench_full = json.load(open(bench_json))
    bench = bench_full["queries"]
    # per-query min/med/max across the cold reps (Bench.scala "stats")
    stats = bench_full.get("stats", {})
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # DuckDB reps are INTERLEAVED round-robin across queries, the same
    # metrology Bench.scala adopted in r7 for the Spark side: consecutive
    # per-query reps all sit inside one wall-clock window, so a global
    # slowdown (shared-box CPU starvation) inflates every rep of the
    # unlucky queries at once and best-of-N cannot reject it — measured
    # as the 14.1–23.3 s denominator swing across sessions (VERDICT r8).
    # Interleaving takes each query's min over N independent windows.
    dreps = 5
    dtimes = {name: [] for name in sorted(bench) if name in oracles}
    for _ in range(dreps):
        for name in dtimes:
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            dtimes[name].append(time.time() - t0)
    rows = []
    for name in sorted(bench):
        if name not in oracles:
            rows.append((name, bench[name], None))
        else:
            rows.append((name, bench[name], min(dtimes[name])))
    # totals over the SAME query set (oracle-checked only) so the ratio
    # compares like with like; rows-only queries are listed but excluded.
    # A bench value < 0 is the all-reps-failed sentinel (Bench.scala) —
    # flagged in the table, excluded from totals.
    total_s = sum(r[1] for r in rows if r[2] is not None and r[1] >= 0)
    total_d = sum(r[2] for r in rows if r[2] is not None and r[1] >= 0)
    with open("PERF.md", "w") as f:
        f.write("# PERF — Spark (local[*], warmed) vs DuckDB on the same "
                f"oracle SQL, {sf_dir}\n\n")
        f.write("Spark seconds are full-materialization wall times from "
                "`bench_out.json`; DuckDB runs the oracle twin (min of "
                f"{dreps} reps, interleaved round-robin across queries). "
                "`—` = rows-only query (no SQL twin).\n\n")
        if bench_full.get("note"):
            f.write(f"Protocol note: {bench_full['note']}.\n\n")
        # the Ledger counters of each entry's fastest rep, when the file
        # carries them (older bench_merged_*.json files do not)
        counters = ["jobs", "stages", "tasks", "shuffle_rw_bytes"]
        has_counters = any("jobs" in st for st in stats.values())
        cols = ["query", "spark s", "rep spread", "duckdb s", "ratio"]
        if has_counters:
            f.write("jobs / stages / tasks / shuffle bytes (read + "
                    "written) are the Ledger counters of the fastest "
                    "rep (`bench_out.json` `stats`).\n\n")
            cols += ["jobs", "stages", "tasks", "shuffle bytes"]
        f.write("| " + " | ".join(cols) + " |\n" + "|---" * len(cols) + "|\n")

        def cost(name):
            if not has_counters:
                return ""
            st = stats.get(name, {})
            return "".join(f" {st[c]} |" if c in st else " — |"
                           for c in counters)

        def spread(name):
            st = stats.get(name)
            if not st or st["min"] <= 0:
                return "—"
            return f"+{(st['max'] - st['min']) / st['min'] * 100:.0f}%"

        for name, s, d in rows:
            if s < 0:
                row = f"| {name} | FAILED | — | — | — |"
            elif d is None:
                row = f"| {name} | {s:.2f} | {spread(name)} | — | — |"
            else:
                row = f"| {name} | {s:.2f} | {spread(name)} | {d:.3f} | {s/d:.1f}× |"
            f.write(row + cost(name) + "\n")
        # denominator variance, measured inside THIS run: per-query
        # (max-min)/min across the interleaved DuckDB reps, plus the
        # worst-window total (sum of per-query max) vs the min total
        dsp = sorted((max(ts) - min(ts)) / min(ts)
                     for ts in dtimes.values() if min(ts) > 0)
        dtot_max = sum(max(ts) for ts in dtimes.values())
        f.write(f"\n**Totals: Spark {total_s:.1f} s; DuckDB {total_d:.1f} s "
                "(oracle-checked queries only).**\n")
        if first_sweep:
            fs = json.load(open(first_sweep))
            # recompute from the query map with the CURRENT oracle
            # membership — the file's stored oracle_checked_s reflects
            # whatever the membership was when that sweep ran
            fs_oracle = sum(v for k, v in fs["queries"].items()
                            if v >= 0 and k in oracles)
            fs_stream = sum(v for k, v in fs["queries"].items()
                            if v >= 0 and k.startswith("q_stream_"))
            f.write(f"\n**Driver's-eye single sweep (`{first_sweep}`): "
                    f"oracle-checked {fs_oracle:.1f} s — "
                    f"{fs_oracle / total_d:.2f}× vs this DuckDB "
                    f"denominator (streaming block {fs_stream:.1f} s). "
                    "The round driver grades ONE sweep; the min-merge "
                    "above is the engine's demonstrated floor.**\n")
        if dsp:
            f.write(f"\nDuckDB denominator spread this run ({dreps} "
                    f"interleaved reps/query): median per-query "
                    f"{dsp[len(dsp) // 2] * 100:.0f}%, 90th pct "
                    f"{dsp[int(len(dsp) * 0.9)] * 100:.0f}%; "
                    f"worst-window total {dtot_max:.1f} s vs min-total "
                    f"{total_d:.1f} s "
                    f"({(dtot_max / total_d - 1) * 100:.0f}% swing).\n")
        n = len([r for r in rows if r[2] is not None])
        sp = sorted((st["max"] - st["min"]) / st["min"]
                    for st in stats.values() if st["min"] > 0)
        var_note = (f" Median spread this run: {sp[len(sp) // 2] * 100:.0f}%,"
                    f" 90th pct: {sp[int(len(sp) * 0.9)] * 100:.0f}%."
                    if sp else "")
        f.write(f"""
## Reading these numbers

- Spark carries a fixed ~0.2–0.4 s scheduling/driver floor per query;
  over {n} queries that's the bulk of the gap. The compute-bound queries
  (dedup joins, chunkers, regex chains, big scans) run within ~1–2.5× of
  DuckDB, and Spark wins where scan parallelism dominates
  (o09_projection). At cluster scale the floor amortizes to zero while
  the partitioned operators scale out — which is the design target; the
  reference itself is a single-process pandas pipeline that cannot hold
  100 TB at all.
- The GRAPHX FLOOR class (q_graphx_depth, q_dedup_cc): both queries run
  iterative GraphX machinery (Pregel supersteps / connected components)
  whose DuckDB twins are trivial SQL (a string split, a recursive CTE
  over a few hundred pairs), so the ratio reads 10-100x at bench SFs.
  The r16 `ScaleProbe graphx` split (since deleted) attributed it:
  Pregel on a TWO-VERTEX graph cost ~0.27 s (pure framework floor — RDD
  materialization, vertex/edge partitioning, per-superstep joins),
  against ~0.8 s for the full q_graphx_depth (10 supersteps) and
  ~0.6 s for q_dedup_cc — the queries sit on the per-superstep fixed
  cost, not on data work. That machinery is exactly what scales the
  operator across a cluster (the 117M-edge PageRank rehearsal in
  SCALE.md runs the same shape at 5x wall for 10x data); these two
  entries are documented floor, not plan defects. Their per-superstep
  jobs, stages and tasks are in each entry's `stats` cost vector
  (`SPARK_GRAFT_ONLY=q_graphx_depth,q_dedup_cc runMain graft.Bench`).
- The I/O-ROUNDTRIP class (q_orc_roundtrip, o03_csv_roundtrip,
  q_json_roundtrip, o02_wholefile_roundtrip, o07_jdbc_roundtrip): each
  rep WRITES a sink (ORC/CSV/JSON/text/Derby — committer protocol,
  file handles, a second JVM for Derby) and reads it back, while the
  DuckDB twin only aggregates the parquet originals to prove the round
  trip lossless — the sink write has no denominator, so the ratio
  reads as pure Spark sink cost (q_orc_roundtrip ~22x on a ~0.02 s
  twin). At cluster scale the committer cost amortizes across
  executors per file; the entries exist to hash-check sink
  correctness, not to race an aggregate.
- Exact aggregation (order-independent cross-engine hashes) runs as
  scaled-BIGINT sums (`ExactAgg`) in primitive whole-stage codegen —
  the earlier DECIMAL form cost ~2-3× on the aggregate-heavy queries
  (o34 1.8s -> 0.36s, q_act_features 0.8s -> 0.7s at sf0.1).
- Run-to-run variance is now MEASURED, not asserted: "rep spread" is
  (max−min)/min across the cold reps of this run (per-query min/med/max
  live in `bench_out.json` `stats`).{var_note} Compare ratios across
  rounds only in aggregate, not per query.
- The r6 driver-vs-builder per-query divergence (o41_f1_eval 0.14 s one
  run, 1.57 s min-of-5 in another; o43_join_1n 2×) is a JVM-window
  effect, not a plan change: the same binary at the same SF measured
  0.30 s for q_range_join isolated vs 25.7 s inside one pathological
  full-sweep window (sf0.01, single-rep sweep) — a 85× swing on an
  untouched query. Because reps used to run CONSECUTIVELY, all of a
  query's reps shared that window and min-of-reps couldn't reject it.
  Two mitigations now ship in `Bench.scala`: reps are INTERLEAVED
  round-robin across queries (each query's min is over N independent
  windows), and every rep records its JVM GC time (`gc_ms` in `stats`)
  so a spike can be attributed to collector pressure directly from
  `bench_out.json`. Cross-round per-query deltas under ~2× with high
  rep spread should be read as window noise.
- In-sweep contamination (streaming twins): hygiene fixes from r7/r8
  still ship (sweep-sized codegen cache, `StateStore.unloadAll` per
  twin, memory-sink detach), and r8 attribution located the in-sweep
  penalty inside `awaitTermination` (per-micro-batch re-planning) with
  start/drain flat. r12 re-ran the mandated full-sweep A/B after the
  r11 driver run measured the 7 twins at 80.0 s (vs 9.7 s same-binary
  merged): THREE full 132-entry sweeps on this box measured the
  streaming block at 9.0/9.7/12.4 s with per-twin `run` phases of
  0.9-3.1 s (now always recorded in bench_out.json `stream_phases`) —
  the r11 number does not reproduce and was external load on the
  driver box, which min-of-2 could not reject. The defense is now
  structural (Bench.scala r12): twins run FIRST each pass, earn
  phase-2 reps when their samples disagree >2×, and a rescue pass
  re-samples any entry left with one rep or a >3× split — a single
  blown-up window can no longer be the graded number.
- The DuckDB DENOMINATOR was the noisiest part of this comparison:
  single-session best-of-3 measured totals of 14.1-23.3 s across
  sessions for identical SQL (a global slowdown window inflates all 3
  consecutive reps at once). Since r9 the reps are interleaved
  round-robin across queries — the same fix the Spark side got in r7 —
  and the per-run spread is RECORDED above, so a ratio shift can be
  attributed to the denominator without rerunning anything.
- Generated by `tools/benchcmp.py <sfDir> <verifyOutDir> [benchJson]`
  from `{bench_json}` + the oracle SQL.
""")
    print(f"PERF.md written: spark {total_s:.1f}s duckdb {total_d:.1f}s")


if __name__ == "__main__":
    main()
