#!/usr/bin/env python3
"""Same-day DuckDB yardstick: time every oracle SQL from a Verify dump
against the same parquet tables, for pairing with a Spark bench run on
the same box in the same throughput window. Dev tooling only.

Usage: python3 tools/yardstick.py [sfdir] [oracle_sql.json] [threads] [bench_out.json]
Prints one JSON line:
  {"total": sec, "total_ex_swing": sec, "families": {...},
   "queries": {name: sec}, "paired": {...}?}

total_ex_swing excludes the iterative-graph family (recursive-CTE
oracles — DuckDB's window-to-window swing is dominated by them: r12
saw +11.9 s of a +13.6 s total swing) and the streaming queries
(micro-batch harness vs millisecond batch SQL — apples-to-oranges,
documented in SCALE.md). The HEADLINE vs BASELINE stays ratio_total;
read ratio_ex_swing for window-to-window stability only (at small SF
it is dominated by Spark's fixed per-query job setup, not
throughput), and the per-family paired map for where time goes.

If a Spark bench record is given (or bench_out.json exists in the
working directory, where graft.Bench writes it), a "paired" block reports
same-window Spark/DuckDB ratios over the SHARED query set for both
totals — only same-window pairs are comparable (±40% box swing).
"""
import json, os, sys, time

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ORACLES = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
THREADS = int(sys.argv[3]) if len(sys.argv) > 3 else 32
BENCH = sys.argv[4] if len(sys.argv) > 4 else "bench_out.json"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The iterative-graph family: every recursive-CTE oracle (the DuckDB
# swing drivers). Kept in sync with SparkEntry's registry by name.
GRAPH = {"q_graph_pagerank", "q_graph_pagerank_conv", "q_graph_triangles",
         "q_llm_dedup_cc", "q_llm_keeper"}


def family(name):
    if name in GRAPH:
        return "graph"
    if name.startswith("s_"):
        return "streaming"
    for pfx, fam in (("q_llm_", "llm"), ("q_fn_", "scalar"),
                     ("q_agg_", "agg"), ("q_join_", "join"),
                     ("q_win_", "window"), ("q_ts_", "timeseries"),
                     ("q_scan_", "scan"), ("q_set_", "setop")):
        if name.startswith(pfx):
            return fam
    return "other"


def main():
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF}/{t}.parquet')")
    with open(ORACLES) as f:
        sqls = json.load(f)
    times = {}
    # warm-up pass (parquet metadata/OS page cache), then min-of-2 timed
    # passes — mirrors graft.Bench's measurement hygiene.
    for name in sorted(sqls):
        con.execute(sqls[name]).fetchall()
    for _ in range(2):
        for name in sorted(sqls):
            t0 = time.monotonic()
            con.execute(sqls[name]).fetchall()
            dt = time.monotonic() - t0
            times[name] = min(times.get(name, float("inf")), dt)

    swing = lambda n: family(n) in ("graph", "streaming")
    families = {}
    for n, dt in times.items():
        families[family(n)] = families.get(family(n), 0.0) + dt
    out = {"total": sum(times.values()),
           "total_ex_swing": sum(dt for n, dt in times.items()
                                 if not swing(n)),
           "threads": THREADS, "sf": SF,
           "families": {k: round(v, 3) for k, v in sorted(families.items())},
           "queries": times}

    if os.path.exists(BENCH):
        try:
            with open(BENCH) as f:
                bench = json.load(f).get("queries", {})
            shared = sorted(set(bench) & set(times))
            sp_all = sum(bench[n] for n in shared)
            du_all = sum(times[n] for n in shared)
            core = [n for n in shared if not swing(n)]
            sp_core = sum(bench[n] for n in core)
            du_core = sum(times[n] for n in core)
            fam_pairs = {}
            for n in shared:
                f = family(n)
                sp, du = fam_pairs.get(f, (0.0, 0.0))
                fam_pairs[f] = (sp + bench[n], du + times[n])
            out["paired"] = {
                "bench_file": BENCH, "n_shared": len(shared),
                "spark_total": round(sp_all, 2),
                "duck_total": round(du_all, 2),
                "ratio_total": round(sp_all / du_all, 3) if du_all else None,
                "spark_ex_swing": round(sp_core, 2),
                "duck_ex_swing": round(du_core, 2),
                "ratio_ex_swing":
                    round(sp_core / du_core, 3) if du_core else None,
                "families": {f: {"spark": round(sp, 2), "duck": round(du, 2),
                                 "ratio": round(sp / du, 2) if du else None}
                             for f, (sp, du) in sorted(fam_pairs.items())},
                "note": ("same-window pairs only. ratio_total is the "
                         "headline vs BASELINE. ratio_ex_swing removes "
                         "DuckDB's high-variance graph CTEs AND Spark's "
                         "graph wins; at small SF what remains is "
                         "dominated by Spark's fixed per-query job setup "
                         "(~0.3-0.5 s x ~110 queries), not throughput — "
                         "read it for WINDOW STABILITY, the family map "
                         "for where time actually goes."),
            }
        except Exception as e:  # pairing is best-effort reporting
            out["paired"] = {"error": str(e)[:200]}

    print(json.dumps(out))


main()
