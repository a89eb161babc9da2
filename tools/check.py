#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate:
run graft.Verify (Spark) on an sf dir, then run each oracle SQL in
DuckDB over the same parquet tables and compare column names, dtypes
and values exactly. Dev tooling only — the engine itself is pure Scala.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import json, math, shutil, subprocess, sys, os, tempfile

# the checkout this script lives in: its classes run, whatever the cwd
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# absolute, because Verify runs in ROOT and DuckDB in the caller's cwd
SF, OUT = os.path.abspath(SF), os.path.abspath(OUT)
FLAGS = set(a for a in sys.argv[3:] if a.startswith("--"))
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]

def run_verify():
    cp = "target/scala-2.13/classes:/opt/spark/jars/*"
    # query names restrict the Spark dump too (targeted re-verification)
    cmd = (["java", "-cp", cp] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx8g", "graft.Verify", SF, OUT] + ONLY)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    r = subprocess.run(cmd, cwd=ROOT, env=env,
                       capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print(r.stderr[-4000:])
        sys.exit(1)

def canon(v):
    """Normalize a cell for comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(canon(x) for x in v)
    return v

def oracle_sqls(name):
    """The oracle SQL(s) to check `name` against, per mode.

    --scale-oracle: large-SF variants (class-contracted graph trio) —
      the sf3 gate, where the primary recursive-CTE oracles run
      25-90+ min each in DuckDB.
    --dual-oracle: BOTH the primary and (when it differs) the scale
      variant, against the SAME engine dump — the automated small-SF
      equivalence run that validates every scale variant as a
      restatement of its primary (advice r11: this used to be a
      manual session step, so the identity could silently drift).
    """
    with open(f"{OUT}/oracle_sql.json") as f:
        primary = json.load(f)
    if "--scale-oracle" in FLAGS or "--dual-oracle" in FLAGS:
        with open(f"{OUT}/oracle_sql_scale.json") as f:
            scale = json.load(f)
        if "--scale-oracle" in FLAGS:
            if name not in scale:
                return []
            lbl = "scale" if scale[name] != primary.get(name) else "primary"
            return [(lbl, scale[name])]
        out = [("primary", primary[name])] if name in primary else []
        if name in scale and scale[name] != primary.get(name):
            out.append(("scale", scale[name]))
        return out
    return [("primary", primary[name])] if name in primary else []

def compare(name, con):
    import duckdb  # noqa
    spark_df = con.execute(
        f"SELECT * FROM parquet_scan('{OUT}/{name}/*.parquet')").df()
    variants = oracle_sqls(name)
    if not variants:
        print(f"  {name}: NO ORACLE (rows={len(spark_df)})")
        return True
    return all(compare_one(name, con, spark_df, label, sql)
               for label, sql in variants)

def compare_one(name, con, spark_df, label, sql):
    tag = f"{name}" if label == "primary" else f"{name} [{label}]"
    try:
        oracle_df = con.execute(sql).df()
    except Exception as e:
        print(f"  {tag}: ORACLE SQL ERROR: {str(e)[:300]}")
        return False
    sc = sorted(spark_df.columns)
    oc = sorted(oracle_df.columns)
    if sc != oc:
        print(f"  {tag}: COLUMN MISMATCH spark={sc} oracle={oc}")
        return False
    spark_df = spark_df[sc]
    oracle_df = oracle_df[sc]
    if len(spark_df) != len(oracle_df):
        print(f"  {tag}: ROWCOUNT spark={len(spark_df)} oracle={len(oracle_df)}")
        return False
    dt_s, dt_o = list(spark_df.dtypes), list(oracle_df.dtypes)
    if dt_s != dt_o:
        print(f"  {tag}: DTYPES differ spark={dt_s} oracle={dt_o} (warn)")
    sv = spark_df.values.tolist()
    ov = oracle_df.values.tolist()
    for i, (a, b) in enumerate(zip(sv, ov)):
        ca, cb = [canon(x) for x in a], [canon(x) for x in b]
        if ca != cb:
            print(f"  {tag}: ROW {i} differs\n    spark : {ca}\n    oracle: {cb}")
            return False
    print(f"  {tag}: OK ({len(spark_df)} rows)")
    return True

def duckdb_memory_limit():
    """Half the machine's RAM (at least 1 GiB), as a DuckDB size string.
    DuckDB's default of 80% of RAM leaves the machine little headroom;
    below RAM, with a spill directory, the operators that can spill page
    to disk instead."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4GB"
    return f"{max(1, kib // 2 // 1024 // 1024)}GB"

def main():
    if "--skip-verify" not in FLAGS:
        run_verify()
    import duckdb
    con = duckdb.connect()
    spill = tempfile.mkdtemp(prefix="graft-duckdb-spill-", dir="/tmp")
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET memory_limit = '{duckdb_memory_limit()}'")
    try:
        check(con)
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)

def check(con):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF}/{t}.parquet')")
    names = ONLY or sorted(
        d for d in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, d)))
    fails = [n for n in names if not compare(n, con)]
    # Queries that errored inside Verify have no dump dir — iterate the
    # error channel too so breakage can't hide as missing coverage.
    errpath = os.path.join(OUT, "errors.json")
    if os.path.exists(errpath) and not ONLY:
        with open(errpath) as f:
            errs = json.load(f)
        for n, msg in sorted(errs.items()):
            print(f"  {n}: VERIFY ERROR: {msg[:300]}")
            fails.append(n)
            names.append(n)
    print(f"\n{len(names)-len(fails)}/{len(names)} queries match")
    sys.exit(1 if fails else 0)

main()
