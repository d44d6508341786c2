#!/usr/bin/env python3
"""Local self-check harness (dev-only; the engine itself is pure Scala/Spark).

Mimics the driver's correctness gate: run `graft.Verify` first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script replays
oracle_sql.json in DuckDB over the same parquet tables and diffs each
result against the Spark parquet dump (columns sorted by name, rows sorted
by all columns, exact value compare with a tiny float report).

Queries replay in a process pool, one worker per CPU, each worker with its
own DuckDB connection; the OK/FAIL lines print in sorted name order. Each
line ends with the query's DuckDB replay seconds (reading the Spark dump
plus running the oracle SQL) and compare seconds; the run ends with the 10
slowest queries by their sum.

Usage: python3 tools/check_oracle.py <sfDir> <outDir> [query ...]
"""
import functools, json, math, multiprocessing, sys, os, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort", na_position="first").reset_index(drop=True)
    return df

def cmp_frames(name, spark_df, oracle_df, rec=None):
    """Exact compare; returns (ok, the OK/FAIL line). When `rec` (a dict)
    is given, fill the per-query record shape of CORRECTNESS_r*.json
    (rows/schema/hash match + row counts)."""
    if rec is None:
        rec = {}
    a, b = canon(spark_df), canon(oracle_df)
    rec.update({"rows_match": len(a) == len(b),
                "schema_match": list(a.columns) == list(b.columns),
                "hash_match": False,
                "spark_rows": len(a), "oracle_rows": len(b), "err": None})
    if list(a.columns) != list(b.columns):
        return False, f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"FAIL {name}: rows {len(a)} vs {len(b)}"
    ok, line = True, f"OK   {name}: {len(a)} rows x {len(a.columns)} cols"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            same = (x == y) or (x is None and y is None) \
                or (isinstance(x, float) and isinstance(y, float)
                    and (math.isnan(x) and math.isnan(y) or x == y))
            # pandas NaT/None normalization
            if not same and str(x) == str(y):
                same = True
            if not same:
                delta = ""
                if isinstance(x, float) and isinstance(y, float):
                    delta = f" (delta={x - y:.3e})"
                line = f"FAIL {name}: col {c} row {i}: spark={x!r} oracle={y!r}{delta}"
                ok = False
                break
    rec["hash_match"] = ok
    return ok, line

EMPTY = {"rows_match": False, "schema_match": False, "hash_match": False,
         "spark_rows": None, "oracle_rows": None}

_con = None

def connect(sf_dir):
    """Pool initializer: one DuckDB connection per worker process."""
    global _con
    _con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            _con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def check(out_dir, item):
    """Replay one oracle and compare it with the Spark dump; returns
    (ok, the printed line, the report record, the timing row or None)."""
    name, sql = item
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        return (False, f"FAIL {name}: no spark output at {spark_path}",
                dict(EMPTY, err=f"no spark output at {spark_path}"), None)
    t0 = time.perf_counter()
    try:
        spark_df = _con.sql(f"SELECT * FROM '{spark_path}/*.parquet'").df()
        oracle_df = _con.sql(sql).df()
    except Exception as e:
        return (False, f"FAIL {name}: {e} [replay {time.perf_counter() - t0:.2f}s]",
                dict(EMPTY, err=str(e)[:500]), None)
    t1 = time.perf_counter()
    rec = {}
    ok, line = cmp_frames(name, spark_df, oracle_df, rec)
    replay_s, compare_s = t1 - t0, time.perf_counter() - t1
    return (ok, f"{line} [replay {replay_s:.2f}s compare {compare_s:.2f}s]", rec,
            (replay_s + compare_s, name, replay_s, compare_s))

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    todo = [(name, sql) for name, sql in sorted(oracles.items())
            if not only or name in only]
    n_ok = n_fail = 0
    report = {}
    timings = []  # (replay_s + compare_s, name, replay_s, compare_s)
    # queries are independent: one worker per CPU, each with its own DuckDB
    # connection; imap hands results back in submission (sorted name) order
    workers = max(1, min(os.cpu_count() or 1, len(todo)))
    with multiprocessing.Pool(workers, initializer=connect, initargs=(sf_dir,)) as pool:
        results = pool.imap(functools.partial(check, out_dir), todo)
        for (name, _), (ok, line, rec, timing) in zip(todo, results):
            print(line, flush=True)
            report[name] = rec
            if timing:
                timings.append(timing)
            if ok:
                n_ok += 1
            else:
                n_fail += 1
    print("slowest queries (replay + compare):")
    for total, name, replay_s, compare_s in sorted(timings, reverse=True)[:10]:
        print(f"  {total:8.2f}s  {name}  (replay {replay_s:.2f}s, compare {compare_s:.2f}s)")
    print(f"== {n_ok} ok, {n_fail} fail ==")
    # builder-side correctness record (same per-query shape as the
    # driver's CORRECTNESS_r{N}.json) — set CHECK_JSON=<path> to write it
    out_json = os.environ.get("CHECK_JSON")
    if out_json:
        with open(out_json, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"report -> {out_json}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
