#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage:
  python3 tools/oracle_check.py [--json <summary_path>] <verify_out_dir> [sf_dir] [name ...]

--json writes a machine-readable summary ({"sf_dir", "total", "passed",
"queries": {name: "pass" | "<failure reason>"}, "seconds": {name:
{"oracle", "read", "compare"}}}) — the closing
discipline writes it to bench_results/correctness_rN_closing.json so a
round's hard correctness signal survives even if the driver-side
artifact ships empty (the r8 lesson: CORRECTNESS_r08.json was {}).

1. graft.Verify has already dumped each SparkEntry query to
   <verify_out_dir>/<name>/ (parquet) plus oracle_sql.json.
2. For each oracled name, run the SQL in DuckDB over the raw testdata
   parquet, sort columns by name (the driver's rule), sort rows, and
   compare against the Spark parquet cell-by-cell (exact for
   non-floats, 1e-9 relative for floats).
3. Each query's seconds are split into DuckDB oracle execution, Spark
   dump read and compare; the ten slowest are printed at the end.

Driver-side python env has duckdb+pandas+pyarrow; this never runs on
the Spark classpath.
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.map(lambda v: str(v)))


def cells_equal(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12)
    except (TypeError, ValueError):
        pass
    if str(a) == str(b):
        return True
    # pandas NaN vs None
    try:
        if a != a and b != b:  # noqa: PLR0124 — NaN check
            return True
    except Exception:
        pass
    return False


def compare(spark_df, ora_df):
    """None when the frames match, else (summary reason, printed detail)."""
    s, o = norm(spark_df), norm(ora_df)
    if list(s.columns) != list(o.columns):
        reason = f"schema {list(s.columns)} vs {list(o.columns)}"
        return reason, reason
    if len(s) != len(o):
        reason = f"rows {len(s)} vs {len(o)}"
        return reason, reason
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not cells_equal(a, b):
                return f"value {(col, i, a, b)}", f"col={col} row={i} spark={a!r} oracle={b!r}"
    return None


def timed(seconds, phase, fn):
    """fn(), its wall seconds added to seconds[phase]."""
    t0 = time.perf_counter()
    try:
        return fn()
    finally:
        seconds[phase] += time.perf_counter() - t0


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if argv and argv[0] == "--json":
        json_out = Path(argv[1])
        argv = argv[2:]
    out_dir = Path(argv[0])
    sf_dir = Path(argv[1]) if len(argv) > 1 else Path("/root/testdata/sf0.01")
    only = set(argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracle_sql = json.loads((out_dir / "oracle_sql.json").read_text())
    names = sorted(n for n in oracle_sql if not only or n in only)
    failures = []
    seconds = {}
    for name in names:
        spark_dir = out_dir / name
        if not spark_dir.exists():
            failures.append((name, "missing spark dump"))
            print(f"FAIL {name}: spark dump missing")
            continue
        t = seconds[name] = {"oracle": 0.0, "read": 0.0, "compare": 0.0}
        try:
            spark_df = timed(t, "read", lambda: con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df())
            ora_df = timed(t, "oracle", lambda: con.execute(oracle_sql[name]).df())
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"exec error: {e}"))
            print(f"FAIL {name}: {e}")
            continue
        bad = timed(t, "compare", lambda: compare(spark_df, ora_df))
        if bad:
            failures.append((name, bad[0]))
            print(f"FAIL {name}: {bad[1]}")
        else:
            print(f"ok   {name} ({len(spark_df)} rows)")

    print("\nslowest queries, seconds (total: oracle / read / compare):")
    for n, t in sorted(seconds.items(), key=lambda kv: -sum(kv[1].values()))[:10]:
        print(f"  {sum(t.values()):8.2f}: {t['oracle']:.2f} / {t['read']:.2f} / "
              f"{t['compare']:.2f}  {n}")
    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    if json_out is not None:
        failed = dict(failures)
        summary = {
            "sf_dir": str(sf_dir),
            "total": len(names),
            "passed": len(names) - len(failures),
            "queries": {n: failed.get(n, "pass") for n in names},
            "seconds": {n: {k: round(v, 3) for k, v in t.items()}
                        for n, t in seconds.items()},
        }
        json_out.parent.mkdir(parents=True, exist_ok=True)
        json_out.write_text(json.dumps(summary, indent=1, sort_keys=True) + "\n")
        print(f"summary -> {json_out}")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
