#!/usr/bin/env python3
"""Pre-submit oracle type guard.

The driver's correctness gate hashes the DuckDB oracle result. DuckDB
silently promotes some integer expressions (e.g. `//` over an uncast
window `sum()`, which is BIGINT -> HUGEINT) to types that do not
round-trip through the driver's pandas hashing, producing hash-fail
rows even when every value matches Spark bit-for-bit (round 6:
a25_compaction_plan.bin_id, d52_freq_of_freqs.cum_mass_bp).

This guard runs every oracle SQL through DuckDB's DESCRIBE on the
testdata views and fails on any output column whose declared type is
in the banned set. Run it after `graft.Verify` has dumped
oracle_sql.json, BEFORE calling a round done:

  python3 tools/oracle_typeof_guard.py <verify_out_dir>/oracle_sql.json [sf_dir]

Exit 0 = all oracle output columns are driver-safe types.
Exit 1 = at least one banned type (printed per query/column).

Driver-side python env only (duckdb); never on the Spark classpath.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

# Types that DuckDB can emit but the driver's pandas/hash pipeline (and
# Spark's type system) cannot represent as the matching Spark type.
# DECIMAL(p,s) (matched by its prefix) hashes as a different Python type
# on each side; oracled results are DOUBLE by the suite's rule.
BANNED = {"HUGEINT", "UHUGEINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
          "DECIMAL"}


def main():
    sql_path = Path(sys.argv[1])
    sf_dir = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("/root/testdata/sf0.001")

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracle_sql = json.loads(sql_path.read_text())
    bad = []
    for name in sorted(oracle_sql):
        try:
            desc = con.execute(f"DESCRIBE ({oracle_sql[name]})").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append((name, "<exec>", str(e)))
            print(f"FAIL {name}: describe error: {e}")
            continue
        hits = [(c, ty) for c, ty, *_ in desc
                if ty.split("(")[0].upper() in BANNED]
        for c, ty in hits:
            bad.append((name, c, ty))
            print(f"FAIL {name}: column '{c}' has banned oracle type {ty}")
        if not hits:
            print(f"ok   {name}")

    print(f"\n{len(oracle_sql) - len({n for n, _, _ in bad})}/{len(oracle_sql)} type-safe")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
