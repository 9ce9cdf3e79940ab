"""Sweep every registered oracle for DuckDB output column types that
Spark can never emit (HUGEINT/UHUGEINT int128 from SUM(int) or integer
`//`, unsigned ints, DECIMAL).  The driver's value hash is
type-sensitive (CORRECTNESS_r01: events_type_pivot,
events_ab_test_analysis), so any such column is a latent hash mismatch
waiting for the driver to sample it.  DuckDB-only — no Spark session —
so the full 220-oracle sweep runs in seconds at sf0.001.

Usage: python scripts/oracle_type_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB types Spark has no equivalent for / would never produce.
BAD = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT", "DECIMAL")


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    oracles = entrymod.oracle_sql()
    flagged, errors = [], []
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql(sql)
            bad = [
                (c, str(ty))
                for c, ty in zip(rel.columns, rel.types)
                if any(str(ty).upper().startswith(b) for b in BAD)
            ]
        except Exception as exc:  # noqa: BLE001
            errors.append((name, str(exc)[:200]))
            continue
        if bad:
            flagged.append((name, bad))
            print(f"FLAG {name}: {bad}")
    for name, err in errors:
        print(f"ERR  {name}: {err}")
    print(f"== swept {len(oracles)} oracles: {len(flagged)} flagged, {len(errors)} errors")
    return 1 if flagged or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
