"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and values two ways:

- tolerant (round(9), -0.0 == 0.0): triage aid — tells wrong answers
  apart from representation noise;
- byte-exact (floats compared on their IEEE-754 bits, columns sorted
  by name, rows sorted): mirrors the driver's value-hash check, so a
  `hash_match` here predicts a green CORRECTNESS row.

Usage:
    python scripts/check_oracles.py [sf_dir] [only_query ...]
    python scripts/check_oracles.py sf_dir --out ORACLE_SWEEP.json

With --out, writes a CORRECTNESS_r*.json-shaped artifact: per-query
{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}
(hash_match None for rows-only queries with no oracle).
"""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import struct
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from pregel_spark.session import get_spark

DUCKDB_MAX_TEMP = "8GB"


def canon(rows, cols):
    """Tolerant canonical form: spots real value regressions while
    forgiving sub-1e-9 representation noise."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if not isinstance(row, tuple) else row[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    # queries round SQL-side; round(9) here only
                    # normalizes -0.0/ulp noise without masking
                    # sub-1e-6 regressions the driver would catch
                    v = round(v, 9)
                    v = 0.0 if v == 0 else v
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


def canon_exact(rows, cols):
    """Byte-exact canonical form, driver-style: columns sorted by
    NAME, floats rendered as their big-endian IEEE-754 bit pattern
    (so +0.0 != -0.0 and every ulp counts), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[cols[i]] if not isinstance(row, tuple) else row[i]
            if isinstance(v, float):
                v = struct.pack(">d", v).hex()
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    rest = sys.argv[2:]
    out_path = None
    if "--out" in rest:
        i = rest.index("--out")
        out_path = rest[i + 1]
        rest = rest[:i] + rest[i + 2 :]
    only = set(rest)
    spark = get_spark("oracle-check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # bound each oracle's spill: past its (default) memory limit DuckDB
    # spills to a temp dir under the system temp dir, itself capped, so
    # a runaway oracle raises (a [FAIL-duck] row) instead of filling the
    # disk
    duck_tmp = tempfile.mkdtemp(prefix="check_oracles_duckdb_")
    atexit.register(shutil.rmtree, duck_tmp, True)
    con.execute(f"SET temp_directory = '{duck_tmp}'")
    con.execute(f"SET max_temp_directory_size = '{DUCKDB_MAX_TEMP}'")
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}

    def record(name, **kw):
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        row.update(kw)
        report[name] = row

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [{c: r[c] for c in scols} for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK RAISED {type(e).__name__}: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            record(name, err=f"spark: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            record(name, spark_rows=len(srows), err="no_oracle")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB RAISED: {e}"))
            print(f"[FAIL-duck] {name}: {e}")
            record(name, spark_rows=len(srows), err=f"duckdb: {e}")
            continue
        schema_match = scols == ocols
        rows_match = len(srows) == len(orows)
        record(
            name,
            spark_rows=len(srows),
            oracle_rows=len(orows),
            schema_match=schema_match,
            rows_match=rows_match,
            hash_match=False,
        )
        if not schema_match:
            failures.append((name, f"cols differ: spark={scols} duck={ocols}"))
            print(f"[FAIL-cols] {name}: spark={scols} duck={ocols}")
            continue
        if not rows_match:
            failures.append((name, f"rowcount spark={len(srows)} duck={len(orows)}"))
            print(f"[FAIL-count] {name}: spark={len(srows)} duck={len(orows)}")
            continue
        s_c, o_c = canon(srows, scols), canon(orows, ocols)
        if s_c != o_c:
            diff = [(a, b) for a, b in zip(s_c, o_c) if a != b][:3]
            failures.append((name, f"values differ, first diffs: {diff}"))
            print(f"[FAIL-vals] {name}: first diffs {diff}")
            # rows/schema DID match — record a distinct values_match
            # signal instead of mislabeling this as a row-count mismatch
            report[name]["values_match"] = False
            continue
        s_x, o_x = canon_exact(srows, scols), canon_exact(orows, ocols)
        if s_x != o_x:
            diff = [(a, b) for a, b in zip(s_x, o_x) if a != b][:3]
            failures.append((name, f"BYTE-diff (values equal): {diff}"))
            print(f"[FAIL-hash] {name}: values equal but byte-differ {diff}")
            continue
        report[name]["hash_match"] = True
        print(f"[OK] {name}: {len(s_c)} rows (byte-exact)")
    print()
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {out_path} ({len(report)} queries)")
    if failures:
        print(f"{len(failures)} FAILURES:", [n for n, _ in failures])
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
