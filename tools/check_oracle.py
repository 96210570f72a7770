"""Local stand-in for the driver's differential gate: run every
``__spark_entry__.queries()`` entry and compare against
``oracle_sql()`` via DuckDB — row count, column names, and
order-insensitive value equality (floats compared exactly after the
query-side rounding contract; both sides stringified identically).
Each ``ok``/``FAIL`` line reports the Spark time (build + collect) and
the DuckDB oracle time separately, so a slow oracle shows in a normal run.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
Each query argument is an exact name or a shell-style pattern, e.g.
``'asof_join_events*'`` runs the whole as-of family.
Env: SPARK_GRAFT_ORACLE_JSON=<path> additionally writes a
driver-CORRECTNESS-format JSON artifact ({name: {rows_match,
schema_match, hash_match, spark_rows, oracle_rows, err}}) covering
EVERY checked entry — including the ones past the driver gate's
50-entry cap.
"""

from __future__ import annotations

import fnmatch
import glob
import os
import re
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from amazon_security_lake_transformation_library_spark import caching  # noqa: E402
from amazon_security_lake_transformation_library_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            v = 0.0
        return repr(v)
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]

    # The fixture-backed oracles (flagship transcripts, BPE, lang-ID, …)
    # key their precomputed expected tables on $SPARK_GRAFT_ORACLE_SF
    # (default 0.01, the driver gate's scale). When this harness runs at a
    # DIFFERENT sf_dir the two sides silently disagree on input size —
    # derive the override from sf_dir unless the caller pinned it.
    if "SPARK_GRAFT_ORACLE_SF" not in os.environ:
        m = re.search(r"sf([0-9.]+)/?$", sf_dir)
        if m:
            os.environ["SPARK_GRAFT_ORACLE_SF"] = m.group(1)

    con = duckdb.connect()
    for path in glob.glob(f"{sf_dir}/*.parquet"):
        t = os.path.basename(path).removesuffix(".parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    spark = get_spark("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    records: dict[str, dict] = {}

    def record(name, rows_match, schema_match, hash_match,
               spark_rows, oracle_rows, err=None):
        records[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            spark_s = time.time() - t0
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record(name, False, False, False, 0, 0,
                   f"spark {type(e).__name__}: {e}")
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        finally:
            # drop the query's persisted intermediates (LSH buckets, IVF
            # assignments, ...), as bench.py does after each cell, so the
            # next query neither reads them nor times their eviction
            caching.release_all()
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(rows)} rows, "
                  f"spark {spark_s:.1f}s)")
            record(name, len(rows) > 0, True, None, len(rows), None)
            if len(rows) == 0:
                failures.append(name)
                print(f"FAIL  {name}: zero rows")
            continue
        t1 = time.time()
        try:
            rel = con.sql(oracles[name])
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
            oracle_s = time.time() - t1
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record(name, False, False, False, len(rows), 0,
                   f"duckdb {type(e).__name__}: {e}")
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount spark={len(rows)} duck={len(orows)}")
        if sorted(c.lower() for c in cols) != sorted(ocols):
            problems.append(f"cols spark={sorted(cols)} duck={sorted(ocols)}")
        if not problems:
            s1 = frame_sig([c.lower() for c in cols], rows)
            s2 = frame_sig(ocols, orows)
            if s1 != s2:
                ndiff = sum(1 for a, b in zip(s1, s2) if a != b)
                problems.append(f"values differ ({ndiff}/{len(s1)} rows)")
                for a, b in list(zip(s1, s2))[:2000]:
                    if a != b:
                        problems.append(f"  spark: {a}")
                        problems.append(f"  duck : {b}")
                        break
        record(
            name,
            len(rows) == len(orows),
            sorted(c.lower() for c in cols) == sorted(ocols),
            not problems,
            len(rows),
            len(orows),
            "; ".join(problems) or None,
        )
        times = f"spark {spark_s:.1f}s, oracle {oracle_s:.1f}s"
        if problems:
            failures.append(name)
            print(f"FAIL  {name} ({times}): " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(rows)} rows match ({times})")
    print()
    out_json = os.environ.get("SPARK_GRAFT_ORACLE_JSON")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(records, fh, indent=1)
        print(f"wrote {out_json} ({len(records)} entries)")
    if failures:
        print("FAILURES:", ", ".join(failures))
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
