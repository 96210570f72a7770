"""Empty-input robustness sweep: run EVERY ``__spark_entry__.queries()``
entry against schema-identical but ZERO-ROW copies of the test tables.

A production pipeline sees empty partitions constantly (a quiet hour, a
new tenant, a filter that matches nothing); an operator that throws on
empty input is a paging incident. Contract checked here: every query
must PLAN and EXECUTE on empty tables — returning zero rows or a
well-defined aggregate row (global aggs legitimately emit one row of
NULLs/zeros) — and must not raise.

Usage: python tools/check_empty.py [base_sf_dir]
Writes EMPTYCHECK.json {name: {"ok": bool, "rows": n, "err": str|None}}.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from amazon_security_lake_transformation_library_spark.session import get_spark  # noqa: E402


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("empty-check", master="local[8]")
    tmp = tempfile.mkdtemp(prefix="sf_empty_")
    for path in glob.glob(f"{base}/*.parquet"):
        df = spark.read.parquet(path)
        df.limit(0).write.mode("overwrite").parquet(
            os.path.join(tmp, os.path.basename(path)))

    # fixture-keyed oracles read $SPARK_GRAFT_ORACLE_SF; irrelevant here
    # (we never run oracles) but some queries branch on it for fixture
    # paths — keep the default.
    results: dict[str, dict] = {}
    failures = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, tmp)
            n = df.count()
            results[name] = {"ok": True, "rows": n, "err": None}
            print(f"ok    {name}: {n} rows")
        except Exception as e:  # noqa: BLE001
            msg = f"{type(e).__name__}: {str(e)[:300]}"
            results[name] = {"ok": False, "rows": None, "err": msg}
            failures.append(name)
            print(f"FAIL  {name}: {msg}")

    out = os.environ.get("SPARK_GRAFT_EMPTY_JSON", os.path.join(ROOT, "EMPTYCHECK.json"))
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\n{len(results) - len(failures)}/{len(results)} queries "
          f"survive empty input -> {out}")
    if failures:
        print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
