"""Pin the physical plan of ``entry()`` and of every ``queries()`` entry.

Usage:
  python tools/dump_plans.py           rewrite PLANS.md
  python tools/dump_plans.py NAME ...  print the normalized plans of the
                                       named queries (``entry`` names the
                                       flagship)

PLANS.md holds one line per query, sorted by name: the number of
Exchange (shuffle), Sort, Window, BroadcastHashJoin, SortMergeJoin and
Python-eval nodes in its physical plan, then a short sha256 of its
normalized ``explain("formatted")`` text. Normalizing masks what a new
planning of the same code renumbers: expression ids, lambda variable
ids, RDD ids, plan ids and temp-dir paths. Plans are taken at sf0.001 in
a ``local[4]`` session with 8 shuffle partitions, the test session's
settings, so they do not depend on the host's core count.

A fresh process plans every query in the same order, so two runs write
the same file. One plan also depends on what ran before it in the
process: Spark's rewrite of several DISTINCT aggregates in one
aggregate (``column_profile_events``) orders its groups by a hash of
their expression ids. Its node counts are stable, but its sha256 can
change when a query planned before it in the same process starts
allocating a different number of expression ids.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from amazon_security_lake_transformation_library_spark import caching  # noqa: E402
from amazon_security_lake_transformation_library_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
COUNTED = ("Exchange", "Sort", "Window", "BroadcastHashJoin", "SortMergeJoin")
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

HEADER = """# PLANS — physical-plan fingerprints of `entry()` and every `queries()` entry

Generated by `python tools/dump_plans.py` (sf0.001, local[4], 8 shuffle
partitions); `tests/test_plans_pinned.py` requires a fresh run to match
this file. Columns count nodes of the physical plan (`Exchange` is a
shuffle; `Python` is any Python-eval node); `sha256` is the first 12 hex
digits of the normalized `explain("formatted")` text. To read a plan, run
`python tools/dump_plans.py NAME`.

| query | Exchange | Sort | Window | BroadcastHashJoin | SortMergeJoin | Python | sha256 |
|---|---|---|---|---|---|---|---|
"""

_TMP = "|".join(sorted({"/tmp", re.escape(tempfile.gettempdir())}))
_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(rf"(?:{_TMP})/[^\s,\]]*"), "<tmp>"),
)


def normalized_plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    text = df._jdf.queryExecution().explainString(mode.fromString("formatted"))
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return text.strip()


def fingerprint(plan: str) -> tuple[tuple[int, ...], str]:
    """Node counts (``COUNTED`` then Python-eval) and the short sha256."""
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    counts = tuple(nodes.count(n) for n in COUNTED)
    counts += (sum(1 for n in nodes if PYTHON_NODE.search(n)),)
    return counts, hashlib.sha256(plan.encode()).hexdigest()[:12]


def session():
    return get_spark("plans", master="local[4]", shuffle_partitions=8)


def plan_of(spark, name: str) -> str:
    """Build the named query, normalize its plan, and release whatever the
    query cached, so the next query plans as it would alone."""
    if name == "entry":
        df = entrymod.entry(spark)
    else:
        df = entrymod.queries()[name](spark, SF_DIR)
    try:
        return normalized_plan(df)
    finally:
        caching.release_all()


def render(spark) -> str:
    """The text of PLANS.md."""
    rows = []
    for name in ["entry", *sorted(entrymod.queries())]:
        counts, sha = fingerprint(plan_of(spark, name))
        rows.append(f"| {name} | {' | '.join(map(str, counts))} | {sha} |\n")
    return HEADER + "".join(rows)


def main() -> int:
    spark = session()
    if sys.argv[1:]:
        for name in sys.argv[1:]:
            print(f"## {name}\n\n{plan_of(spark, name)}\n")
        return 0
    text = render(spark)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(text)
    print(f"PLANS.md: {len(entrymod.queries()) + 1} plans")
    return 0


if __name__ == "__main__":
    sys.exit(main())
