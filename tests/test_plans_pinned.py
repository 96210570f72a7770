"""PLANS.md pins the physical plan of `entry()` and of every `queries()`
entry as node counts plus a fingerprint of the normalized plan text
(tools/dump_plans.py)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
sys.path.insert(0, TOOLS)

import dump_plans as dp  # noqa: E402


def test_plans_md_matches_a_fresh_run(tmp_path):
    """A fresh process, so no other test's cached frames show up in its
    plans, regenerates PLANS.md byte for byte."""
    out = tmp_path / "PLANS.md"
    code = (f"import sys; sys.path.insert(0, {TOOLS!r}); import dump_plans as dp; "
            f"open({str(out)!r}, 'w').write(dp.render(dp.session()))")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                   capture_output=True, timeout=900)
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        committed = f.read().splitlines()
    assert out.read_text().splitlines() == committed


def test_fingerprints_repeat_within_a_session(spark):
    """Planning a query again renumbers its expression ids and lambda
    variables; the fingerprint does not move. Spark's rewrite of several
    DISTINCT aggregates orders its groups by a hash of their expression
    ids, so for `column_profile_events` only the node counts repeat."""
    for name in ("dq_checks_orders", "bm25_multi_docs", "ann_kmeans_centroids"):
        first = dp.fingerprint(dp.plan_of(spark, name))
        assert dp.fingerprint(dp.plan_of(spark, name)) == first, name
    counts, _ = dp.fingerprint(dp.plan_of(spark, "column_profile_events"))
    assert dp.fingerprint(dp.plan_of(spark, "column_profile_events"))[0] == counts
