"""tools/bench_scaling.py, the scaling launcher: its strategy table builds
the frame each name promises, and a name outside the table is refused."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
sys.path.insert(0, TOOLS)

import bench_scaling as bs  # noqa: E402

from amazon_security_lake_transformation_library_spark.synth.transcripts import (  # noqa: E402
    gen_feature_log,
)

FLAGSHIP = ("fused", "fused_salted", "hybrid", "routed", "bucketed",
            "bucketed_cold", "bucketed_routed", "modular")


def test_unknown_strategy_is_refused_before_any_work(tmp_path):
    """A typo exits non-zero from argument parsing: no input is generated
    under TMPDIR and no JVM starts."""
    out = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "bench_scaling.py"),
         "--strategies", "fused,fusd"],
        capture_output=True, text=True, timeout=120,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
    )
    assert out.returncode != 0
    assert "unknown strategy fusd" in out.stderr
    assert "log4j" not in out.stderr
    assert os.listdir(tmp_path) == []


@pytest.fixture
def inputs(spark, transcripts_df, conv_features_df, transcripts_pdf, tmp_path):
    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    yield bs.Inputs(
        spark, transcripts_df, conv_features_df,
        spark.createDataFrame(gen_feature_log(transcripts_pdf)),
        str(tmp_path / "layout"), n_buckets=4,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
    for table in ("sc_t", "sc_cf"):
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _rows(inputs, name):
    df = bs.STRATEGIES[name](inputs)()
    rows = df.select(sorted(df.columns)).collect()
    return sorted(rows, key=lambda r: (r.conv_id, r.turn_idx))


def test_every_strategy_builds_its_frame(inputs):
    """The flagship forms agree row for row, the skinny router's two plans
    agree, and the curation pipeline builds one row per turn."""
    want = _rows(inputs, "fused")
    assert len(want) == inputs.t.count()
    for name in FLAGSHIP[1:]:
        assert _rows(inputs, name) == want, name

    assert _rows(inputs, "skinny_routed") == _rows(inputs, "skinny_intervals")
    assert len(_rows(inputs, "curation")) == len(want)
    assert set(bs.STRATEGIES) == {*FLAGSHIP, "skinny_intervals",
                                  "skinny_routed", "curation"}
