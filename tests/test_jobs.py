"""spark-submit job entries run in-process end-to-end: synth input,
SnapshotWriter output, manifest-read row counts, idempotent re-commit,
and cross-strategy equality for the K-feature assembly job."""

from __future__ import annotations

import json

import pytest


def test_build_features_job_runs(spark, tmp_path, capsys):
    from jobs.build_features import main

    rc = main([
        "--synth", "30", "--output", str(tmp_path / "bf"), "--snapshot-id", "s1",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0 and out["turns_per_sec"] > 0


@pytest.mark.parametrize("strategy", ["single_pass", "intervals"])
def test_assemble_features_job_strategies_agree(spark, tmp_path, capsys, strategy):
    from jobs.assemble_features import main

    rc = main([
        "--synth", "30", "--strategy", strategy,
        "--output", str(tmp_path / f"af_{strategy}"), "--snapshot-id", "s1",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["strategy"] == strategy
    assert out["sources"] == ["f0", "f1", "f2", "f3"]
    assert out["rows"] > 0
    # strategies must agree on the row count for the same synth seed
    if not hasattr(test_assemble_features_job_strategies_agree, "_rows"):
        test_assemble_features_job_strategies_agree._rows = out["rows"]
    else:
        assert out["rows"] == test_assemble_features_job_strategies_agree._rows


def test_assemble_features_job_idempotent_recommit(spark, tmp_path, capsys):
    from jobs.assemble_features import main

    root = str(tmp_path / "af_idem")
    for _ in range(2):  # second commit with the same snapshot id is a no-op
        rc = main([
            "--synth", "25", "--strategy", "intervals",
            "--output", root, "--snapshot-id", "fixed-snap",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] > 0
    import duckdb

    n = duckdb.sql(
        f"SELECT count(DISTINCT snapshot_id) FROM "
        f"read_parquet('{root}/_manifest/part-*.parquet')"
    ).fetchone()[0]
    assert n == 1


def test_assemble_features_routed_strategy(spark, tmp_path, capsys):
    from jobs.assemble_features import main

    rc = main([
        "--synth", "30", "--strategy", "routed", "--hot-threshold", "5",
        "--output", str(tmp_path / "af_routed"), "--snapshot-id", "s1",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["strategy"] == "routed" and out["rows"] > 0


def _curate_fixture(spark, tmp_path):
    """Planted corpus: 60 good docs + 5 exact clones + 4 near-dups + 3
    eval-contaminated + 3 low-quality. Every plant is deterministic and
    stage-attributable."""
    import pandas as pd

    def good(i):
        # 12 tokens incl. 3 English stopwords: stop_score saturates ->
        # quality_bp 6750, above the gate's 6000 floor
        return (f"the w{i}a and w{i}b of w{i}c w{i}d w{i}e w{i}f "
                f"w{i}g w{i}h w{i}i")

    rows = [(i, good(i)) for i in range(60)]
    rows += [(100 + k, good(k)) for k in range(5)]             # exact dups
    # near dups: last token swapped -> 9 of 10 trigram shingles shared,
    # Jaccard 9/11 = 0.818 >= the 0.8 verify threshold
    rows += [(200 + k, good(10 + k).rsplit(" ", 1)[0] + " qqq")
             for k in range(4)]
    conta = [f"c{k}a c{k}b c{k}c c{k}d c{k}e c{k}f c{k}g c{k}h "
             f"c{k}i c{k}j c{k}k c{k}l" for k in range(3)]
    rows += [(300 + k, t) for k, t in enumerate(conta)]        # contaminated
    rows += [(400 + k, (f"z{k} " * 30).strip()) for k in range(3)]  # low-q
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    evals = pd.DataFrame(
        [(900 + k, t) for k, t in enumerate(conta)],
        columns=["doc_id", "text"],
    )
    dp, ep = str(tmp_path / "docs.parquet"), str(tmp_path / "eval.parquet")
    spark.createDataFrame(docs).write.parquet(dp)
    spark.createDataFrame(evals).write.parquet(ep)
    return dp, ep


def _read_stage_ids(spark, root, stage):
    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter

    import os as _os

    df = SnapshotWriter(_os.path.join(root, stage)).read(spark)
    return {r[0] for r in df.select("doc_id").collect()}


def test_curate_corpus_job_planted_stages(spark, tmp_path, capsys):
    """Each curation stage removes exactly its planted subset."""
    from jobs.curate_corpus import main

    dp, ep = _curate_fixture(spark, tmp_path)
    root = str(tmp_path / "curated")
    rc = main(["--input", dp, "--eval", ep, "--output", root,
               "--run-id", "r1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    s1 = _read_stage_ids(spark, root, "s1_exact")
    assert s1.isdisjoint(set(range(100, 105)))   # exact clones removed
    assert set(range(60)) <= s1                  # originals survive
    s2 = _read_stage_ids(spark, root, "s2_neardup")
    assert s2.isdisjoint(set(range(200, 204)))   # near-dups removed
    assert {10, 11, 12, 13} <= s2                # representatives kept
    s3 = _read_stage_ids(spark, root, "s3_decon")
    assert s3.isdisjoint({300, 301, 302})        # contaminated removed
    s4 = _read_stage_ids(spark, root, "s4_quality")
    assert s4.isdisjoint({400, 401, 402})        # low-quality removed
    assert s4 == set(range(60))                  # exactly the good docs
    assert out["stages"]["s5_pack"]["rows"] == 60

    # packing invariants: offsets are the per-shard running token sums
    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter
    import os as _os

    packed = SnapshotWriter(_os.path.join(root, "s5_pack")).read(spark).toPandas()
    for _, g in packed.groupby("shard"):
        g = g.sort_values("order_key").reset_index(drop=True)
        run = 0
        for _, r in g.iterrows():
            assert r["offset_tokens"] == run
            assert r["seq_id"] == run // 2048
            run += r["n_tokens"]


def test_curate_corpus_job_resume(spark, tmp_path, capsys):
    """Re-run with the same run id resumes every stage; a partial run
    (--stop-after) resumes mid-pipeline and completes the rest."""
    from jobs.curate_corpus import main

    dp, ep = _curate_fixture(spark, tmp_path)

    root = str(tmp_path / "cur_resume")
    args = ["--input", dp, "--eval", ep, "--output", root, "--run-id", "rr"]
    assert main(args + ["--stop-after", "s2_neardup"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["stages"]) == {"s1_exact", "s2_neardup"}

    assert main(args) == 0                       # completes the pipeline
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stages"]["s1_exact"]["resumed"] is True
    assert out["stages"]["s2_neardup"]["resumed"] is True
    assert out["stages"]["s4_quality"]["resumed"] is False

    assert main(args) == 0                       # full replay: all no-ops
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(s["resumed"] for n, s in out["stages"].items()
               if "skipped_no_eval" not in s)
    assert _read_stage_ids(spark, root, "s4_quality") == set(range(60))
