"""spark-submit job entries run in-process end-to-end: synth input,
SnapshotWriter output, row counts read from the manifest with
``SnapshotWriter.row_count``, idempotent re-commit and resume, and the
plan the K-feature assembly job's chooser takes."""

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


def test_build_features_job_resume_reports_committed_rows(spark, tmp_path, capsys):
    """A re-run with the same --snapshot-id is a no-op commit: it reports
    the rows the first run committed, read back from the manifest, and
    writes no new manifest file."""
    import os

    from jobs.build_features import main

    root = tmp_path / "bf"
    runs = []
    for _ in range(2):
        assert main(["--synth", "30", "--output", str(root),
                     "--snapshot-id", "s1"]) == 0
        out, err = capsys.readouterr()
        runs.append((json.loads(out.strip().splitlines()[-1])["rows"], err,
                     sorted(os.listdir(root / "_manifest"))))
    (rows1, err1, files1), (rows2, err2, files2) = runs
    assert "committed=True" in err1 and "committed=False" in err2
    assert rows2 == rows1 > 0
    assert files2 == files1


def test_write_parquet_nanosecond_frame_reads_in_spark(spark, tmp_path):
    """pandas arithmetic gives datetime64[ns]; write_parquet stores it in
    microseconds, which Spark reads (it refuses TIMESTAMP(NANOS)), and
    raises instead of truncating a sub-microsecond value."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        write_parquet,
    )

    base = pd.Timestamp("2026-01-01")
    pdf = pd.DataFrame({"k": [1, 2],
                        "ts": base + pd.to_timedelta(np.arange(2) * 7, unit="s")})
    assert pdf["ts"].dtype == "datetime64[ns]"
    path = str(tmp_path / "ns.parquet")
    write_parquet(pdf, path)
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, base.to_pydatetime()),
                   (2, (base + pd.Timedelta(seconds=7)).to_pydatetime())]
    with pytest.raises(pa.ArrowInvalid):
        write_parquet(pdf.assign(ts=pdf["ts"] + pd.Timedelta(nanoseconds=1)),
                      str(tmp_path / "sub_us.parquet"))


def _assemble_inputs(tmp_path, plan):
    """Job input that steers the chooser to ``plan``: the synthetic
    tables (log = a third of the turns) for single_pass; otherwise a
    probe four times the size of a 12-conversation log, plus, for routed,
    one conversation with sqrt(UNION_FLOOR) change points and half the
    probe: the rule's estimate b^2 x |probe| / sum(b) is about
    4 x UNION_FLOOR, so it names that conversation at local[4]. Returns the job's input arguments and the
    (probe, log) parquet paths."""
    import math

    import numpy as np
    import pandas as pd

    from amazon_security_lake_transformation_library_spark.operators.salted import (
        UNION_FLOOR,
    )

    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_feature_log, gen_transcripts, write_parquet,
    )

    if plan == "single_pass":
        pdf = gen_transcripts(n_convs=30, mean_turns=20)
        probe, log = pdf, gen_feature_log(pdf)
    else:
        base = pd.Timestamp("2026-01-01")
        n_hot = math.isqrt(UNION_FLOOR) if plan == "routed" else 0
        log = pd.DataFrame({
            "conv_id": [f"c{i % 12}" for i in range(120)] + ["hot"] * n_hot,
            "ts": list(base + pd.to_timedelta(np.arange(120) * 60, unit="s"))
            + list(base + pd.to_timedelta(np.arange(n_hot) * 7, unit="s")),
            "feature": [f"f{i % 4}" for i in range(120 + n_hot)],
            "value": np.arange(120 + n_hot, dtype="float64"),
        })
        n_probe = 4 * len(log) + 1
        probe = pd.DataFrame({
            "conv_id": [f"c{i % 12}" if i % 2 else "hot"
                        for i in range(n_probe)],
            "ts": base + pd.to_timedelta(np.arange(n_probe) * 3, unit="s"),
            "probe_id": np.arange(n_probe, dtype="int64"),
        })
    paths = (str(tmp_path / "probe.parquet"), str(tmp_path / "log.parquet"))
    write_parquet(probe, paths[0])
    write_parquet(log, paths[1])
    if plan == "single_pass":
        return ["--synth", "30"], paths
    return ["--input", paths[0], "--log", paths[1]], paths


@pytest.mark.parametrize("plan", ["single_pass", "intervals", "routed"])
def test_assemble_features_job_default_plan(spark, tmp_path, capsys, plan):
    """The job has no strategy option: on each input the chooser takes
    the expected plan, reports it, and commits as many rows as
    asof_join_skinny gives on the same input."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
    )
    from jobs.assemble_features import main

    job_args, (probe, log) = _assemble_inputs(tmp_path, plan)
    rc = main([*job_args, "--output", str(tmp_path / "af"),
               "--snapshot-id", "s1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["strategy"] == plan
    assert out["sources"] == ["f0", "f1", "f2", "f3"]
    want = asof_join_skinny(
        spark.read.parquet(probe), spark.read.parquet(log), out["sources"]
    ).count()
    assert out["rows"] == want > 0


def test_assemble_features_job_idempotent_recommit(spark, tmp_path, capsys):
    from jobs.assemble_features import main

    root = str(tmp_path / "af_idem")
    for _ in range(2):  # second commit with the same snapshot id is a no-op
        rc = main([
            "--synth", "25",
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


def test_jobs_remove_their_synth_directories(spark, tmp_path, monkeypatch, capsys):
    """Each job's --synth input directory is gone when the job returns,
    and also when it raises after writing it."""
    import tempfile

    from amazon_security_lake_transformation_library_spark.plans.writer import (
        SnapshotWriter,
    )
    from jobs import assemble_features, build_features, curate_corpus

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    assert build_features.main(["--synth", "10"]) == 0
    assert assemble_features.main(["--synth", "10"]) == 0
    assert curate_corpus.main(["--synth", "5", "--output", str(tmp_path / "cur"),
                               "--stop-after", "s1_exact"]) == 0
    capsys.readouterr()

    def fail(*a, **k):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(SnapshotWriter, "commit", fail)
    with pytest.raises(RuntimeError, match="commit failed"):
        build_features.main(["--synth", "10", "--output", str(tmp_path / "bf")])
    left = [p.name for p in scratch.iterdir()
            if p.name.startswith(("transcripts_", "assemble_", "curate_synth_"))]
    assert left == []
