"""End-to-end transform pipeline + snapshot writer: partition layout,
reject persistence, idempotent retry, resume planning.

The ALB tests build their registry in-test (a one-source config and a
minimal mapping); only the tests that read the reference's mapping files
skip when those are absent.
"""

import json
import os

import pytest

from amazon_security_lake_transformation_library_spark.plans.pipeline import run_transform_job
from amazon_security_lake_transformation_library_spark.plans.writer import (
    SnapshotWriter,
    plan_increment,
)
from amazon_security_lake_transformation_library_spark.sources.alb import parse_alb_lines
from amazon_security_lake_transformation_library_spark.sources.registry import SourceRegistry

from test_mapping_golden import ALB_LINE, MAPPINGS_DIR

needs_reference = pytest.mark.skipif(
    not os.path.isdir(MAPPINGS_DIR), reason="reference mapping configs unavailable"
)

# One aws-alb source routed on the line's ``type`` token: an https line
# maps, any other line is a no_mapping_for_value reject.
_ALB_CONFIG = {"sources": [{
    "name": "aws-alb",
    "mapping_file": "aws_alb.json",
    "input_paths": {"kinesis": {"enabled": True, "metadata_field": "source"}},
}]}
_ALB_MAPPING = {"custom_source_events": {
    "source_name": "aws-alb",
    "matched_field": "$.type",
    "timestamp": {"field": "$.time", "format": "%Y-%m-%dT%H:%M:%S.%fZ"},
    "ocsf_mapping": {"https": {
        "schema": "http_activity",
        "schema_mapping": {"activity_id": 1, "elb": "$.elb", "time": "$.time"},
    }},
}}


def _alb_registry():
    return SourceRegistry.from_config(
        _ALB_CONFIG, mappings={"aws_alb.json": _ALB_MAPPING}
    )


def _registry():
    return SourceRegistry.from_files(
        "/root/reference/transformation_function/sources_config.json", MAPPINGS_DIR
    )


def test_end_to_end_alb_job(spark, tmp_path):
    out = str(tmp_path / "lake")
    lines = [(ALB_LINE,), ("garbage line only",)]
    raw = spark.createDataFrame(lines, "value string")
    res = run_transform_job(
        spark,
        _alb_registry(),
        {"aws-alb": raw},
        out,
        snapshot_id="snap1",
        parsers={"aws-alb": parse_alb_lines},
        region="eu-west-1",
        account_id="123456789012",
    )
    assert res.mapped_rows == 1
    # garbage tokenizes to type='garbage' -> no mapping -> persisted reject
    assert res.reject_rows == 1

    w = SnapshotWriter(f"{out}/ext/aws-alb")
    data = w.read(spark).toPandas()
    assert data.loc[0, "region"] == "eu-west-1"
    assert data.loc[0, "eventDay"] == "20180702"
    # hive partition dirs on disk per the reference path contract
    snap_dir = f"{out}/ext/aws-alb/data/snapshot_id=snap1/region=eu-west-1"
    assert os.path.isdir(snap_dir), os.listdir(f"{out}/ext/aws-alb/data")
    q = SnapshotWriter(f"{out}/quarantine/aws-alb").read(spark).toPandas()
    assert q.loc[0, "reject_reason"] == "no_mapping_for_value"


def test_idempotent_retry_and_resume(spark, tmp_path):
    out = str(tmp_path / "lake2")
    raw = spark.createDataFrame([(ALB_LINE,)], "value string")
    reg = _alb_registry()
    kw = dict(parsers={"aws-alb": parse_alb_lines})
    r1 = run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapA", **kw)
    r2 = run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapA", **kw)  # retry
    assert r1.committed and not r2.committed
    w = SnapshotWriter(f"{out}/ext/aws-alb")
    assert w.read(spark).count() == 1  # no duplicates after retry

    run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapB", **kw)
    assert w.read(spark).count() == 2
    assert plan_increment(["snapA", "snapB", "snapC"], w, spark) == ["snapC"]

    # manifest lineage rows exist with counts
    m = w.manifest(spark).toPandas()
    assert set(m["snapshot_id"]) == {"snapA", "snapB"}
    assert (m["row_count"] == 1).all()


def test_partial_write_invisible_then_overwritten(spark, tmp_path):
    """A crash between data write and manifest commit leaves the snapshot
    invisible to readers; the re-run overwrites it without duplicates."""
    out = str(tmp_path / "lake3")
    raw = parse_alb_lines(spark.createDataFrame([(ALB_LINE,)], "value string"))
    reg = _alb_registry()
    mapped = reg.sources["aws-alb"].compiler().transform(raw).mapped

    w = SnapshotWriter(f"{out}/t")
    # simulate the partial write: data only, no manifest
    from pyspark.sql import functions as F

    mapped.withColumn("snapshot_id", F.lit("snapX")).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("snapshot_id").parquet(w.data_path)
    assert w.read(spark).count() == 0  # invisible: not manifested

    assert w.commit(mapped, "snapX", partition_cols=[]) is True
    assert w.read(spark).count() == 1  # exactly once after recovery


@needs_reference
def test_end_to_end_nfw_job(spark, tmp_path):
    import json as _json
    from amazon_security_lake_transformation_library_spark.sources.nfw import parse_nfw_lines
    from test_mapping_golden import NFW_EVENT

    out = str(tmp_path / "lake_nfw")
    lines = [(_json.dumps(NFW_EVENT),), ("this is not json at all {",)]
    raw = spark.createDataFrame(lines, "value string")
    res = run_transform_job(
        spark,
        _registry(),
        {"aws-nfw": raw},
        out,
        snapshot_id="snapN",
        parsers={"aws-nfw": parse_nfw_lines},
    )
    assert res.mapped_rows == 1
    assert res.reject_rows == 1  # corrupt JSON line -> persisted reject
    data = SnapshotWriter(f"{out}/ext/aws-nfw").read(spark).toPandas()
    # epoch event_timestamp parsed in UTC (reference bug #3 fixed)
    assert data.loc[0, "eventDay"] == data.loc[0, "eventDay"].strip()
    assert len(data.loc[0, "eventDay"]) == 8


@needs_reference
def test_end_to_end_sysmon_job(spark, tmp_path):
    from amazon_security_lake_transformation_library_spark.sources.sysmon import preprocess_sysmon
    from test_mapping_golden import SYSMON_DESC, SYSMON_SCHEMA

    out = str(tmp_path / "lake_sysmon")
    rows = [
        ("1", "i-1234example56789", SYSMON_DESC),
        ("22", "i-1234example56789", SYSMON_DESC),  # unmapped EventId
    ]
    raw = spark.createDataFrame(rows, SYSMON_SCHEMA)
    res = run_transform_job(
        spark,
        _registry(),
        {"windows-sysmon": raw},
        out,
        snapshot_id="snapS",
        parsers={"windows-sysmon": preprocess_sysmon},
    )
    assert res.mapped_rows == 1
    assert res.reject_rows == 1  # EventId 22 has no mapping -> quarantined
    q = SnapshotWriter(f"{out}/quarantine/windows-sysmon").read(spark).toPandas()
    assert q.loc[0, "reject_reason"] == "no_mapping_for_value"


@needs_reference
def test_gzip_file_ingest_with_path_routing(spark, tmp_path):
    """A2+A5: real .log.gz files on disk, routed to their source by the
    registry's path-glob matcher, read via the gzip-codec line reader,
    then the full job."""
    import gzip

    from amazon_security_lake_transformation_library_spark.sources.lines import read_lines

    reg = _registry()
    in_dir = tmp_path / "landing" / "some" / "prefix"
    in_dir.mkdir(parents=True)
    gz = in_dir / "batch1.log.gz"
    with gzip.open(gz, "wt") as f:
        f.write(ALB_LINE + "\n")
        f.write(ALB_LINE + "\n")

    # path routing: the reference's configured (bucket, prefix-glob) pair
    # must claim this key (sources_config.json:19-23)
    alb_bucket = "ocsf-transform-infrastructure-s3-staging-log-bucket"
    assert reg.detect_s3_key(alb_bucket, "alb-logs/batch1.log.gz") == "aws-alb"
    assert reg.detect_s3_key(alb_bucket, "other/key.json") is None
    assert reg.detect_s3_key("wrong-bucket", "alb-logs/batch1.log.gz") is None

    raw = read_lines(spark, str(gz))
    assert raw.count() == 2

    out = str(tmp_path / "lake_gz")
    res = run_transform_job(
        spark, reg, {"aws-alb": raw}, out, snapshot_id="snapG",
        parsers={"aws-alb": parse_alb_lines},
    )
    assert res.mapped_rows == 2 and res.reject_rows == 0


def test_read_lines_glob_semantics(spark, tmp_path):
    """r5: the pathGlobFilter rewrite (which silences the benign
    FileStreamSink WARN stack on glob paths) must be semantics-
    preserving. Three literal-glob behaviors it may not change:
    file-globs read the same set, DIRECTORY-matching globs read the
    files under each matching dir (pathGlobFilter tests leaf file names
    only, so the rewrite must detect this case and fall back), and a
    glob matching nothing still raises instead of yielding empty."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from amazon_security_lake_transformation_library_spark.sources.lines import read_lines

    root = tmp_path / "logs"
    for d, n in (("day=20240101", 2), ("day=20240102", 3)):
        (root / d).mkdir(parents=True)
        (root / d / "part.log").write_text("x\n" * n)
    (root / "day=20240101" / "extra.txt").write_text("y\n")

    # file glob: rewrite path, same file set as the literal read
    assert read_lines(spark, f"{root}/day=20240101/*.log").count() == 2
    # directory-matching glob: must read files UNDER the matched dirs
    assert read_lines(spark, f"{root}/day=2024*").count() == 6
    # non-matching glob: the original "Path does not exist" error
    with pytest.raises(AnalysisException):
        read_lines(spark, f"{root}/day=2099*").count()


def test_resume_recovers_lost_quarantine(spark, tmp_path):
    """Crash after the ext commit but before the quarantine commit: the
    retry must re-commit the rejects and report their count (not 0)."""
    import shutil

    out = str(tmp_path / "lake4")
    raw = spark.createDataFrame(
        [(ALB_LINE,), ("garbage line only",)], "value string"
    )
    reg = _alb_registry()
    kw = dict(parsers={"aws-alb": parse_alb_lines})
    r1 = run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapA", **kw)
    assert r1.reject_rows == 1
    # simulate the crash window: ext commit landed, quarantine never did
    shutil.rmtree(f"{out}/quarantine/aws-alb")
    r2 = run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapA", **kw)
    assert not r2.committed
    assert r2.reject_rows == 1  # recomputed + recommitted, not pinned to 0
    assert SnapshotWriter(f"{out}/quarantine/aws-alb").read(spark).count() == 1
    # plain resume with quarantine intact: count comes from its manifest
    r3 = run_transform_job(spark, reg, {"aws-alb": raw}, out, "snapA", **kw)
    assert r3.reject_rows == 1
    assert SnapshotWriter(f"{out}/quarantine/aws-alb").read(spark).count() == 1
