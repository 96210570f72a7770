"""End-to-end transform pipeline: the reference's lambda_handler flow
(transformation_function/app.py:372-418) as one declarative Spark job.

    read lines -> (preprocess) -> parse -> mapping transform ->
    envelope (region/account/eventday) -> partitioned snapshot write
    + quarantine write (rejects persisted, fixing app.py:414-415)

Identity columns: the reference derives account/region from the Lambda ARN
(app.py:373-374); here they are job parameters stamped as literals.
Partition keys region/accountId/eventDay match the reference's output path
contract ``ext/{source}/region=.../accountId=.../eventDay=...``
(app.py:404).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import Source, SourceRegistry
from .writer import SnapshotWriter


@dataclass
class JobResult:
    mapped_rows: int
    reject_rows: int
    committed: bool


def transform_source(
    spark: SparkSession,
    source: Source,
    raw: DataFrame,
    parser: Callable[[DataFrame], DataFrame] | None = None,
    region: str = "us-east-1",
    account_id: str = "000000000000",
) -> tuple[DataFrame, DataFrame]:
    """raw lines (or pre-structured rows) -> (mapped, rejects) with the
    reference envelope columns."""
    df = raw
    if parser is not None:
        df = parser(df)
    if source.preprocessor is not None:
        df = source.preprocessor(df)
    res = source.compiler().transform(df)
    mapped = res.mapped.select(
        "*",
        F.lit(region).alias("region"),
        F.lit(account_id).alias("accountId"),
    ).withColumnRenamed("eventday", "eventDay")
    return mapped, res.rejects


def run_transform_job(
    spark: SparkSession,
    registry: SourceRegistry,
    inputs: dict[str, DataFrame],
    out_root: str,
    snapshot_id: str,
    parsers: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    region: str = "us-east-1",
    account_id: str = "000000000000",
) -> JobResult:
    """Run the whole micro-batch: one entry per source in ``inputs``
    (source name -> raw DataFrame). Each source writes under
    ``out_root/ext/<source>`` partitioned by (region, accountId, eventDay),
    rejects under ``out_root/quarantine/<source>`` — both snapshot-committed
    and idempotent on retry."""
    parsers = parsers or {}
    mapped_total = reject_total = 0
    committed_any = False
    for name, raw in inputs.items():
        source = registry.sources[name]
        # Single-pass metrics: the mapped/reject split is a disjoint cover
        # of the input, so observing (total input rows) upstream and
        # (mapped rows) on the written frame yields both counts from the
        # ONE write job — no rejects.count() pre-pass, no read-back
        # (the reference-analog Lambda counts per record for free,
        # app.py:376-390; here Observation rides the write).
        obs_in, obs_map = Observation(), Observation()
        raw_obs = raw.observe(obs_in, F.count(F.lit(1)).alias("n"))
        mapped, rejects = transform_source(
            spark, source, raw_obs, parsers.get(name), region, account_id
        )
        mapped = mapped.observe(obs_map, F.count(F.lit(1)).alias("n"))
        w = SnapshotWriter(os.path.join(out_root, "ext", name))
        committed = w.commit(
            mapped, snapshot_id, partition_cols=["region", "accountId", "eventDay"]
        )
        qw = SnapshotWriter(os.path.join(out_root, "quarantine", name))
        if committed:
            n_mapped = int(obs_map.get["n"])
            n_rej = int(obs_in.get["n"]) - n_mapped
            if n_rej:
                qw.commit(rejects, snapshot_id)
        else:  # resume no-op: counts from manifest lineage, not recompute
            n_mapped = w.row_count(snapshot_id)
            # A crash between the ext commit and the quarantine commit must
            # not lose rejects on retry: report n_rej from the quarantine
            # manifest when present, else recompute + commit them now.
            if snapshot_id in qw.committed_snapshots(spark):
                n_rej = qw.row_count(snapshot_id)
            else:
                n_rej = rejects.count()
                if n_rej:
                    qw.commit(rejects, snapshot_id)
        mapped_total += n_mapped
        reject_total += n_rej
        committed_any = committed_any or committed
    return JobResult(mapped_total, reject_total, committed_any)
