"""Snapshot writer: partitioned parquet + manifest lineage, idempotent.

Replaces the reference's write path (wr.s3.to_parquet with uuid4 names,
transformation_function/app.py:404-411) which duplicates output when a
Lambda retries (SURVEY.md §4.1). Here every commit is keyed by a caller
snapshot id:

  * data lands under ``root/data/snapshot_id=<id>/<partition dirs>``
    (Hive layout; readers just read ``root/data``);
  * a retry of an uncommitted snapshot dynamically overwrites ONLY that
    snapshot's partitions (no duplicates);
  * a commit of an already-manifested snapshot is a no-op (resume);
  * the manifest (``root/_manifest``, itself parquet) records per-partition
    lineage: snapshot id, partition values, row count, write latency.

A commit runs exactly one Spark action, the data write; everything else
is driver-side file work, as Iceberg and Delta write commit metadata on
the driver. A small micro-batch commit would otherwise pay more for its
bookkeeping jobs than for its data:

  * the committed check reads the ``snapshot_id`` column of
    ``_manifest/`` with pyarrow (:func:`read_log`);
  * per-partition row counts are the ``num_rows`` sums of the parquet
    footers under ``data/snapshot_id=<id>/`` — the files just written;
  * each log row set (schema log, manifest) is one parquet file, written
    to a dot-prefixed temp name (which Spark and pyarrow readers skip)
    and renamed into place as ``part-<id>.parquet``, so a crash leaves
    the whole file or none of it;
  * the order is schema row, manifest row (the commit point), then the
    ``_schema_latest.json`` pointer.

The log files have the columns and types the Spark-appended logs had, so
tables written either way read, replay and accept commits alike.

Every metadata read is driver-side too, through :func:`read_log`: whether
a snapshot is committed, its row count, the snapshots visible as of a
time-travel cutoff, the schema as of that cutoff, and (in
``plans/maintenance.py``) the expired snapshots. Only ``manifest()`` and
``snapshots()`` build DataFrames, as the public views of the manifest.

This is the Iceberg-snapshot emulation per SURVEY.md §7.4 (no Iceberg jar
offline); the API is format-agnostic so an Iceberg catalog can slot in.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone, tzinfo
from urllib.parse import unquote
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

SNAPSHOT_COL = "snapshot_id"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def append_log(directory: str, stem: str, table: pa.Table) -> None:
    """Append ``table`` to the parquet log at ``directory`` as the single
    file ``part-<stem>.parquet``. It is written under a dot-prefixed temp
    name that every reader skips and then renamed into place, so a reader
    sees all of its rows or none. Statistics and the Arrow schema blob are
    left out: log files are read whole, and those bytes would make each
    small file larger than the rows it holds. The codec is zstd, the one
    the session writes data files in (``session._DEFAULTS``)."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{stem}.parquet.tmp")
    pq.write_table(table, tmp, store_schema=False, write_statistics=False,
                   compression="zstd")
    os.replace(tmp, os.path.join(directory, f"part-{stem}.parquet"))


def read_log(directory: str, schema: pa.Schema) -> pa.Table:
    """The parquet log at ``directory``, read on the driver as ``schema``.
    ``_``- and ``.``-prefixed files are skipped, as Spark skips them, so
    logs appended by Spark (``_SUCCESS``, ``.crc``) and by
    :func:`append_log` (temp files) read alike. An absent directory gives
    an empty table."""
    if not os.path.isdir(directory):
        return schema.empty_table()
    return pds.dataset(directory, format="parquet", schema=schema,
                       ignore_prefixes=["_", "."]).to_table()


def snapshot_partition_cols(snap_dir: str) -> tuple[str, ...]:
    """Inner (non-snapshot) partition columns of ONE snapshot, read from
    its ``col=value`` directory path — the per-snapshot ground truth
    partition evolution needs (the manifest schema is the UNION of every
    snapshot's columns). ``()`` for an unpartitioned or absent snapshot."""
    cols: list[str] = []
    d = snap_dir
    while os.path.isdir(d):
        subdirs = [e for e in os.listdir(d)
                   if "=" in e and os.path.isdir(os.path.join(d, e))]
        if not subdirs:
            break
        cols.append(subdirs[0].split("=", 1)[0])
        d = os.path.join(d, subdirs[0])
    return tuple(cols)


def _footer_counts(snap_dir: str) -> dict[tuple[str, ...], int]:
    """Rows per partition-directory value tuple under one snapshot,
    summed from parquet footers. Partitions holding no rows are absent,
    as they would be from a ``groupBy().count()`` over the files."""
    counts: dict[tuple[str, ...], int] = {}
    for d, dirs, files in os.walk(snap_dir):
        dirs[:] = [e for e in dirs if "=" in e]
        # skip what Spark's reader skips: _SUCCESS and .crc sidecars
        rows = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                   for f in files if not f.startswith(("_", ".")))
        if rows:
            rel = os.path.relpath(d, snap_dir)
            vals = () if rel == "." else tuple(
                seg.split("=", 1)[1] for seg in rel.split(os.sep))
            counts[vals] = counts.get(vals, 0) + rows
    return counts


def _zone(name: str) -> tzinfo:
    """``spark.sql.session.timeZone`` as a tzinfo: a region id, or a fixed
    offset such as ``+08:00``."""
    try:
        return ZoneInfo(name)
    except (ValueError, ZoneInfoNotFoundError):
        return datetime.strptime(name, "%z").tzinfo


def _partition_array(values: list[str | None], dtype: T.DataType,
                     session_tz: str) -> pa.Array:
    """Partition directory values typed as Spark's read-back types them:
    ``%XX`` escapes decoded, the Hive default partition as NULL, then cast
    to the column's type. Spark writes a TIMESTAMP value as session-zone
    wall time with no offset; it is localized with fold=0, which maps a
    wall time repeated by a DST change to its earlier instant, as Spark's
    cast does."""
    target = to_arrow_type(dtype)
    raw = [None if v is None or v == HIVE_NULL else unquote(v) for v in values]
    if not pa.types.is_timestamp(target):
        return pa.array(raw, pa.string()).cast(target)
    stamps = [None if v is None else datetime.fromisoformat(v) for v in raw]
    if target.tz is not None:
        zone = _zone(session_tz)
        stamps = [None if t is None
                  else t.replace(tzinfo=zone).astimezone(timezone.utc)
                  for t in stamps]
    return pa.array(stamps, target)


class SnapshotWriter:
    def __init__(self, root: str):
        self.root = root
        self.data_path = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "_manifest")
        self.schema_path = os.path.join(root, "_schema")

    # -- manifest -----------------------------------------------------------

    def snapshot_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.data_path, f"{SNAPSHOT_COL}={snapshot_id}")

    def _manifest_log(self) -> pa.Table:
        return read_log(self.manifest_path, pa.schema([
            (SNAPSHOT_COL, pa.string()), ("committed_at_unix", pa.float64()),
            ("row_count", pa.int64())]))

    def committed_snapshots(self, spark: SparkSession) -> set[str]:
        """Snapshot ids with a manifest row, read on the driver (no Spark
        job). ``spark`` is unused; it keeps the signature every caller
        uses."""
        return set(self.commit_times())

    def row_count(self, snapshot_id: str) -> int:
        """Rows committed by ``snapshot_id``: the sum of its manifest
        rows' ``row_count``, read on the driver. 0 for a zero-row or an
        uncommitted snapshot."""
        log = self._manifest_log()
        rows = log.filter(pc.equal(log[SNAPSHOT_COL], snapshot_id))["row_count"]
        return int(pc.sum(rows).as_py() or 0)

    def commit_times(self) -> dict[str, float]:
        """Snapshot id -> ``committed_at_unix`` for every committed
        snapshot, read on the driver. A commit stamps all of its manifest
        rows with one time."""
        log = self._manifest_log()
        return dict(zip(log[SNAPSHOT_COL].to_pylist(),
                        log["committed_at_unix"].to_pylist()))

    def manifest(self, spark: SparkSession) -> DataFrame | None:
        try:
            return spark.read.parquet(self.manifest_path)
        except Exception:
            return None

    # -- commit ---------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        snapshot_id: str,
        partition_cols: Sequence[str] = (),
        bucket_col: str | None = None,
        n_buckets: int = 0,
        sort_cols: Sequence[str] = (),
        allow_spec_evolution: bool = False,
    ) -> bool:
        """Write one snapshot. Returns False (no-op) if already committed.

        ``bucket_col``/``n_buckets``: repartition so each output file holds
        a contiguous hash-bucket of entities; with ``sort_cols`` this gives
        the conv_id-bucketed, (ts, turn_idx)-sorted layout the as-of join's
        merge phase wants, and single-writer-per-partition determinism for
        the text byte-equality invariant (SURVEY.md §7.4 risk 4).

        ``allow_spec_evolution=True`` permits a partition spec that
        differs from earlier snapshots' — Iceberg partition evolution:
        the NEW spec applies to new data only, old snapshots keep their
        directory layout, and ``read()``/``read_at()`` serve both
        (grouping snapshots by spec and unioning the grouped scans;
        partition pruning still applies within each spec's group).
        Without the flag a mismatched spec is rejected BEFORE writing,
        as before — accidental evolution is a bug, deliberate evolution
        is an opt-in.
        """
        spark = df.sparkSession
        if snapshot_id in self.committed_snapshots(spark):
            return False
        # One partition spec per table unless evolution is opted into:
        # the Hive directory layout cannot mix partition depths under one
        # discovery root, so evolved tables are read per-snapshot-group
        # (see _read_snapshots). Reject a mismatched spec BEFORE writing.
        existing = self._table_partition_cols()
        if (
            existing is not None
            and list(partition_cols) != existing
            and not allow_spec_evolution
        ):
            raise ValueError(
                f"table partition spec is {existing}; got {list(partition_cols)}"
                " (pass allow_spec_evolution=True for Iceberg-style"
                " partition evolution)"
            )

        out = df.withColumn(SNAPSHOT_COL, F.lit(snapshot_id))
        if bucket_col:
            out = out.repartition(n_buckets, F.col(bucket_col))
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)

        # The data write: the commit's only Spark job.
        t0 = time.monotonic()
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(SNAPSHOT_COL, *partition_cols)
            .parquet(self.data_path)
        )
        latency = time.monotonic() - t0
        # A zero-row snapshot on a fresh table writes no files; readers
        # still expect the data root.
        os.makedirs(self.data_path, exist_ok=True)
        committed_at = float(time.time())

        # Per-partition lineage from the footers of the files just written
        # (this snapshot's subtree only). A zero-row snapshot has no files
        # and no directory, yet still needs its manifest row — the manifest
        # IS the commit record; without it the snapshot never becomes a
        # replay no-op and committed_snapshots/read() never see it.
        snap_dir = self.snapshot_dir(snapshot_id)
        counts = _footer_counts(snap_dir) or {(None,) * len(partition_cols): 0}
        keys = sorted(counts)
        # partitionBy resolved the names case-insensitively; the manifest
        # columns take the frame's spelling, as the read-back's did
        by_name = {f.name.lower(): f for f in out.schema}
        session_tz = spark.conf.get("spark.sql.session.timeZone")
        columns = {SNAPSHOT_COL: pa.array([snapshot_id] * len(keys), pa.string())}
        for i, c in enumerate(partition_cols):
            field = by_name[c.lower()]
            columns[field.name] = _partition_array(
                [k[i] for k in keys], field.dataType, session_tz)
        columns["row_count"] = pa.array([counts[k] for k in keys], pa.int64())
        columns["write_latency_sec"] = pa.array([latency] * len(keys), pa.float64())
        columns["committed_at_unix"] = pa.array([committed_at] * len(keys), pa.float64())

        # schema-as-of-snapshot (Iceberg keeps schema in table metadata,
        # never by merging data-file footers): one row per commit with the
        # dataframe's schema JSON. read()/read_at() resolve the schema
        # from here in O(1) instead of option("mergeSchema") footer sweeps
        # — and time travel reads the OLD schema, matching VERSION AS OF.
        # Written BEFORE the manifest row: the manifest file's rename is
        # the commit point (Iceberg commits schema atomically with the
        # snapshot), so ordering schema-first guarantees every committed
        # snapshot has a schema entry. A crash after the schema row but
        # before the manifest row leaves only an orphan schema row for an
        # uncommitted (invisible) snapshot; the retry replaces that file
        # with an identical-schema row, so readers are unaffected.
        append_log(self.schema_path, snapshot_id, pa.table({
            SNAPSHOT_COL: pa.array([snapshot_id], pa.string()),
            "committed_at_unix": pa.array([committed_at], pa.float64()),
            "schema_json": pa.array([out.schema.json()], pa.string()),
        }))
        append_log(self.manifest_path, snapshot_id, pa.table(columns))
        # O(1) current-schema pointer: the streaming sink commits once per
        # micro-batch, so the append log grows unboundedly; read() must
        # not scan it all per call. Written last, so it always describes a
        # manifested commit; staleness after a crash mid-commit only means
        # the PREVIOUS schema is served, which is correct (the crashed
        # snapshot is invisible until its manifest row lands on retry).
        tmp = os.path.join(self.root, "_schema_latest.json.tmp")
        with open(tmp, "w") as f:
            f.write(out.schema.json())
        os.replace(tmp, os.path.join(self.root, "_schema_latest.json"))
        return True

    def _table_partition_cols(self) -> list[str] | None:
        """The table's inner partition columns, from the directory
        structure of any existing snapshot; None when no data exists yet
        (the first commit fixes the spec)."""
        if not os.path.isdir(self.data_path):
            return None
        for entry in sorted(os.listdir(self.data_path)):
            if entry.startswith(f"{SNAPSHOT_COL}="):
                return list(snapshot_partition_cols(os.path.join(self.data_path, entry)))
        return None

    def _schema_asof(self, cutoff: tuple | None = None):
        """Latest recorded schema (or latest at/before ``cutoff`` =
        (committed_at, snapshot_id)); None when no schema log exists
        (tables written before schema tracking — fall back to footer
        inference). The no-cutoff path reads the O(1) latest-pointer file;
        only time travel scans the append log."""
        if cutoff is None:
            latest = os.path.join(self.root, "_schema_latest.json")
            if os.path.exists(latest):
                with open(latest) as f:
                    return T.StructType.fromJson(json.loads(f.read()))
        log = read_log(self.schema_path, pa.schema([
            ("committed_at_unix", pa.float64()), (SNAPSHOT_COL, pa.string()),
            ("schema_json", pa.string())]))
        # (committed_at, snapshot_id, schema_json) in commit order
        rows = sorted(zip(*log.to_pydict().values()))
        if cutoff is not None:
            rows = [r for r in rows if (r[0], r[1]) <= cutoff]
        if not rows:
            return None
        return T.StructType.fromJson(json.loads(rows[-1][2]))

    def _restore_trashed_snapshots(self) -> list[str]:
        """Crash healing on the read path: a compact() that died between
        its two swap renames leaves ``_trash/<id>`` holding the ONLY copy
        of a committed snapshot while the manifest still lists it — serving
        the table then silently drops that snapshot's rows. Restore any
        such directory before reading (restore-only: completed-swap trash
        is left for maintenance.sweep_trash to reclaim). Returns the
        restored ids."""
        trash_root = os.path.join(self.root, "_trash")
        if not os.path.isdir(trash_root):
            return []
        restored = []
        for sid in sorted(os.listdir(trash_root)):
            snap_dir = self.snapshot_dir(sid)
            if not os.path.exists(snap_dir):
                os.rename(os.path.join(trash_root, sid), snap_dir)
                restored.append(sid)
        return restored

    def _read_snapshots(self, spark: SparkSession, ids, schema) -> DataFrame:
        """Scan exactly the given committed snapshots, grouping them by
        partition spec: each group is one listing-pruned multi-directory
        scan (partition pruning intact within the group); groups with
        different specs union by name. With one spec — every table that
        never evolved — this is a single scan, the pre-evolution plan."""
        # zero-row snapshots committed no files and have no directory —
        # they are manifest-only and contribute nothing to a scan
        ids = sorted(s for s in ids if os.path.isdir(self.snapshot_dir(s)))
        if not ids:
            if schema is not None:
                return spark.createDataFrame([], schema)
            return spark.read.parquet(self.data_path).filter(F.lit(False))
        groups: dict[tuple[str, ...], list[str]] = {}
        for sid in ids:
            spec = snapshot_partition_cols(self.snapshot_dir(sid))
            groups.setdefault(spec, []).append(sid)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        frames = []
        for _spec, sids in sorted(groups.items()):
            frames.append(reader.option("basePath", self.data_path).parquet(
                *[self.snapshot_dir(s) for s in sids]))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read(self, spark: SparkSession) -> DataFrame:
        """Read only manifested snapshots (half-written data is invisible —
        snapshot isolation for readers). Schema comes from the schema log
        (latest commit wins): columns added by later snapshots null-fill
        older files, with no mergeSchema footer sweep. Snapshots written
        under DIFFERENT partition specs (partition evolution) are scanned
        per spec group and unioned by name."""
        self._restore_trashed_snapshots()
        schema = self._schema_asof()
        return self._read_snapshots(spark, self.committed_snapshots(spark), schema)

    def snapshots(self, spark: SparkSession) -> DataFrame | None:
        """Snapshot log: (snapshot_id, committed_at_unix, n_rows) — the
        Iceberg snapshots-metadata-table analog."""
        mf = self.manifest(spark)
        if mf is None:
            return None
        return mf.groupBy(SNAPSHOT_COL).agg(
            F.min("committed_at_unix").alias("committed_at_unix"),
            F.sum("row_count").alias("n_rows"),
        )

    def read_at(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel: the table as of ``snapshot_id`` — every snapshot
        committed at or before it (Iceberg ``VERSION AS OF`` analog).
        Visibility is a strict prefix of the (committed_at, snapshot_id)
        total order — the id tie-break keeps two snapshots that land on the
        same commit timestamp from observing each other ("future" data).
        Raises KeyError for an unknown/uncommitted snapshot id."""
        self._restore_trashed_snapshots()
        times = self.commit_times()
        if snapshot_id not in times:
            raise KeyError(snapshot_id)
        cutoff = (times[snapshot_id], snapshot_id)
        visible = [s for s, t in times.items() if (t, s) <= cutoff]
        # time travel reads the schema AS OF that snapshot: a column added
        # later does not exist in the past (Iceberg VERSION AS OF)
        schema = self._schema_asof(cutoff=cutoff)
        return self._read_snapshots(spark, visible, schema)


def plan_increment(
    available_inputs: Sequence[str], writer: SnapshotWriter, spark: SparkSession
) -> list[str]:
    """Resume planner: inputs (snapshot ids / file batches) not yet in the
    manifest, in stable order."""
    done = writer.committed_snapshots(spark)
    return [s for s in available_inputs if s not in done]


def new_snapshot_id() -> str:
    return uuid.uuid4().hex[:16]
