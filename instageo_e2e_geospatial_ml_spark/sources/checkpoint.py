"""Iceberg-style checkpoint tables: partitioned Parquet + snapshot manifest.

No Iceberg runtime jar ships with this pyspark distribution (SURVEY.md
§7.0), so the checkpoint/lineage contract (north rule: "resumable from
checkpoint with per-partition lineage + metrics") is implemented at the
layout level:

    <root>/data/            partitioned Parquet (the table)
    <root>/manifests/       one Parquet per snapshot: per-partition row
                            counts + metric sums + snapshot id/ts
    <root>/_snapshots.json  append-only snapshot log

Idempotent append = left-anti join of the incoming batch against the
already-committed keys (the reference's 3-level file-existence resume,
data_pipeline.py:690-724,776-795, collapsed into one anti-join).
If an Iceberg jar appears, swap CheckpointTable for a real catalog behind
the same three methods.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointTable:
    def __init__(self, spark: SparkSession, root: str, key: str, partition_by: str | None = None):
        self.spark = spark
        self.root = root
        self.key = key
        self.partition_by = partition_by
        self.data_path = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "manifests")
        self.log_path = os.path.join(root, "_snapshots.json")

    # -- read ---------------------------------------------------------------

    def _log(self) -> list[dict]:
        if not os.path.exists(self.log_path):
            return []
        with open(self.log_path) as fh:
            return json.load(fh)

    def committed_snapshot_ids(self) -> list[str]:
        return [r["snapshot_id"] for r in self._log()]

    def exists(self) -> bool:
        return len(self._log()) > 0

    def read(self, as_of: str | None = None) -> DataFrame:
        """Committed rows only: a crash between the data write and the log
        write leaves a torn snapshot in data/ — rows whose _snapshot_id is
        not in the snapshot log are orphans and are filtered out (Iceberg
        semantics: a snapshot exists only once its metadata is committed).

        as_of: snapshot id for time travel — the table as of that commit
        (the append-only log gives snapshots a total order, so "as of" =
        every snapshot up to and including it)."""
        ids = self.committed_snapshot_ids()
        if as_of is not None:
            if as_of not in ids:
                raise KeyError(f"unknown snapshot {as_of!r}")
            ids = ids[: ids.index(as_of) + 1]
        return self.spark.read.parquet(self.data_path).filter(
            F.col("_snapshot_id").isin(ids)
        )

    def rollback(self, snapshot_id: str) -> None:
        """Metadata-only rollback (Iceberg semantics): truncate the
        snapshot log after `snapshot_id`. O(1) — no data rewrite; rows of
        discarded snapshots become orphans that read() filters out, and
        their keys become appendable again (filter_uncommitted consults
        the truncated log)."""
        log = self._log()
        ids = [r["snapshot_id"] for r in log]
        if snapshot_id not in ids:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        log = log[: ids.index(snapshot_id) + 1]
        tmp = self.log_path + f".rb_{snapshot_id}.tmp"
        with open(tmp, "w") as fh:
            json.dump(log, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self.log_path)

    def committed_keys(self) -> DataFrame | None:
        if not self.exists():
            return None
        return self.read().select(self.key).distinct()

    # -- write --------------------------------------------------------------

    def filter_uncommitted(self, df: DataFrame) -> DataFrame:
        """J8 resume anti-join: drop rows whose key is already committed."""
        keys = self.committed_keys()
        if keys is None:
            return df
        return df.join(F.broadcast(keys), self.key, "left_anti")

    def append(self, df: DataFrame, metrics_cols: list[str] | None = None) -> dict:
        """Idempotent append: anti-join on key, write data + per-partition
        lineage manifest, log the snapshot. Returns the snapshot record.
        A batch with no new rows commits nothing (no manifest, no log
        entry) and returns a record with snapshot_id None."""
        batch = self.filter_uncommitted(df)
        snapshot_id = uuid.uuid4().hex[:16]
        batch = batch.withColumn("_snapshot_id", F.lit(snapshot_id))
        writer = batch.write.mode("append")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(self.data_path)

        # the batch's own schema: an empty batch leaves a fresh table with
        # no data file to infer one from
        committed = (
            self.spark.read.schema(batch.schema)
            .parquet(self.data_path)
            .filter(F.col("_snapshot_id") == snapshot_id)
        )
        n_rows = committed.count()
        if n_rows == 0:
            return {"snapshot_id": None, "ts": time.time(), "n_rows": 0}

        # per-partition lineage + metrics from what was just committed
        group = [self.partition_by] if self.partition_by else []
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for m in metrics_cols or []:
            aggs.append(F.sum(m).alias(f"sum_{m}"))
        manifest = committed.groupBy(*group).agg(*aggs).withColumn(
            "snapshot_id", F.lit(snapshot_id)
        )
        manifest.coalesce(1).write.mode("append").parquet(
            os.path.join(self.manifest_path, snapshot_id)
        )

        rec = {"snapshot_id": snapshot_id, "ts": time.time(), "n_rows": n_rows}
        log = self._log()
        log.append(rec)
        os.makedirs(self.root, exist_ok=True)
        # atomic commit: the log IS the commit point, so it must never be
        # observable half-written — write to a temp file, fsync, rename
        tmp = self.log_path + f".{snapshot_id}.tmp"
        with open(tmp, "w") as fh:
            json.dump(log, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self.log_path)
        return rec

    def manifests(self) -> DataFrame:
        """Lineage rows for COMMITTED snapshots only. rollback() is
        metadata-only (it truncates _snapshots.json, leaving discarded
        snapshots' manifest files on disk), so this filters against the
        snapshot log the same way read() does — manifests(), read() and
        committed_snapshot_ids() stay mutually consistent after a
        rollback."""
        df = self.spark.read.parquet(os.path.join(self.manifest_path, "*"))
        return df.filter(F.col("snapshot_id").isin(self.committed_snapshot_ids()))
