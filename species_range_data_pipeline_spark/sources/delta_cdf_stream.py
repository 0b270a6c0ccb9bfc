"""Streaming CHANGE-DATA-FEED source over a FOREIGN Delta log.

``sources/delta_stream.py`` tails a foreign ``_delta_log`` as an
append-only stream; production consumers also want the
readChangeFeed-shaped stream: every row-level insert and delete,
including the ones DML rewrites imply (VERDICT r17 next #7).  This
module is the streaming half of the change-feed algebra in
``sources/log_tail.py``; the batch half is ``delta_log.read_delta_changes``:

    register_delta_cdf_stream_source(spark)
    stream = (spark.readStream.format("delta_cdf_tail")
              .option("path", tbl).load())

- **Offsets are commit versions** (the ``delta_tail`` offsets); the
  version column is ``_commit_version`` (int).
- **Steps are the batch feed's**: both walk the log with
  ``delta_log.dv_step`` (the live (path, DV uid) diff of the snapshots
  around a version), so a deletion-vector rewrite surfaces exactly its
  newly masked rows.
  Metadata-only and ``dataChange=false`` (compaction) steps emit
  nothing and are skipped driver-side without replaying a snapshot.
- **Deletion vectors are applied in the per-file reader** (pure-Python
  ``dv.py`` decode + row-index mask — no Spark plan needed inside the
  data source worker).
- Boundaries, loud: column-mapped tables are refused (the batch feed
  resolves mapping; this per-file reader does not), a file holding
  columns the stream schema lacks is an out-of-spec rename/drop, and a
  vacuumed version inside the range raises rather than gapping.

At scale the driver work per batch is one log replay per data-changing
step, plus one before each run of them (log-sized); read work is the
files each step touched — the feed costs the day's churn, never the
table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .delta_log import _check_protocol, _replay, dv_step
from .delta_stream import DeltaTailStreamReader, _refuse_column_mapping
from .log_tail import (
    ChangeStep,
    FileSpec,
    LogTailSource,
    cdf_schema,
    change_partitions,
)

def _cdf_schema(table_schema):
    from pyspark.sql.types import IntegerType, StructField

    return cdf_schema(
        table_schema, StructField("_commit_version", IntegerType(), False)
    )


class DeltaCdfTailStreamReader(DeltaTailStreamReader):
    format_name = "delta_cdf_tail"
    _rename_drop = (
        "the stream schema; without column mapping only ADD COLUMN is"
        " legal evolution — rename/drop cannot be resolved here."
    )

    @staticmethod
    def stream_schema(path: str):
        return _cdf_schema(DeltaTailStreamReader.stream_schema(path))

    def _data_changed(self, v: int) -> bool:
        """Does version v's commit JSON carry any dataChange action?
        (Compaction and metadata-only commits net to zero by
        definition — skipped without replaying a snapshot.)"""
        actions = self._commit_actions(v, restart="from a readable version")
        for action in actions:
            if "protocol" in action:
                _check_protocol(action["protocol"], self._path)
            for kind in ("add", "remove"):
                if kind in action and action[kind].get("dataChange", True):
                    return True
        return False

    def _spec(self, snap: dict, rel: str) -> FileSpec:
        add = snap["live"][rel]
        pv = add.get("partitionValues") or {}
        dv = add.get("deletionVector")
        return FileSpec(
            os.path.join(self._path, rel),
            {c: pv.get(c) for c in snap["partition_cols"]},
            dv if dv and dv.get("storageType") else None,
        )

    def partitions(self, start: dict, end: dict) -> Sequence[ChangeStep]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[ChangeStep] = []
        after = None
        for v in range(lo + 1, hi + 1):
            if not self._data_changed(v):
                after = None  # snapshot cache no longer matches v
                continue
            before = after if after is not None else (
                _replay(self._path, version=v - 1)
                if v > 0
                else {"live": {}, "partition_cols": [], "configuration": {}}
            )
            after = _replay(self._path, version=v)
            _refuse_column_mapping(after.get("configuration"), self._path)
            removed, added = dv_step(before["live"], after["live"])
            parts += change_partitions(
                v,
                [self._spec(before, r) for r in removed],
                [self._spec(after, r) for r in added],
            )
        return parts


class DeltaCdfTailDataSource(LogTailSource):
    """Foreign Delta log as a streaming CDF source (``delta_cdf_tail``)."""

    reader = DeltaCdfTailStreamReader


def register_delta_cdf_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(DeltaCdfTailDataSource)
