"""Streaming CHANGE-DATA-FEED source over an Iceberg Hadoop layout.

``sources/iceberg_stream.py`` tails the snapshot log as an append-only
stream; this module is the Iceberg twin of
``sources/delta_cdf_stream.py``: the streaming half of the change-feed
algebra in ``sources/log_tail.py``, whose batch half is
``iceberg_log.iceberg_read_changes``:

    register_iceberg_cdf_stream_source(spark)
    stream = (spark.readStream.format("iceberg_cdf_tail")
              .option("path", tbl).load())

- **Offsets are snapshot ids** (the ``iceberg_tail`` offsets); the
  version column is ``_snapshot_id`` (bigint).
- **Steps are the batch feed's**: both walk the log with
  ``iceberg_log._SnapshotRange.change_steps``, which diffs the live
  DATA-file sets and the POSITION-DELETE coverage.  Pure appends
  are masked by the current delete files; pure removals stream under
  the OLD delete set; a delete-coverage change puts the affected files
  on BOTH sides (old deletes vs new), so the step folds to one net-diff
  task.
- **Position deletes are applied in the per-file reader** (read the
  candidate delete parquets, match rows by the batch mask's key —
  scheme-stripped writer path == the data file's absolute path — and
  drop those row positions).  Delete files are log-scoped by the MoR
  contract, so the per-task delete-side read is metadata-sized.
- Boundaries, loud (each the batch feed's): equality-delete files in
  the range are refused (value-keyed coverage is not diffable here —
  read snapshots with ``read_iceberg_table``, which applies them),
  branched snapshot histories are refused, an expired checkpointed
  snapshot id fails with a fresh-checkpoint instruction, and migrated
  layouts (identity partition source columns absent from a data file)
  are refused by a footer probe — this reader cannot restore manifest
  partition tuples.

At scale the driver work per batch is a manifest walk per touched
snapshot (metadata-sized) plus the ``file_path`` columns of CHANGED
delete files; read work is the files each step touched — the feed
costs the day's churn, never the table (same shape measured for the
Delta twin, SCALE.md rule 63).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .iceberg_log import _SnapshotRange
from .iceberg_stream import IcebergTailStreamReader
from .log_tail import (
    ChangeStep,
    FileSpec,
    LogTailSource,
    cdf_schema,
    change_partitions,
)


def _cdf_schema(table_schema):
    from pyspark.sql.types import LongType, StructField

    return cdf_schema(
        table_schema, StructField("_snapshot_id", LongType(), False)
    )


class IcebergCdfTailStreamReader(IcebergTailStreamReader):
    format_name = "iceberg_cdf_tail"
    _role = "streaming change feed"

    @staticmethod
    def stream_schema(path: str):
        return _cdf_schema(IcebergTailStreamReader.stream_schema(path))

    def partitions(self, start: dict, end: dict) -> Sequence[ChangeStep]:
        log = _SnapshotRange(
            self._path, start.get("snapshot_id"), end.get("snapshot_id")
        )
        parts: list[ChangeStep] = []
        for snap_id, removed, added, old_dels, new_dels in log.change_steps(
            self._role
        ):
            parts += change_partitions(
                snap_id,
                [FileSpec(f, mask=tuple(sorted(old_dels))) for f in removed],
                [FileSpec(f, mask=tuple(sorted(new_dels))) for f in added],
            )
        return parts


class IcebergCdfTailDataSource(LogTailSource):
    """Iceberg Hadoop layout as a streaming CDF source
    (``iceberg_cdf_tail``)."""

    reader = IcebergCdfTailStreamReader


def register_iceberg_cdf_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(IcebergCdfTailDataSource)
